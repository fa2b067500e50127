"""Similarity search over embedding columns: exact top-k + partitioned ANN.

Replaces the reference's Chroma kNN (backend/services/vector_store.py:263-341,
O3) with DataFrame-native search:

- ``brute_force_topk`` — broadcast the query vector, score every row with a
  JVM-side cosine expression, TakeOrdered top-k. Exact; the correctness
  baseline. At 100 TB this is one narrow scan + a cheap global top-k (no
  wide shuffle — Spark's sort-limit pushes partial top-k into each task).
- ``ivf_topk`` — IVF-style coarse partition pruning: restrict the scan to
  the query's partition (fixture ``label`` column stands in for a learned
  centroid assignment). At scale the partition column is the Parquet/Delta
  partition key, so pruning happens at the file-listing level — the scan
  never reads non-candidate partitions.
- ``lsh_bucket`` — random-hyperplane signatures for LSH bucketing; planes
  are derived deterministically from md5 so both engines (and reruns)
  agree. Bucket-join candidates → exact re-rank.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.vectors import (
    EMBED_DIMS,
    cosine,
    cosine_exact,
)


def _h64_py(s: str) -> int:
    """Driver-side twin of functions.hashing.h64: first 15 md5 hex chars
    as a BIGINT. Used to precompute LSH plane coefficients once instead of
    per row (the coefficients depend only on (seed, plane, dim) — the
    oracle SQL still re-derives them from md5 independently, so parity
    proves this precomputation is faithful)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _plane_coefs(seed: str, b: int, dims: int) -> list[int]:
    """Integer coefficients of hyperplane ``b``: (h64('{seed}:{b}:{i}')
    % 2001) − 1000 ∈ [−1000, 1000] for each dim i."""
    return [(_h64_py(f"{seed}:{b}:{i}") % 2001) - 1000 for i in range(dims)]


def int_array_lit(vals: list[int]) -> Column:
    """BIGINT array literal built as ONE parsed SQL expression —
    ``F.lit(list)`` issues a py4j call per element (a 1,536-element
    nested literal cost 3.5 s of driver time to build)."""
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def int_matrix_lit(rows: list[list[int]]) -> Column:
    """2-D BIGINT array literal, same single-expression construction."""
    inner = ",".join(
        "array(" + ",".join(f"{v}L" for v in r) + ")" for r in rows
    )
    return F.expr(f"array({inner})")


def double_array_lit(vals: list[float]) -> Column:
    """DOUBLE array literal via one parsed expression; ``repr`` of a
    Python float round-trips to the identical double."""
    return F.expr(
        "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"
    )


def _score(emb: DataFrame, qvec: Column, exact: bool) -> DataFrame:
    fn = cosine_exact if exact else cosine
    return emb.withColumn("cos_sim", fn(F.col("embedding"), qvec))


def brute_force_topk(
    emb: DataFrame, qvec: Column, k: int = 10, exact: bool = True
) -> DataFrame:
    """Exact cosine top-k against a literal/broadcast query vector.
    Ordering includes vec_id so ties are deterministic."""
    return (
        _score(emb, qvec, exact)
        .select("vec_id", "label", "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk(
    emb: DataFrame,
    qvec: Column,
    partition_col: str,
    partition_value,
    k: int = 10,
    exact: bool = True,
) -> DataFrame:
    """Coarse-quantization ANN: scan only the query's coarse partition.
    The filter sits directly on the scan → partition pruning at scale."""
    pruned = emb.filter(F.col(partition_col) == F.lit(partition_value))
    return brute_force_topk(pruned, qvec, k, exact)


def lsh_bucket(
    emb: DataFrame,
    n_planes: int = 8,
    seed: str = "lsh",
    exact: bool = False,
    dims: int = EMBED_DIMS,
) -> DataFrame:
    """Random-hyperplane LSH signature: bit b = sign(e · plane_b) where
    plane_b[d] = (h64(seed:b:d) mod 2001 − 1000)/1000 ∈ [−1, 1] — fully
    deterministic pseudo-random planes, reproducible in SQL.

    The plane coefficients are md5-derived from constants only, so they
    are precomputed driver-side and shipped as literal arrays — each
    projection is then ``dims`` multiply-adds per row instead of ``dims``
    per-row md5 calls (measured 12.6 s → ~1 s for the 16-plane near-dup
    query at sf0.1).

    ``exact=True`` computes each projection in quantized-integer
    arithmetic (floor(x·1e6) · integer coefficient — |sum| < 2^43, exact
    BIGINT): double summation order can differ across engines and flip a
    near-zero sign, integer summation cannot. Use for oracle-checked
    plans; the double path is the production default.

    ``dims`` is a pad bound only: vectors shorter than ``dims`` project
    as if zero-padded (the coalesce below), while a vector LONGER than
    ``dims`` RAISES at execution — silently excluding trailing
    dimensions from every projection would degrade discrimination with
    no visible symptom. The guard is one ``size()`` comparison per row
    folded into the bucket expression (no extra pass/action). Spark's
    array-length metadata does not exist at schema level, so ``dims``
    defaults to the corpus constant ``EMBED_DIMS``
    (functions/vectors.py) — change it there, not here.
    Returns input columns + bucket:int."""
    bits = []
    for b in range(n_planes):
        coefs = _plane_coefs(seed, b, dims)
        # coalesce(…, 0): when the vector has fewer than ``dims`` elements
        # zip_with pads with NULL — trailing plane coefficients must
        # contribute 0, not nullify the projection (``dims`` is an upper
        # bound; 64-dim production vectors never hit the pad path).
        if exact:
            proj = F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    int_array_lit(coefs),
                    lambda x, c: F.coalesce(
                        F.floor(x.cast("double") * 1_000_000).cast("bigint")
                        * c,
                        F.lit(0).cast("bigint"),
                    ),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
        else:
            proj = F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    double_array_lit([c / 1000.0 for c in coefs]),
                    lambda x, c: F.coalesce(x * c, F.lit(0.0)),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        bits.append(F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
    bucket = bits[0]
    for t in bits[1:]:
        bucket = bucket + t
    guarded = F.when(
        F.size(F.col("embedding")) > dims,
        F.raise_error(
            F.format_string(
                "lsh_bucket: embedding has %s dims > projection width "
                + str(dims)
                + " — raise `dims` (EMBED_DIMS) to the corpus "
                "dimensionality",
                F.size(F.col("embedding")).cast("string"),
            )
        ).cast("int"),
    ).otherwise(bucket.cast("int"))
    return emb.withColumn("bucket", guarded)


def assign_to_centroids(qv_df: DataFrame, cents: list[list[int]]) -> DataFrame:
    """Assign quantized vectors (vec_id, qv) to the nearest centroid of a
    FROZEN k×dims integer centroid matrix (argmin of integer squared
    distance, lowest cluster wins ties). The matrix ships as a literal —
    bounded at k·dims regardless of corpus size — so assignment is a
    narrow per-row expression: no shuffle, no join. This is both the
    k-means E-step and the IVF routing step for appended vectors."""
    m = int_matrix_lit(cents)
    dist = F.transform(
        m,
        lambda c: F.aggregate(
            F.zip_with(F.col("qv"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ),
    )
    return qv_df.select("vec_id", "qv", dist.alias("_d")).select(
        "vec_id",
        "qv",
        F.array_position(F.col("_d"), F.array_min(F.col("_d")))
        .cast("int")
        .alias("cluster"),
    )


def kmeans_train(
    emb: DataFrame, k: int = 8, iters: int = 2
) -> tuple[DataFrame, list[list[int]]]:
    """Lloyd's k-means over quantized-integer vectors, exact enough to
    hash-check: assignments use integer squared distances (no float
    order sensitivity), centroids are TRUNCATED integer per-dimension
    means (DuckDB ``//`` semantics, mirrored driver-side), seeds are the
    ``k`` lowest-vec_id vectors — every step deterministic in both
    engines, so the oracle unrolls the same ``iters`` iterations in SQL
    and the final assignment is bit-compared (the IVF training loop
    under the same gate as everything else).

    Physical shape per iteration: the k×dims centroid matrix is tiny, so
    it is collected and re-broadcast as a LITERAL (the standard
    k-means-on-Spark shape — MLlib does the same); assignment is then a
    narrow argmin expression over the staged quantized vectors, and the
    M-step is one (cluster, dim) shuffle of integer partial sums.
    Driver traffic per iteration = k·dims ints — iteration control, not
    data movement.

    Returns ``(assignment, centroids)`` where ``centroids`` is the matrix
    the returned assignment was computed against (after ``iters - 1``
    M-steps) — i.e. the frozen coarse quantizer an IVF index would serve
    and route appends with."""
    from data_ingestion_din_spark.functions.vectors import quantize

    return kmeans_train_qv(
        emb.select("vec_id", quantize(F.col("embedding")).alias("qv")),
        k=k,
        iters=iters,
    )


def kmeans_train_qv(
    qv_df: DataFrame,
    k: int = 8,
    iters: int = 2,
    base_staged: bool = False,
    seed_cents: list[list[int]] | None = None,
) -> tuple[DataFrame, list[list[int]]]:
    """:func:`kmeans_train` over an ALREADY-QUANTIZED ``(vec_id, qv)``
    relation — the loop factored out so retrain paths that hold their
    vectors as integer state (the streaming IVF cell split reads an
    oversized cell's members back from the assignment state) reuse the
    exact gated training instead of round-tripping through floats.

    ``base_staged=True`` promises ``qv_df`` is already materialized
    (checkpointed) narrow ``(vec_id, qv)`` data, and ``seed_cents``
    supplies the ``k`` lowest-vec_id seed vectors the default path
    would collect — callers training several capacities over ONE
    staged base (the nlist sweep) share the checkpoint and a single
    max-k seed collect instead of paying both per capacity. Both
    shortcuts are exact: the training they skip is byte-identical."""
    base = qv_df if base_staged else qv_df.localCheckpoint(eager=True)
    cents = (
        [list(c) for c in seed_cents]
        if seed_cents is not None
        else [
            list(r.qv) for r in base.orderBy("vec_id").limit(k).collect()
        ]
    )
    if len(cents) < k:
        raise ValueError(
            f"kmeans_assign: need at least k={k} vectors, got {len(cents)}"
        )
    # dims from the already-collected seeds — no extra driver action
    dims = len(cents[0])

    def tdiv(s: int, n: int) -> int:  # truncating div (DuckDB `//`)
        return s // n if (s >= 0) == (n >= 0) or s % n == 0 else s // n + 1

    assigned, used = None, cents
    for it in range(iters):
        used = cents
        # argmin, lowest cluster wins ties (array_position = first match)
        assigned = assign_to_centroids(base, cents)
        if it == iters - 1:
            # the final M-step's centroids would be discarded (the
            # returned quantizer is the matrix this assignment used) —
            # skipping it drops a full posexplode shuffle + collect
            break
        sums = (
            assigned.select(
                "cluster", F.posexplode("qv").alias("dim", "v")
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {c: [0] * dims for c in range(1, k + 1)}
        seen = set()
        for r in sums:
            new[r.cluster][r.dim] = tdiv(int(r.s), int(r.n))
            seen.add(r.cluster)
        # empty cluster: keep its previous centroid (deterministic)
        cents = [
            new[c] if c in seen else cents[c - 1] for c in range(1, k + 1)
        ]
    return assigned.select("vec_id", "cluster"), used


def kmeans_assign(emb: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Final k-means assignment only — see :func:`kmeans_train`."""
    return kmeans_train(emb, k, iters)[0]


def pq_assign(
    emb: DataFrame, n_sub: int = 4, k: int = 4, iters: int = 1
) -> tuple[DataFrame, list[list[list[int]]]]:
    """Product quantization (Jégou et al. 2011) code assignment: split
    each quantized vector into ``n_sub`` equal subvectors, train a
    ``k``-code codebook per subspace with the same integer-exact Lloyd
    machinery as :func:`kmeans_assign` (seeds = the ``k`` lowest-vec_id
    rows' subvectors, truncated-integer centroid means, argmin with
    lowest-code tie-break), and return

    - a DataFrame ``(vec_id, m, code)`` — one row per (vector, subspace),
    - the trained codebooks ``cb[m][code] = centroid ints`` for building
      ADC (asymmetric distance computation) lookup tables driver-side.

    Every step is deterministic in integer arithmetic, so the oracle SQL
    can unroll the identical training and the CODES themselves sit under
    the hash gate. Physical shape per iteration: codebooks are
    n_sub·k·(dims/n_sub) ints — collected and re-broadcast as literals
    (iteration control, not data); assignment is a narrow argmin
    expression; the M-step is one (m, code, dim) integer-partial shuffle.
    """
    from data_ingestion_din_spark.functions.vectors import quantize

    return pq_assign_qv(
        emb.select("vec_id", quantize(F.col("embedding")).alias("qv")),
        n_sub=n_sub,
        k=k,
        iters=iters,
    )


def pq_assign_qv(
    qv_df: DataFrame, n_sub: int = 4, k: int = 4, iters: int = 1
) -> tuple[DataFrame, list[list[list[int]]]]:
    """:func:`pq_assign` over ALREADY-QUANTIZED integer vectors
    ``(vec_id, qv)`` — the entry point residual encoding needs (the
    residual ``qv − centroid(cell)`` is integer by construction, so
    re-quantizing would be wrong)."""
    base = qv_df.select("vec_id", "qv").localCheckpoint(eager=True)
    seed_rows = base.orderBy("vec_id").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(
            f"pq_assign: need at least k={k} vectors, got {len(seed_rows)}"
        )
    dims = len(seed_rows[0].qv)
    if dims % n_sub != 0:
        raise ValueError(
            f"pq_assign: dims={dims} not divisible by n_sub={n_sub}"
        )
    d_sub = dims // n_sub
    # cb[m][code] = subvector slice of the code-th lowest-vec_id row
    cb = [
        [list(r.qv)[m * d_sub : (m + 1) * d_sub] for r in seed_rows]
        for m in range(n_sub)
    ]
    sub = base.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_sub - 1}), "
                f"m -> struct(m AS m, slice(qv, m * {d_sub} + 1, {d_sub})"
                " AS sv))"
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.m").alias("m"), F.col("x.sv").alias("sv"))

    def _cb_lit(cbm: list[list[list[int]]]) -> Column:
        return F.expr(
            "array("
            + ",".join(
                "array("
                + ",".join(
                    "array(" + ",".join(f"{v}L" for v in c) + ")"
                    for c in codes
                )
                + ")"
                for codes in cbm
            )
            + ")"
        )

    def _assign(cbm: list[list[list[int]]]) -> DataFrame:
        dists = F.transform(
            F.element_at(_cb_lit(cbm), F.col("m") + 1),
            lambda c: F.aggregate(
                F.zip_with(F.col("sv"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ),
        )
        staged = sub.select("vec_id", "m", "sv", dists.alias("_d"))
        return staged.select(
            "vec_id",
            "m",
            "sv",
            F.array_position(F.col("_d"), F.array_min(F.col("_d")))
            .cast("int")
            .alias("code"),
        )

    def tdiv(s: int, n: int) -> int:  # truncating div (DuckDB `//`)
        return s // n if (s >= 0) == (n >= 0) or s % n == 0 else s // n + 1

    assigned = None
    for _ in range(iters):
        assigned = _assign(cb)
        sums = (
            assigned.select("m", "code", F.posexplode("sv").alias("dim", "v"))
            .groupBy("m", "code", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {
            (m, c): [0] * d_sub
            for m in range(n_sub)
            for c in range(1, k + 1)
        }
        seen = set()
        for r in sums:
            new[(r.m, r.code)][r.dim] = tdiv(int(r.s), int(r.n))
            seen.add((r.m, r.code))
        # empty code: keep its previous centroid (deterministic)
        cb = [
            [
                new[(m, c)] if (m, c) in seen else cb[m][c - 1]
                for c in range(1, k + 1)
            ]
            for m in range(n_sub)
        ]
        assigned = _assign(cb)
    return assigned.select("vec_id", "m", "code"), cb


def pq_encode_qv(
    qv_df: DataFrame, cb: list[list[list[int]]]
) -> DataFrame:
    """Encode quantized vectors against a FROZEN PQ codebook: split each
    ``(vec_id, qv)`` row into subvectors and argmin each against
    ``cb[m]`` (integer squared distance, lowest code wins ties) — the
    index-maintenance twin of :func:`assign_to_centroids` for the PQ
    half of an IVFPQ index. The codebook ships as a literal (bounded at
    n_sub·k·d_sub ints), so encoding is a narrow per-row expression:
    no shuffle, no join, no retraining. Returns (vec_id, m, code)."""
    n_sub = len(cb)
    d_sub = len(cb[0][0])
    sub = qv_df.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_sub - 1}), "
                f"m -> struct(m AS m, slice(qv, m * {d_sub} + 1, {d_sub})"
                " AS sv))"
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.m").alias("m"), F.col("x.sv").alias("sv"))
    cb_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(f"{v}L" for v in c) + ")" for c in codes
            )
            + ")"
            for codes in cb
        )
        + ")"
    )
    dists = F.transform(
        F.element_at(cb_lit, F.col("m") + 1),
        lambda c: F.aggregate(
            F.zip_with(F.col("sv"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ),
    )
    return sub.select("vec_id", "m", dists.alias("_d")).select(
        "vec_id",
        "m",
        F.array_position(F.col("_d"), F.array_min(F.col("_d")))
        .cast("int")
        .alias("code"),
    )
