"""Operator tests: sessionization, top-k, similarity search."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_ingestion_din_spark.operators.sessionize import (
    assign_groups,
    sessionize_by_gap,
)
from data_ingestion_din_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_bucket,
)
from data_ingestion_din_spark.operators.topk import topk


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


def test_sessionize_by_gap(spark):
    rows = [
        (1, _ts(0)), (1, _ts(10)), (1, _ts(50)), (1, _ts(55)),  # 2 sessions
        (2, _ts(0)),                                            # 1 session
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = sessionize_by_gap(df, ["user_id"], "ts", gap="30 minutes")
    got = {
        (r.user_id, r.ts.minute): r.session_seq for r in out.collect()
    }
    assert got[(1, 0)] == 1 and got[(1, 10)] == 1
    assert got[(1, 50)] == 2 and got[(1, 55)] == 2
    assert got[(2, 0)] == 1


def test_assign_groups_break_on_value_change(spark):
    # W4/W6-style: new group when the section label changes.
    rows = [(1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, "A")]
    df = spark.createDataFrame(rows, ["doc", "pos", "section"])
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc").orderBy("pos")
    df = df.withColumn("prev", F.lag("section").over(w))
    out = assign_groups(
        df, ["doc"], [F.col("pos")], F.col("section") != F.col("prev")
    )
    assert [r.group_id for r in out.orderBy("pos").collect()] == [1, 1, 2, 3]


def test_topk(spark):
    df = spark.createDataFrame(
        [(g, i, float(v)) for g, i, v in
         [(1, 1, 5), (1, 2, 9), (1, 3, 9), (2, 4, 1), (2, 5, 3)]],
        ["g", "id", "v"],
    )
    top = topk(df, [F.desc("v"), F.asc("id")], 2).collect()
    assert [(r.g, r.id) for r in top] == [(1, 2), (1, 3)]


def _emb_df(spark):
    import math

    rows = []
    for i in range(20):
        angle = i * math.pi / 40
        rows.append((i, i % 2, [math.cos(angle), math.sin(angle), 0.0]))
    return spark.createDataFrame(rows, ["vec_id", "label", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_brute_force_topk_orders_by_angle(spark):
    emb = _emb_df(spark)
    q = F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))
    got = [r.vec_id for r in brute_force_topk(emb, q, k=3).collect()]
    assert got == [0, 1, 2]  # smallest angles first


def test_ivf_topk_prunes_partition(spark):
    emb = _emb_df(spark)
    q = F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))
    got = [r.vec_id for r in ivf_topk(emb, q, "label", 1, k=3).collect()]
    assert got == [1, 3, 5]  # odd ids only (label==1), by angle


def test_lsh_bucket_deterministic(spark):
    emb = _emb_df(spark)
    b1 = {r.vec_id: r.bucket for r in lsh_bucket(emb).collect()}
    b2 = {r.vec_id: r.bucket for r in lsh_bucket(emb).collect()}
    assert b1 == b2  # deterministic planes
    # sub-64-dim vectors must still project through the literal plane
    # coefficients (null-safe pad), not degenerate into one bucket
    assert len(set(b1.values())) > 1
    assert all(b is not None for b in b1.values())


def test_operators_tolerate_empty_input(spark):
    """Zero-row inputs must produce zero-row outputs, not errors —
    the empty-partition / empty-micro-batch case every operator hits
    at scale."""
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.operators import dedup as D
    from data_ingestion_din_spark.operators.curation import (
        repetition_signals,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert D.exact_dedup(empty_docs).count() == 0
    assert D.simhash(empty_docs, 64).count() == 0
    assert D.minhash_banded_pairs(empty_docs).count() == 0
    assert repetition_signals(empty_docs).count() == 0
    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert D.connected_components(empty_pairs).count() == 0


def test_lsh_bucket_raises_on_oversized_vectors(spark):
    import pytest

    from data_ingestion_din_spark.operators.similarity import lsh_bucket

    emb = spark.createDataFrame(
        [(0, [0.5] * 80)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="projection width"):
        lsh_bucket(emb, n_planes=2, dims=64).collect()
    # shorter-than-dims vectors still pad cleanly
    short = spark.createDataFrame(
        [(0, [0.5] * 8)], "vec_id long, embedding array<float>"
    )
    assert lsh_bucket(short, n_planes=2, dims=64).count() == 1


def test_hilbert_chain_reference_values(spark):
    """The 8-step xy2d column chain reproduces the classical Hilbert
    indices (n=256): corners and an interior point, reference values
    from the textbook iterative algorithm."""
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.events_ext import (
        _HB_STEPS,
        _hb_step_sql,
    )

    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 255, 0), (3, 0, 255), (4, 255, 255), (5, 100, 120)],
        "event_id bigint, ub bigint, tb bigint",
    )
    hb = pts.select(
        "event_id",
        F.col("ub").alias("hx"),
        F.col("tb").alias("hy"),
        F.lit(0).cast("bigint").alias("hd"),
    )
    for s in _HB_STEPS:
        x_new, y_new, d_new = _hb_step_sql(s)
        hb = hb.select(
            "event_id",
            F.expr(x_new).cast("bigint").alias("hx"),
            F.expr(y_new).cast("bigint").alias("hy"),
            F.expr(d_new).cast("bigint").alias("hd"),
        )
    got = {int(r.event_id): int(r.hd) for r in hb.collect()}
    assert got == {1: 0, 2: 65535, 3: 21845, 4: 43690, 5: 11216}
