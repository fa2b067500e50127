"""Run one benchmark workload in this process and write its result file.

Invoked by ``run.py`` as ``python3 perfbench/workload.py <workload> <seed>
<seconds> <trace 0|1> <work_dir> <result_json> <trace_json>`` with the
checkout root on ``PYTHONPATH`` and ``work_dir`` as the current directory. Every workload is
a closed loop with one client: the next operation starts when the previous
one has returned. See ``perfbench/DESIGN.md`` for why each workload exists
and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import Tracer, read_event_log

WORKLOADS = ("ingest", "serve")

# The reference's ingestion dataflow, in pipeline order.
INGEST_QUERIES = (
    "doc_sanitize_normalize",
    "doc_classification",
    "doc_enrichment",
    "blocks_sections",
    "tables_clean_shape",
    "doc_semantic_chunks",
    "dedup_exact",
    "dedup_minhash_groups",
    "pipeline_e2e",
)
SERVE_QUERY = "ask_pipeline"

# Input sizes. Serve uses the fixtures' sf0.1 counts. An ingest batch has
# 3,000 documents, below sf0.1's 5,000, so that a run (set-up and one pass)
# fits the time an evaluation of the benchmark may take on a contended
# 4-core host. The ingest warm-up batch is the sf0.01 size: a cold pass
# costs about the same at any size, and its rows are what the oracle check
# compares.
INGEST_ROWS = {"documents": 3000, "embeddings": 2000}
INGEST_WARM_ROWS = {"documents": 500, "embeddings": 500}
SERVE_ROWS = {"documents": 5000, "embeddings": 2000}
# The streaming layer is measured on landings at the end of a traced ingest
# run: each file holds LANDING_DOCS documents, REUPLOAD_DOCS of them re-sent.
LANDINGS = 3
LANDING_DOCS = 500
REUPLOAD_DOCS = 100

# Set-ups per run (session start + one warm-up operation); setup_s is
# their median. One ingest set-up (a cold pass of nine queries) takes about
# as long as the rest of the run, so ingest sets up once.
SETUP_REPS = {"ingest": 1, "serve": 3}
# A serve set-up sends several requests: request latency keeps falling for
# the first dozen requests of a JVM (JIT compilation), and the timed
# requests should come after that.
SERVE_WARM_REQUESTS = 3

# The gated metrics are CPU time (see session_cpu_s). Wall time, even less
# the CPU the hypervisor stole (see clock()), moved by up to 1.6x between
# runs of unchanged code on a shared host, more than any bound a benchmark
# can hold; traced runs report it under ``wall.``, ungated.
LOOP_METRICS = ("op_cpu_ms", "query_geomean_cpu_ms", "wall.op_ms")
E2E_METRICS = {
    "op_cpu_ms": "ms",
    "query_geomean_cpu_ms": "ms",
    "setup_s": "s",
    "memory_mb": "MB",
}
# Every traced run emits all of these; a layer the workload does not
# exercise reads 0.
_PLAN_QUERIES = INGEST_QUERIES + (SERVE_QUERY,)
LAYER_METRICS = {
    "session.start_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_calls": "count",
    "sources.text_blocks_s": "s",
    "sources.table_blocks_s": "s",
    **{f"plans.build_s.{q}": "s" for q in _PLAN_QUERIES},
    **{f"plans.exec_s.{q}": "s" for q in _PLAN_QUERIES},
    **{f"plans.jobs.{q}": "count" for q in _PLAN_QUERIES},
    **{f"plans.crit_stage_s.{q}": "s" for q in INGEST_QUERIES},
    **{f"plans.crit_stage_tasks.{q}": "count" for q in INGEST_QUERIES},
    **{f"plans.crit_task_skew.{q}": "ratio" for q in INGEST_QUERIES},
    "operators.blocks_s": "s",
    "operators.chunking_s": "s",
    "operators.dedup_s": "s",
    "operators.dedup_kept_ratio": "ratio",
    "operators.similarity_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.new_rows_ratio": "ratio",
    "streaming.merge_s": "s",
    "wall.op_ms": "ms",
    "wall.query_geomean_ms": "ms",
    "memory.peak_rss_mb": "MB",
    "wall.setup_s": "s",
    **{f"trace.overhead.{m}": "ratio" for m in LOOP_METRICS},
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


_T0 = time.perf_counter()
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        head, _, tail = f.read().rpartition(")")
    return head.partition("(")[2], tail.split()


def _session_procs():
    """``(pid, stat fields)`` of every process in this session: this Python
    process, its JVM, and PySpark's worker daemon with the Python workers it
    forks (the daemon moves into a process group of its own, but stays in
    the session). ``run.py`` starts each run in a session of its own."""
    sid = os.getsid(0)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            _, fields = _stat(f"/proc/{pid}/stat")
        except OSError:  # the process ended meanwhile
            continue
        if int(fields[3]) == sid:
            yield pid, fields


def session_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    every process in this session, less the JVM's JIT compiler threads.
    Compilation is the JVM warming up, not the work: the set-up pays most
    of it, and what it spends later varies from run to run."""
    ticks = 0
    for pid, fields in _session_procs():
        ticks += sum(int(x) for x in fields[11:15])
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    ticks -= int(t[11]) + int(t[12])
        except OSError:
            continue
    return ticks / _TICK


def session_hwm_mb() -> dict[str, float]:
    """Peak resident size (VmHWM) in MB of every process in this session,
    by ``pid:name``."""
    out = {}
    for pid, _ in _session_procs():
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f)
            out[f"{pid}:{status['Name'].strip()}"] = int(status["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError):
            continue
    return out


_NCPU = os.cpu_count() or 1


def clock() -> tuple[float, float]:
    """``(wall, cpu)`` seconds. ``wall`` is the wall clock less the CPU
    time the hypervisor has stolen so far, per CPU (the ``steal`` column of
    /proc/stat): an interval's ``wall`` difference is the time it would
    have taken had nothing been stolen, to first order. ``cpu`` is
    :func:`session_cpu_s`."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / _TICK / _NCPU
    return time.perf_counter() - steal, session_cpu_s()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Bench:
    """State of one workload run: session, inputs, counters and spans."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        # PERFBENCH_SCALE (validated by run.py) shrinks every input for the
        # benchmark's own smoke tests.
        self.scale = float(os.environ.get("PERFBENCH_SCALE", "1"))
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.trace = trace
        # Spans are recorded only in the traced loop (see measure()).
        self.tracer = Tracer(False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.session_starts: list[float] = []
        self.peak_mb = 0.0
        self.peaks: dict[str, float] = {}  # by pid:name

    # ------------------------------------------------------------ helpers
    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def rows(self, rows: dict[str, int]) -> dict[str, int]:
        return {t: self.n(n) for t, n in rows.items()}

    def n(self, count: int) -> int:
        return max(1, round(count * self.scale))

    def sub_seed(self, *words: int) -> int:
        return int(np.random.SeedSequence([self.seed, *words]).generate_state(1)[0])

    def start_session(self) -> float:
        from data_ingestion_din_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.tracer.bind(self.spark)
        return time.perf_counter() - t0

    def attempt(self, fn, *args):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return True, fn(*args)
        except Exception:
            self.failed += 1
            _log(f"operation failed:\n{traceback.format_exc()}")
            return False, None

    def check(self, ok: bool, what: str) -> None:
        """Count one output check; a mismatch counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            _log(f"output mismatch: {what}")

    def closed_loop(self, op, prepare, first: int) -> list[tuple]:
        """Call ``op(i)`` for ``i = first, first + 1, ...`` back to back
        until the operations themselves have taken ``seconds``;
        ``prepare(i)`` runs untimed before each one. Returns ``(wall
        seconds, CPU seconds, op's result)`` for each operation that
        succeeded (see :func:`clock`)."""
        done, spent, i = [], 0.0, first
        while spent < self.seconds:
            if prepare:
                prepare(i)
            t0, c0 = clock()
            ok, out = self.attempt(op, i)
            t1, c1 = clock()
            self.sample_memory()
            spent += t1 - t0
            if ok:
                done.append((t1 - t0, c1 - c0, out))
            i += 1
        return done

    def measure(self, op, prepare=None) -> dict[str, list]:
        """The timed region: one closed loop untraced and, in a traced run,
        a second one with tracing on. Tracing is switched on between the
        two by restarting the session with Spark's event log enabled
        (launch-time configuration of the new SparkContext) and recording
        spans, whose jobs run in a job group per span."""
        loops = {"untraced": self.closed_loop(op, prepare, 0)}
        if self.trace:
            jvm_system = self.spark.sparkContext._jvm.java.lang.System
            for key, value in (
                ("spark.eventLog.enabled", "true"),
                ("spark.eventLog.dir", "file://" + self.path("eventlog")),
                ("spark.eventLog.compress", "false"),
            ):
                jvm_system.setProperty(key, value)
            self.start_session()
            self.tracer.enabled = True
            loops["traced"] = self.closed_loop(op, prepare, 1000)
        return loops

    def setup(self, warm) -> tuple[float, float]:
        """Set up ``SETUP_REPS`` times (session start + the workload's
        warm-up operation ``warm(rep)``); return the median CPU and wall
        seconds of one set-up."""
        cpu, wall = [], []
        for rep in range(SETUP_REPS[self.workload]):
            t0, c0 = clock()
            self.session_starts.append(self.start_session())
            warm(rep)
            t1, c1 = clock()
            self.sample_memory()
            wall.append(t1 - t0)
            cpu.append(c1 - c0)
        _log(f"set-up CPU s {[round(c, 2) for c in cpu]}, wall s {[round(t, 2) for t in wall]}")
        return statistics.median(cpu), statistics.median(wall)

    def run_query(self, name: str, sf_dir: str, sink: str, op: str):
        """Build one registered query, then force it: ``noop`` writes it to
        the noop sink, ``collect`` returns its rows as pandas."""
        from data_ingestion_din_spark.plans import QUERIES

        with self.tracer.span(f"build.{name}", op=op):
            df = QUERIES[name](self.spark, sf_dir)
        with self.tracer.span(f"exec.{name}", op=op):
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
                return None
            return df.toPandas()

    def oracle_check(self, sf_dir: str, name: str, spark_pdf) -> None:
        import duckdb

        from data_ingestion_din_spark.plans import ORACLES
        from scripts.verify_local import compare

        con = duckdb.connect()
        try:
            for f in os.listdir(sf_dir):
                if f.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')"
                    )
            problems = compare(name, spark_pdf, con.execute(ORACLES[name]).fetchdf())
        finally:
            con.close()
        self.check(not problems, f"{name}: {'; '.join(problems)}")

    def sample_memory(self) -> None:
        """Keep the largest sum of :func:`session_hwm_mb` seen, and each
        process's peak: workers that a session restart ends take their
        peak with them."""
        now = session_hwm_mb()
        self.peak_mb = max(self.peak_mb, sum(now.values()))
        for p, mb in now.items():
            self.peaks[p] = max(self.peaks.get(p, 0.0), mb)

    def memory_mb(self) -> tuple[float, dict]:
        """The memory the program holds, in parts that do not depend on
        when the JVM's collector chose to grow the heap or on how many
        Python workers task timing happened to start: the JVM heap still
        in use after a full collection at the end of the run (caches,
        memos, broadcasts the session keeps), plus the peak resident size
        of this driver process, plus the largest peak resident size of
        one of PySpark's Python processes (the worker daemon or a worker).
        Call it before the session stops."""
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # A collection lets Spark's ContextCleaner drop the shuffles and
        # broadcast blocks nothing refers to any more, on a thread of its
        # own; collect again until the heap stops shrinking.
        retained = float("inf")
        for _ in range(10):
            jvm.java.lang.System.gc()
            used = heap.getHeapMemoryUsage().getUsed() / 2**20
            if used > retained - 1.0:
                break
            retained = used
            time.sleep(0.5)
        me = f"{os.getpid()}:"
        parts = {
            "jvm_retained_heap": min(retained, used),
            "driver_python_peak": max(v for p, v in self.peaks.items() if p.startswith(me)),
            "python_worker_peak": max(
                [v for p, v in self.peaks.items()
                 if p.split(":")[1].startswith("python") and not p.startswith(me)] or [0.0]
            ),
        }
        return sum(parts.values()), parts

    # ---------------------------------------------------- plan-layer record
    def plan_layers(self, queries) -> None:
        """Median build/exec seconds and job count per query over the timed
        operations (spans whose op starts with ``t``)."""
        for q in queries:
            for kind, key in (("build", "build_s"), ("exec", "exec_s")):
                spans = [s for s in self.tracer.named(f"{kind}.{q}") if s["op"].startswith("t")]
                self.layers[f"plans.{key}.{q}"] = _median([s["end"] - s["start"] for s in spans])
            jobs: dict[str, int] = {}
            for kind in ("build", "exec"):
                for s in self.tracer.named(f"{kind}.{q}"):
                    if s["op"].startswith("t"):
                        jobs[s["op"]] = jobs.get(s["op"], 0) + len(s["jobs"])
            self.layers[f"plans.jobs.{q}"] = _median(list(jobs.values()))


# ====================================================================== ingest
def ingest(b: Bench) -> dict:
    def batch(name: str, salt: int, rows: dict = INGEST_ROWS) -> str:
        d = b.path(name)
        gen.generate(d, b.sub_seed(1, salt), b.rows(rows), ("documents", "embeddings"))
        return d

    def one_pass(d: str, op: str, sink: str) -> dict:
        return {q: b.run_query(q, d, sink, op) for q in INGEST_QUERIES}

    # The warm-up pass collects every query's rows for the oracle check.
    warm = batch("warm", 0, INGEST_WARM_ROWS)
    outputs: dict = {}
    setup = b.setup(lambda rep: outputs.update(one_pass(warm, f"setup{rep}", "collect")))
    for q in INGEST_QUERIES:
        b.oracle_check(warm, q, outputs[q])
    _log("oracle checks done")

    # Each pass reads a fresh batch, as a new upload would: the entity
    # memo in sources.entities never turns a pass into a cache hit.
    def op(i: int) -> dict[str, tuple]:
        times = {}
        with b.tracer.span("pass", op=f"t{i}"):
            for q in INGEST_QUERIES:
                t0, c0 = clock()
                b.run_query(q, b.path(f"batch{i}"), "noop", f"t{i}")
                t1, c1 = clock()
                times[q] = (t1 - t0, c1 - c0)
        return times

    loops = b.measure(op, prepare=lambda i: batch(f"batch{i}", 1 + i))
    if b.trace:
        b.plan_layers(INGEST_QUERIES)
        ingest_layers(b, batch("layers", 10**6))
        streaming_layers(b)
    return {"setup": setup, "loops": loops}


def ingest_layers(b: Bench, d: str) -> None:
    """Re-run the ingest pipeline through its layers' public functions,
    materialising each output before the next layer reads it."""
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.operators import blocks as B
    from data_ingestion_din_spark.operators.chunking import semantic_chunks
    from data_ingestion_din_spark.operators.dedup import keep_first_by
    from data_ingestion_din_spark.sources.entities import table_blocks, text_blocks

    def timed(name, fn):
        with b.tracer.span(name, op="layers"):
            t0 = time.perf_counter()
            out = fn()
            b.layers[name] = time.perf_counter() - t0
        return out

    tb = timed("sources.text_blocks_s", lambda: text_blocks(b.spark, d))
    timed("sources.table_blocks_s", lambda: table_blocks(b.spark, d))

    def blocks():
        x = B.reading_order(tb)
        x = B.flag_header_footer_noise(x)
        x = B.page_font_median(x)
        x = B.detect_headings(x)
        x = B.propagate_sections(x)
        return x.filter(~F.col("noise")).localCheckpoint(eager=True)

    blk = timed("operators.blocks_s", blocks)
    chunks = timed("operators.chunking_s", lambda: semantic_chunks(blk).localCheckpoint(eager=True))
    uniq = timed(
        "operators.dedup_s",
        lambda: keep_first_by(chunks, "content_fp", ["doc_id", "chunk_seq"]).localCheckpoint(eager=True),
    )
    total = chunks.count()
    b.layers["operators.dedup_kept_ratio"] = uniq.count() / total if total else 0.0


# ======================================================================= serve
def serve(b: Bench) -> dict:
    import pandas as pd

    from data_ingestion_din_spark.plans import retrieval_queries as RQ

    d = b.path("corpus")
    gen.generate(d, b.sub_seed(2), b.rows(SERVE_ROWS), ("documents", "embeddings"))
    first: list = []

    def request(op: str) -> None:
        with b.tracer.span("request", op=op):
            with b.tracer.span(f"build.{SERVE_QUERY}", op=op):
                df = RQ.ask_pipeline(b.spark, d)
            with b.tracer.span(f"exec.{SERVE_QUERY}", op=op):
                rows = df.collect()
        if not first:
            first.append(pd.DataFrame([r.asDict() for r in rows], columns=df.columns))
            first.append(rows)
        else:
            b.check(rows == first[1], "ask_pipeline response differs from the first")

    def warm(rep: int) -> None:
        for _ in range(SERVE_WARM_REQUESTS):
            request(f"setup{rep}")

    setup = b.setup(warm)
    b.oracle_check(d, SERVE_QUERY, first[0])

    # Count and time the calls into the sources layer inside each request.
    calls: list[tuple[str, float]] = []
    real_load_table = RQ.load_table

    def load_table(spark, sf_dir, name):
        t0 = time.perf_counter()
        try:
            return real_load_table(spark, sf_dir, name)
        finally:
            if b.tracer.enabled:
                calls.append((b.tracer.spans[-1]["op"], time.perf_counter() - t0))

    RQ.load_table = load_table
    try:
        loops = b.measure(lambda i: request(f"t{i}"))
    finally:
        RQ.load_table = real_load_table

    if b.trace:
        b.plan_layers((SERVE_QUERY,))
        by_request: dict[str, list] = {}
        for op, dt in calls:
            by_request.setdefault(op, []).append(dt)
        b.layers["sources.load_table_s"] = _median([sum(v) for v in by_request.values()])
        b.layers["sources.load_table_calls"] = _median([len(v) for v in by_request.values()])
        serve_layers(b, d)
    return {"setup": setup, "loops": loops}


def serve_layers(b: Bench, d: str) -> None:
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.operators.similarity import brute_force_topk
    from data_ingestion_din_spark.sources.tables import load_table

    emb = load_table(b.spark, d, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    times = []
    for _ in range(3):
        with b.tracer.span("operators.similarity_s", op="layers"):
            t0 = time.perf_counter()
            brute_force_topk(emb.crossJoin(F.broadcast(q)), F.col("q")).collect()
            times.append(time.perf_counter() - t0)
    b.layers["operators.similarity_s"] = _median(times)


# =================================================================== streaming
class Uploader:
    """Writes seeded document files into a landing directory, atomically
    (write beside it, then rename). A share of every file after the first
    re-sends earlier documents unchanged, which the idempotent merge must
    drop."""

    def __init__(self, b: Bench, d: str, salt: int) -> None:
        self.b = b
        self.landing = os.path.join(d, "landing")
        self.staging = os.path.join(d, "staging")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.rng = np.random.default_rng([b.seed, 3, salt])
        self.fresh = []  # the new documents of each file
        self.landed = []  # every landed file's table, re-sent documents included
        self.next_id = 0

    def upload(self, k: int) -> str:
        import pyarrow as pa

        n_old = self.b.n(REUPLOAD_DOCS) if self.fresh else 0
        n_new = self.b.n(LANDING_DOCS) - n_old
        new = gen.documents(self.rng, n_new, first_id=self.next_id)
        self.next_id += n_new
        parts = [new]
        if self.fresh:
            old = pa.concat_tables(self.fresh)
            pick = self.rng.choice(old.num_rows, n_old, replace=False)
            parts.append(old.take(pa.array(np.sort(pick))))
        table = pa.concat_tables(parts)
        self.fresh.append(new)
        self.landed.append(table)
        tmp = os.path.join(self.staging, f"part-{k:05d}.parquet")
        pq.write_table(table, tmp)
        dst = os.path.join(self.landing, f"part-{k:05d}.parquet")
        os.rename(tmp, dst)
        return dst


def reference_corpus(tables, chunk_tokens: int = 50) -> list[tuple]:
    """Independent recomputation of the ingest stream's corpus: whitespace
    tokens, fixed ``chunk_tokens``-token chunks, content-addressed ids."""
    seen, rows = set(), []
    for t in tables:
        for doc_id, text, source in zip(
            t["doc_id"].to_pylist(), t["text"].to_pylist(), t["source"].to_pylist()
        ):
            if doc_id in seen:
                continue
            seen.add(doc_id)
            toks = [w for w in " ".join(text.split()).split(" ") if w]
            for i in range(max(1, math.ceil(len(toks) / chunk_tokens))):
                content = " ".join(toks[i * chunk_tokens : (i + 1) * chunk_tokens])
                md5 = hashlib.md5(content.encode()).hexdigest()[:8]
                rows.append((f"{doc_id}::{i}::{md5}", doc_id, source, i, content))
    return sorted(rows)


def streaming_layers(b: Bench) -> None:
    """The streaming layer, measured on ``LANDINGS`` landings: after each
    file arrives, ``start_ingest_stream`` runs with ``availableNow`` until
    the file is merged. Micro-batch phase times come from the landings'
    progress records; the final corpus must equal :func:`reference_corpus`
    over the landed files. Then the batch transform and merge are called
    directly on the same files."""
    from data_ingestion_din_spark.streaming.ingest import (
        chunk_documents,
        merge_chunks,
        start_ingest_stream,
    )

    d = b.path("stream")
    up = Uploader(b, d, 0)
    phases = {
        "addBatch": "streaming.add_batch_ms",
        "walCommit": "streaming.wal_commit_ms",
        "commitOffsets": "streaming.commit_offsets_ms",
        "latestOffset": "streaming.latest_offset_ms",
        "queryPlanning": "streaming.query_planning_ms",
    }

    def land(k: int) -> list[dict]:
        up.upload(k)
        with b.tracer.span("landing", op="layers"):
            q = start_ingest_stream(
                b.spark, up.landing, os.path.join(d, "corpus"), os.path.join(d, "checkpoint")
            )
            try:
                if not q.awaitTermination(120):
                    raise TimeoutError(f"landing {k} did not finish in 120 s")
            finally:
                q.stop()
        return q.recentProgress

    per_landing = {m: [] for m in phases.values()}
    rows = []
    for k in range(LANDINGS):
        ok, progress = b.attempt(land, k)
        if not ok:
            return
        for phase, metric in phases.items():
            per_landing[metric].append(sum(p["durationMs"].get(phase, 0) for p in progress))
        rows.append(sum(p["numInputRows"] for p in progress))
    for metric, vals in per_landing.items():
        b.layers[metric] = _median(vals)
    b.layers["streaming.input_rows"] = _median(rows)

    corpus = b.spark.read.parquet(os.path.join(d, "corpus"))
    got = sorted(
        tuple(r)
        for r in corpus.select("chunk_id", "doc_id", "source", "chunk_idx", "content").collect()
    )
    want = reference_corpus(up.landed)
    b.check(got == want, f"stream corpus has {len(got)} chunks, reference {len(want)}")

    replay = os.path.join(d, "replay")
    times, appended, batch, before = [], 0, 0, 0
    for f in sorted(os.listdir(up.landing)):
        chunks = chunk_documents(b.spark.read.parquet(os.path.join(up.landing, f)))
        with b.tracer.span("streaming.merge_s", op="layers"):
            t0 = time.perf_counter()
            merge_chunks(chunks, replay)
            times.append(time.perf_counter() - t0)
        after = b.spark.read.parquet(replay).count()
        appended += after - before
        batch += chunks.count()
        before = after
    b.layers["streaming.merge_s"] = _median(times)
    b.layers["streaming.new_rows_ratio"] = appended / batch if batch else 0.0


def critical_stages(b: Bench, log_dir: str) -> None:
    """Per ingest query, the median over timed passes of its longest stage
    (over the query's build and exec jobs)."""
    crit = read_event_log(log_dir)
    for q in INGEST_QUERIES:
        per_op: dict[str, dict] = {}
        for kind in ("build", "exec"):
            for s in b.tracer.named(f"{kind}.{q}"):
                c = crit.get(s["group"])
                if s["op"].startswith("t") and c:
                    cur = per_op.get(s["op"])
                    if cur is None or c["crit_stage_s"] > cur["crit_stage_s"]:
                        per_op[s["op"]] = c
        for key in ("crit_stage_s", "crit_stage_tasks", "crit_task_skew"):
            b.layers[f"plans.{key}.{q}"] = _median([c[key] for c in per_op.values()])


def geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def loop_metrics(done: list[tuple]) -> dict[str, float]:
    """Metrics of one timed loop, in wall and in CPU time. An operation's
    result is its per-query ``(wall, cpu)`` times when it has them."""
    per_query: dict[str, list] = {}
    for dt, dc, out in done:
        for q, t in out.items() if isinstance(out, dict) else [("op", (dt, dc))]:
            per_query.setdefault(q, []).append(t)

    def geomean_ms(k: int) -> float:
        return geomean([_median([x[k] for x in v]) * 1000.0 for v in per_query.values()])

    return {
        "wall.op_ms": _median([x[0] for x in done]) * 1000.0,
        "op_cpu_ms": _median([x[1] for x in done]) * 1000.0,
        "query_geomean_cpu_ms": geomean_ms(1),
        "wall.query_geomean_ms": geomean_ms(0),
    }


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, work, result_path, trace_path = argv
    b = Bench(workload, int(seed), int(seconds), trace == "1", work)
    _log(f"{workload}: start")
    r = {"ingest": ingest, "serve": serve}[workload](b)
    loops = {name: loop_metrics(done) for name, done in r["loops"].items()}
    setup_cpu, setup_wall = r["setup"]
    memory, memory_parts = b.memory_mb()
    e2e = {
        **{m: loops["untraced"][m] for m in LOOP_METRICS if m in E2E_METRICS},
        "setup_s": setup_cpu,
        "memory_mb": memory,
    }
    b.layers["session.start_s"] = _median(b.session_starts)
    for name, done in r["loops"].items():
        _log(f"{workload} {name}: wall s {[round(x[0], 2) for x in done]}, "
             f"CPU s {[round(x[1], 2) for x in done]}")
        for _, _, out in done[:1]:
            if isinstance(out, dict):
                _log(f"first op, per query (wall, CPU) s: {out}")
    _log(f"resident peaks, MB: { {p: round(v) for p, v in b.peaks.items()} }; "
         f"memory_mb parts: { {k: round(v, 1) for k, v in memory_parts.items()} }")
    b.spark.stop()
    if b.trace:
        untraced = loops["untraced"]
        b.layers.update({m: v for m, v in untraced.items() if m.startswith("wall.")})
        b.layers["wall.setup_s"] = setup_wall
        b.layers["memory.peak_rss_mb"] = b.peak_mb
        for m in LOOP_METRICS:
            v = untraced[m]
            b.layers[f"trace.overhead.{m}"] = loops["traced"][m] / v - 1.0 if v else 0.0
        if workload == "ingest":
            critical_stages(b, b.path("eventlog"))
        b.tracer.dump(
            trace_path,
            {"workload": workload, "seed": b.seed, "e2e": e2e, "loops": loops, "layers": b.layers},
        )
    with open(result_path, "w") as f:
        json.dump(
            {
                "e2e": e2e,
                "layers": b.layers,
                "attempted": b.attempted,
                "failed": b.failed,
                "ops": min(len(done) for done in r["loops"].values()),
            },
            f,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
