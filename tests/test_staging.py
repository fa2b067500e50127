"""The @staged registry (data_ingestion_din_spark/staging.py): key,
eviction, cache-hit revalidation, registration rules, and the setup rows
bench.py prices. Most tests drive the decorator with a stand-in session
(only ``sparkContext.applicationId`` is read), so they start no JVM."""

from __future__ import annotations

import os
import shutil
import types

import pytest

from conftest import SF_SMOKE as SF
from data_ingestion_din_spark import staging

# The setup rows bench.py priced by hand before the registry existed;
# every one must survive as a registered row.
LEGACY_SETUP_ROWS = {
    "entity_tables", "bucketed_fact_tables", "partitioned_documents",
    "zordered_events", "shard_export", "tsi_export", "phash_table",
    "banded_pairs", "substring_spans", "pq_index_raw", "pq_index_res",
    "pq_index_raw16", "pq_index_res16", "sweep_etop", "pqs_space",
    "lm_bi_perdoc", "lm_tri_comps", "lm_p5_comps", "ivfpq_stream_index",
    "graph_ann_edges", "sjoin_outer_landings", "sjoin_full_landings",
    "smg_landings", "cdcm_landings", "sth_landings", "swl_landings",
    "ingest_corpus", "first_seen_landings", "stream_join_landings",
    "session_window_landings", "dedup_watermark_landings",
    "scd2_stream_landings", "asof_stream_landings", "snapshot_landings",
    "curation_funnel_landings", "quality_gate_landings",
    "dsir_gate_landings", "bpe_gate_landings", "decontam_gate_landings",
    "semdedup_gate_landings", "tmix_gate_landings",
    "minhash_index_landings", "phash_index_landings", "ivf_index_landings",
    "ivf_rebalance_landings", "substring_index_landings",
    "hll_registers_landings", "rollup_state_landings",
    "profile_gate_landings",
}


def _fake_spark(app: str):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app)
    )


@pytest.fixture
def scratch_artifacts(tmp_path, monkeypatch):
    """Register throwaway artifacts under tmp_path; unregister after."""
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    before = set(staging.REGISTRY)
    yield
    for name in set(staging.REGISTRY) - before:
        del staging.REGISTRY[name]


def test_registry_keeps_every_legacy_setup_row():
    rows = [r for r, _, _ in staging.setup_rows()]
    assert len(rows) == len(set(rows)), "setup row names must be unique"
    missing = LEGACY_SETUP_ROWS - set(rows)
    assert not missing, missing
    assert len(LEGACY_SETUP_ROWS) == 49


def test_duplicate_name_raises(scratch_artifacts):
    staging.load_all()
    existing = staging.REGISTRY["ingest_corpus"]
    with pytest.raises(ValueError, match="registered twice"):

        @staging.staged("ingest_corpus", kind="dir")
        def _other(spark, sf_dir, base):
            return base

    assert staging.REGISTRY["ingest_corpus"] is existing


def test_checkpoint_key_binds_defaults_and_evicts_dead_apps(
    scratch_artifacts,
):
    builds = []

    @staging.staged("t_ckpt", rows={"t_ckpt_a": ("a",)})
    def art(spark, sf_dir, space, k=4):
        builds.append((space, k))
        return object()

    s1 = _fake_spark("app-1")
    v = art(s1, "sf", "a")
    assert art(s1, "sf", "a", 4) is v
    assert art(s1, "sf", space="a", k=4) is v
    assert art(s1, "sf", "a", k=16) is not v
    assert builds == [("a", 4), ("a", 16)]
    # a new application drops every entry of the old one
    art(_fake_spark("app-2"), "sf", "a")
    assert builds[-1] == ("a", 4) and len(builds) == 3
    assert len(staging.REGISTRY["t_ckpt"].memo) == 1
    assert staging.REGISTRY["t_ckpt"].rows == {"t_ckpt_a": [("a",)]}


def test_dir_hit_revalidates_every_written_directory(scratch_artifacts):
    builds = []

    @staging.staged("t_dir", kind="dir")
    def art(spark, sf_dir, base):
        builds.append(base)
        for sub in ("out/part", "state"):
            os.makedirs(os.path.join(base, sub))
            with open(os.path.join(base, sub, "f"), "w") as fh:
                fh.write("x")
        return os.path.join(base, "out")

    spark = _fake_spark("app-1")
    out = art(spark, "sf")
    assert out == os.path.join(
        staging.app_dir_path(spark, "sf", "spark_graft_t_dir"), "out"
    )
    assert art(spark, "sf") == out and len(builds) == 1
    # a partial deletion, below the returned path's level, still rebuilds
    shutil.rmtree(os.path.join(out, "part"))
    assert art(spark, "sf") == out and len(builds) == 2
    assert os.path.exists(os.path.join(out, "part", "f"))
    shutil.rmtree(os.path.join(os.path.dirname(out), "state"))
    art(spark, "sf")
    assert len(builds) == 3


def test_reset_forgets_the_named_artifact(scratch_artifacts):
    builds = []

    @staging.staged("t_reset")
    def art(spark, sf_dir):
        builds.append(1)
        return len(builds)

    spark = _fake_spark("app-1")
    assert art(spark, "sf") == art(spark, "sf") == 1
    staging.reset("t_reset")
    assert art(spark, "sf") == 2


def test_ingest_corpus_rebuilds_after_deletion(spark):
    """Fault injection on a real landing: the staged corpus directory
    vanishes between two runs of its consumer; the cache hit must notice,
    re-run both availableNow landings, and serve the same rows."""
    from data_ingestion_din_spark.plans import QUERIES
    from data_ingestion_din_spark.plans.streaming_cdc import (
        _ingested_corpus_dir,
    )

    corpus = _ingested_corpus_dir(spark, SF)
    before = QUERIES["streaming_ingest_chunks"](spark, SF).collect()
    shutil.rmtree(corpus)
    after = QUERIES["streaming_ingest_chunks"](spark, SF).collect()
    assert os.path.isdir(corpus)
    assert before and sorted(before) == sorted(after)


@pytest.mark.parametrize("raw", ["4x", "0", "-2", "", "1.5"])
def test_graft_cpus_rejects_malformed(monkeypatch, raw):
    from data_ingestion_din_spark.session import graft_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="positive integer"):
        graft_cpus()


def test_graft_cpus_accepts_positive_and_default(monkeypatch):
    from data_ingestion_din_spark.session import graft_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert graft_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert graft_cpus() == (os.cpu_count() or 8)


def test_bench_chunk_lines_fit_the_tail_limit():
    import json

    from bench import chunk_lines

    steady = {f"query_with_a_long_name_{i:03d}": 123.456 for i in range(321)}
    lines = chunk_lines(steady, {"cpus": 32, "sf": 0.1})
    assert len(lines) > 1
    assert all(len(ln) <= 1900 for ln in lines)
    got = {}
    for i, ln in enumerate(lines):
        rec = json.loads(ln)
        assert (rec["part"], rec["parts"]) == (i + 1, len(lines))
        got.update(rec["queries"])
    assert got == steady
