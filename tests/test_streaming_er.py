"""Streaming incremental ER (streaming/er_ingest.py): micro-batch
ingest equals the full rebuild, bootstrap/incremental/replay modes, and
the loud broken-state guard."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sbb_ned_spark.config import PipelineConfig
from sbb_ned_spark.plans import pipeline as P
from sbb_ned_spark.sources.catalog import get_catalog
from sbb_ned_spark.streaming import er_ingest as SE


def _split(files, mod: int, cut: int):
    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(mod))
    return files.filter(h < cut), files.filter(h >= cut)


def _assign(clusters) -> dict:
    return {r["record_id"]: r["cluster_id"] for r in clusters.collect()}


def test_stream_resolve_batches_equal_rebuild(spark, tiny_files, tiny_truth, tmp_path):
    """Two landing-dir parquet files -> two micro-batches (bootstrap +
    incremental) -> state clusters equal the one-shot rebuild AND the
    planted ground truth."""
    landing = str(tmp_path / "landing")
    a, b = _split(tiny_files, 10, 7)
    a.coalesce(1).write.parquet(landing)
    b.coalesce(1).write.mode("append").parquet(landing)
    want = _assign(P.run_pipeline(tiny_files, PipelineConfig()).clusters)

    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "state"))
    q = SE.stream_resolve(
        spark, landing, cfg, str(tmp_path / "offsets"), max_files_per_trigger=1
    )
    q.awaitTermination()

    clusters = get_catalog(spark, cfg.checkpoint_dir).read_committed(spark, "clusters")
    assert _assign(clusters) == want
    members, lp = tiny_truth
    quality = P.pairwise_f1(clusters, spark.createDataFrame(lp))
    assert quality["f1"] == 1.0, quality


def test_stream_restart_processes_only_new_files(spark, tiny_files, tmp_path):
    """The production restart shape: drain the backlog, stop, land a new
    file, restart with the SAME offsets checkpoint — only the new file is
    consumed (offsets persisted; the already-resolved records never reach
    ingest_batch again) and the final clusters equal the full rebuild."""
    landing = str(tmp_path / "landing")
    ab, c = _split(tiny_files, 10, 8)
    a, b = _split(ab, 7, 4)
    a.coalesce(1).write.parquet(landing)
    b.coalesce(1).write.mode("append").parquet(landing)
    want = _assign(P.run_pipeline(tiny_files, PipelineConfig()).clusters)

    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "state"))
    offsets = str(tmp_path / "offsets")
    SE.stream_resolve(spark, landing, cfg, offsets, max_files_per_trigger=1).awaitTermination()
    cat = get_catalog(spark, cfg.checkpoint_dir)
    n_before = cat.read_committed(spark, "clusters").count()
    assert n_before == ab.count()

    c.coalesce(1).write.mode("append").parquet(landing)
    SE.stream_resolve(spark, landing, cfg, offsets, max_files_per_trigger=1).awaitTermination()
    clusters = cat.read_committed(spark, "clusters")
    assert _assign(clusters) == want


def test_ingest_batch_modes_and_replay(spark, tiny_files, tmp_path):
    """bootstrap on empty state, incremental on the second batch, and a
    REPLAYED batch is a no-op that leaves the state bit-identical."""
    a, b = _split(tiny_files, 10, 7)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "state"))

    out_a = SE.ingest_batch(a, cfg)
    assert out_a["mode"] == "bootstrap"
    out_b = SE.ingest_batch(b, cfg)
    assert out_b["mode"] == "incremental"

    cat = get_catalog(spark, cfg.checkpoint_dir)
    before = _assign(cat.read_committed(spark, "clusters"))
    replay = SE.ingest_batch(b, cfg)  # Spark re-delivers the same batch
    assert replay["mode"] == "replay_noop"
    assert replay["batch_rows_dropped"] == b.count()
    assert _assign(cat.read_committed(spark, "clusters")) == before


def test_ingest_batch_refuses_broken_state(spark, tiny_files, tmp_path):
    """A committed state this code cannot extend (here: another on-disk
    format version) must fail loudly — never bootstrap-overwrite, never
    resolve against it."""
    import json

    from sbb_ned_spark.sources.catalog import COMMIT_FILE

    a, b = _split(tiny_files, 10, 7)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "state"))
    SE.ingest_batch(a, cfg)
    cat = get_catalog(spark, cfg.checkpoint_dir)
    commit = cat.read_commit()
    commit["format_version"] = P.STAGE_FORMAT_VERSION - 1
    cat.write_file(COMMIT_FILE, json.dumps(commit))
    with pytest.raises(ValueError, match="no valid prior state"):
        SE.ingest_batch(b, cfg)


def test_ingest_batch_refuses_old_layout(spark, tiny_files, tmp_path):
    """A state root of the per-stage manifest layout (format 2, no commit
    file) is refused by name, by ingest_batch and incremental_update
    alike — it is never bootstrapped over."""
    from sbb_ned_spark.plans import incremental as I

    root = tmp_path / "state"
    (root / "clusters").mkdir(parents=True)
    (root / "clusters" / "_MANIFEST.json").write_text('{"stage": "clusters"}')
    cfg = PipelineConfig(checkpoint_dir=str(root))
    with pytest.raises(ValueError, match="old per-stage _MANIFEST.json layout"):
        SE.ingest_batch(tiny_files, cfg)
    with pytest.raises(ValueError, match="old per-stage _MANIFEST.json layout"):
        I.incremental_update(tiny_files, cfg)
    assert get_catalog(spark, str(root)).read_commit() is None
