"""End-to-end pipeline: F1 gate, sha invariant, resume-from-checkpoint."""

from __future__ import annotations

import glob
import json
import os

import pyspark.sql.functions as F
import pytest

from sbb_ned_spark.config import PipelineConfig
from sbb_ned_spark.plans import pipeline as P
from sbb_ned_spark.sources.catalog import COMMIT_FILE, get_catalog


def test_f1_gate_tiny(spark, tiny_files, tiny_truth):
    members, lp = tiny_truth
    res = P.run_pipeline(tiny_files, PipelineConfig())
    metrics = P.pairwise_f1(res.clusters, spark.createDataFrame(lp))
    assert metrics["f1"] >= 0.99, metrics
    # clusters must reproduce the planted entity assignment exactly
    truth = spark.createDataFrame(members[["record_id", "entity_id"]])
    wrong = (
        res.clusters.join(truth, "record_id")
        .filter(F.col("cluster_id") != F.col("entity_id"))
        .count()
    )
    assert wrong == 0


def test_every_record_clustered_once(spark, tiny_files):
    res = P.run_pipeline(tiny_files, PipelineConfig())
    n_files = tiny_files.count()
    assert res.clusters.count() == n_files
    assert res.clusters.select("record_id").distinct().count() == n_files


def test_resume_from_checkpoint(spark, tiny_files, tiny_truth, tmp_path):
    """north_rule resumability: a resumed run must produce identical
    clusters without recomputing completed stages."""
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    res1 = P.run_pipeline(tiny_files, cfg)
    first = sorted((r["record_id"], r["cluster_id"]) for r in res1.clusters.collect())
    assert os.path.exists(str(tmp_path / "ckpt" / "metrics.json"))

    # poison the parquet-stage inputs: resume must NOT touch the raw files
    poisoned = tiny_files.limit(0)
    res2 = P.run_pipeline(poisoned, cfg, resume=True)
    second = sorted((r["record_id"], r["cluster_id"]) for r in res2.clusters.collect())
    assert first == second
    # one commit lists every stage, and the root holds only its segments
    cat = get_catalog(spark, cfg.checkpoint_dir)
    tables = cat.read_commit()["tables"]
    assert sorted(tables) == sorted(P.STAGES)
    assert sorted(cat.segments(spark)) == sorted(s for segs in tables.values() for s in segs)


def test_resume_invalidated_by_config_change(spark, tiny_files, tmp_path):
    """A checkpoint written under different decision settings must NOT be
    reused: the commit stores a config hash the resume validates."""
    root = str(tmp_path / "ckpt")
    P.run_pipeline(tiny_files, PipelineConfig(checkpoint_dir=root))
    # resume with a changed threshold: every stage recomputes (metrics has
    # a row per stage; a fully-resumed run has none)
    res = P.run_pipeline(
        tiny_files, PipelineConfig(checkpoint_dir=root, decision_threshold=0.7), resume=True
    )
    assert [m["stage"] for m in res.metrics] == list(P.STAGES)


def _edit_commit(spark, root: str, edit) -> None:
    """Rewrite the state's commit file through ``edit(commit)``."""
    cat = get_catalog(spark, root)
    commit = cat.read_commit()
    edit(commit)
    cat.write_file(COMMIT_FILE, json.dumps(commit))


def test_resume_invalidated_by_broken_chain(spark, tiny_files, tmp_path):
    """A later stage listed over an unlisted earlier stage is stale: resume
    reuses only the listed PREFIX and recomputes from the gap onward."""
    root = str(tmp_path / "ckpt")
    cfg = PipelineConfig(checkpoint_dir=root)
    P.run_pipeline(tiny_files, cfg)
    _edit_commit(spark, root, lambda c: c["tables"].pop("candidate_pairs"))
    res = P.run_pipeline(tiny_files, cfg, resume=True)
    stages = [m["stage"] for m in res.metrics]
    # features/blocking_keys resumed; candidate_pairs and everything after
    # it (the gap in the listed prefix) recomputed
    assert stages == ["candidate_pairs", "pair_scores", "clusters"]


def test_resume_from_commit_prefix(spark, tiny_files, tmp_path):
    """A commit listing the stages up to candidate_pairs (a run that died
    before pair_scores committed) resumes by recomputing exactly
    pair_scores and clusters, to the same clusters."""
    root = str(tmp_path / "ckpt")
    cfg = PipelineConfig(checkpoint_dir=root)
    first = sorted(tuple(r) for r in P.run_pipeline(tiny_files, cfg).clusters.collect())

    def cut(commit):
        for name in ("pair_scores", "clusters"):
            commit["tables"].pop(name)

    _edit_commit(spark, root, cut)
    res = P.run_pipeline(tiny_files.limit(0), cfg, resume=True)
    assert [m["stage"] for m in res.metrics] == ["pair_scores", "clusters"]
    assert sorted(tuple(r) for r in res.clusters.collect()) == first


def test_unpersist_all_releases_cached_stages(spark, tiny_files):
    from pyspark import StorageLevel

    res = P.run_pipeline(tiny_files, PipelineConfig())
    assert res.persisted, "checkpoint-less runs cache each stage"
    frames = list(res.persisted)
    res.unpersist_all()
    for df in frames:
        assert df.storageLevel == StorageLevel.NONE


_CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _light_run_from_clean_cache(spark, files):
    """run_pipeline(light=True) on an empty cache: an identical plan cached
    by an earlier test would otherwise be reused with ITS partitioning."""
    spark.catalog.clearCache()
    files.persist()
    res = P.run_pipeline(files, PipelineConfig(), light=True)
    clusters = sorted((r["record_id"], r["cluster_id"]) for r in res.clusters.collect())
    return res, clusters


def test_coalesced_cached_stages_keep_cluster_partition(spark, tiny_files):
    """AQE may coalesce the persisted stage outputs; the clusters must be
    the same partition as with the caches frozen at shuffle_partitions."""
    prev = spark.conf.get(_CACHED_PARTITIONING)
    try:
        spark.conf.set(_CACHED_PARTITIONING, "false")
        frozen, frozen_clusters = _light_run_from_clean_cache(spark, tiny_files)
        frozen.unpersist_all()
        spark.conf.set(_CACHED_PARTITIONING, "true")
        coalesced, coalesced_clusters = _light_run_from_clean_cache(spark, tiny_files)
        coalesced.unpersist_all()
    finally:
        spark.conf.set(_CACHED_PARTITIONING, prev)
    assert frozen_clusters == coalesced_clusters
    assert len(coalesced_clusters) == tiny_files.count()


def test_default_session_coalesces_cached_stages(spark, tiny_files):
    """Under the default session every stage run_pipeline persists is sized
    to its data, not left at shuffle_partitions output partitions."""
    res, _ = _light_run_from_clean_cache(spark, tiny_files)
    try:
        parts = [df.rdd.getNumPartitions() for df in res.persisted]
    finally:
        res.unpersist_all()
    assert len(parts) == len(P.STAGES)
    assert all(n < PipelineConfig().shuffle_partitions for n in parts), parts


def test_session_keeps_generated_classes_cached(spark):
    """One ER pass generates ~150 classes; the default 100-entry codegen
    cache would recompile them on every pass. (``spark`` is built by
    ``session.get_spark``.)"""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_features_table_partitioned_by_repo_bucket(spark, tiny_files, tmp_path):
    """The catalog seam writes the features table PARTITIONED BY a bounded
    repo hash bucket (the input_hint table's partition spec)."""
    root = str(tmp_path / "ckpt")
    cfg = PipelineConfig(checkpoint_dir=root, features_partition_buckets=8)
    P.run_pipeline(tiny_files, cfg)
    (seg,) = get_catalog(spark, root).read_commit()["tables"]["features"]
    parts = glob.glob(os.path.join(root, seg, "repo_bucket=*"))
    assert len(parts) > 1
    # partition pruning: reading one bucket scans only that directory
    one = spark.read.parquet(os.path.join(root, seg)).filter("repo_bucket = 0")
    assert one.count() < spark.read.parquet(os.path.join(root, seg)).count()


def test_parquet_catalog_roundtrip(spark, tmp_path):
    from sbb_ned_spark.sources.catalog import ParquetCatalog, get_catalog, iceberg_available

    cat = ParquetCatalog(str(tmp_path))
    df = spark.range(10).withColumn("b", F.pmod("id", F.lit(2)))
    cat.write_table(df, "t__v1", partition_by=("b",))
    cat.write_table(df, "t__v2")
    assert sorted(cat.segments(spark)) == ["t__v1", "t__v2"]
    assert cat.read_table(spark, "t__v1").count() == 10
    # a commit lists segments; it drops every segment it does not list
    assert cat.read_commit() is None
    cat.commit(spark, {"version": 2, "tables": {"t": ["t__v2"]}})
    assert cat.read_commit()["tables"] == {"t": ["t__v2"]}
    assert cat.segments(spark) == ["t__v2"]
    assert cat.read_committed(spark, "t").count() == 10
    # the atomic writer leaves no temp file behind
    assert not glob.glob(str(tmp_path / ".*.tmp"))
    # no iceberg runtime in this sandbox: the seam must fall back cleanly
    assert not iceberg_available(spark)
    assert isinstance(get_catalog(spark, str(tmp_path)), ParquetCatalog)
    # bare names also resolve to <root>/<name>.parquet files (driver data)
    df.write.parquet(str(tmp_path / "t2.parquet"))
    assert cat.read_table(spark, "t2").count() == 10


def test_parquet_segments_read_as_one_scan(spark, tmp_path):
    """A table's listed segments are one FileScan, however many there are
    (each increment adds one); partitioned segments, which Spark cannot
    infer under several roots, are unioned, skipping one written empty."""
    from sbb_ned_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path))
    df = spark.range(10).withColumn("b", F.pmod("id", F.lit(2)))
    segs = [f"t__v{i}" for i in range(1, 6)]
    for s in segs:
        cat.write_table(df, s)
    cat.write_table(df.limit(0), "t__v6")
    cat.commit(spark, {"version": 6, "tables": {"t": segs + ["t__v6"]}})
    one = cat.read_committed(spark, "t")
    assert one.count() == 50
    assert one._jdf.queryExecution().executedPlan().toString().count("FileScan") == 1

    cat.write_table(df, "p__v7", partition_by=("b",))
    cat.write_table(df.limit(0), "p__v8", partition_by=("b",))
    cat.write_table(df.limit(4), "p__v9", partition_by=("b",))
    parted = cat.read_table(spark, ["p__v7", "p__v8", "p__v9"])
    assert sorted(parted.columns) == ["b", "id"] and parted.count() == 14


def test_iceberg_catalog_roundtrip_when_runtime_present(spark, tmp_path):
    """Exercises the real Iceberg writeTo/PARTITIONED BY path wherever the
    iceberg-spark-runtime jar exists; skipped (not silently passed) in this
    sandbox. Also pins the root-isolation contract: distinct roots get
    distinct namespaces + manifest dirs."""
    from sbb_ned_spark.sources.catalog import IcebergCatalog, iceberg_available

    a = IcebergCatalog.for_root(str(tmp_path / "rootA"))
    b = IcebergCatalog.for_root(str(tmp_path / "rootB"))
    assert a.namespace != b.namespace and a.manifest_dir != b.manifest_dir
    assert a.namespace == IcebergCatalog.for_root(str(tmp_path / "rootA")).namespace

    if not iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime not on the session classpath")
    df = spark.range(10).withColumn("b", F.pmod("id", F.lit(2)))
    a.write_table(df, "t__v1", partition_by=("b",))
    assert a.segments(spark) == ["t__v1"]
    assert a.read_table(spark, "t__v1").count() == 10
    a.write_table(df.limit(3), "t__v1", mode="append")
    assert a.read_table(spark, "t__v1").count() == 13
    a.drop_table(spark, "t__v1")
    assert a.segments(spark) == []


def test_exact_collapse_preserves_clusters_and_shrinks_features(spark, tiny_files):
    """Collapsing byte-identical files to one representative must not
    change the final clustering (identical content -> identical features
    -> identical decisions) while featurizing strictly fewer records."""
    on = P.run_pipeline(tiny_files, PipelineConfig())
    off = P.run_pipeline(tiny_files, PipelineConfig(collapse_exact_dups=False))
    a = sorted((r["record_id"], r["cluster_id"]) for r in on.clusters.collect())
    b = sorted((r["record_id"], r["cluster_id"]) for r in off.clusters.collect())
    assert a == b
    feats_on = next(m for m in on.metrics if m["stage"] == "features")["rows_out"]
    feats_off = next(m for m in off.metrics if m["stage"] == "features")["rows_out"]
    assert feats_on < feats_off  # the vendored copies collapse to one rep
    on.unpersist_all()
    off.unpersist_all()


def test_sha_invariant_through_stages(spark, tiny_files):
    """input_hint: content sha256 equality per row through every stage."""
    from sbb_ned_spark.operators import blocking

    feats = blocking.record_features(tiny_files)
    joined = feats.select("record_id", F.col("sha256").alias("stage_sha")).join(
        tiny_files.select("record_id", "sha256"), "record_id"
    )
    assert joined.filter(F.col("stage_sha") != F.col("sha256")).count() == 0


def test_no_per_row_python_udfs():
    """input_hint: vectorized pandas/Arrow UDFs only — no row-at-a-time
    `F.udf(` and no rdd.map in the package source."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "sbb_ned_spark"
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        assert "F.udf(" not in src, py
        assert ".rdd.map" not in src, py
        assert "@udf" not in src, py


def test_every_config_field_is_read():
    """No config field that nothing reads: each PipelineConfig field must
    appear as ``config.<name>`` or ``cfg.<name>`` somewhere in the package
    outside config.py. An unread field still changes ``_config_hash`` and
    so invalidates checkpoints for a setting that does nothing."""
    import dataclasses
    import pathlib
    import re

    pkg = pathlib.Path(__file__).parent.parent / "sbb_ned_spark"
    src = "\n".join(
        py.read_text() for py in pkg.rglob("*.py") if py.name != "config.py"
    )
    unread = [
        f.name
        for f in dataclasses.fields(PipelineConfig)
        if not re.search(rf"\b(?:config|cfg)\.{f.name}\b", src)
    ]
    assert unread == []


def test_durable_writes_live_in_the_catalog():
    """Plans and streaming never rename, replace or open files: every
    durable write goes through sources/catalog.py, whose commit point and
    atomic temp-plus-os.replace writer keep the state whole at any crash."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).parent.parent / "sbb_ned_spark"
    found = [
        f"{py.relative_to(pkg)}: {m.group(0)}"
        for sub in ("plans", "streaming")
        for py in (pkg / sub).rglob("*.py")
        for m in re.finditer(r"\bos\.(?:rename|replace)\b|\bshutil\.|(?<![\w.])open\(", py.read_text())
    ]
    assert found == []


# ---------------------------------------------------------------------------
# Recall budget (VERDICT r3 ask #5): two rounds of speed-driven hash/band
# changes spent bench recall 0.99905 -> 0.99814 against the 0.99 gate.
# Pin an explicit floor so the NEXT cost cut that eats margin fails loudly
# at commit time instead of shipping.
# ---------------------------------------------------------------------------

RECALL_FLOOR = 0.997


def test_lsh_band_recall_analytic_floor():
    """The (bands, rows) configuration must keep the analytic band-recall
    of a pair at the design jaccard (0.8, the near-dup regime the labeled
    positives inhabit) above the recall floor: recall = 1-(1-j^r)^b.
    Halving bands again (16 -> 8 at r=4 gives 0.985) trips this before
    any fixture run does."""
    cfg = PipelineConfig()
    r = cfg.minhash_perms // cfg.lsh_bands
    j = 0.8
    band_recall = 1.0 - (1.0 - j**r) ** cfg.lsh_bands
    assert band_recall >= RECALL_FLOOR, (
        f"bands={cfg.lsh_bands} rows={r}: analytic recall {band_recall:.5f} "
        f"< floor {RECALL_FLOOR} — re-negotiate the recall budget before "
        "shipping this blocking config"
    )


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_BENCH_QUALITY") != "1",
    reason="bench-scale (117k files, ~3 min): opt in with SPARK_GRAFT_BENCH_QUALITY=1",
)
def test_bench_recall_floor(spark):
    """Measured floor at bench scale — the number VERDICT r3 tracked
    (0.99814 after the fused-hash change). quality_check.py enforces the
    same floor in its exit code for the per-round harness."""
    from sbb_ned_spark import fixtures

    files = fixtures.load_files_df(spark, "bench")
    res = P.run_pipeline(files, PipelineConfig(), light=True)
    _, members = fixtures.generate_files_pdf("bench")
    labeled = spark.createDataFrame(fixtures.generate_labeled_pairs_pdf(members))
    q = P.pairwise_f1(res.clusters, labeled)
    res.unpersist_all()
    assert q["recall"] >= RECALL_FLOOR, q
    assert q["f1"] >= 0.99, q


def test_resume_invalidated_by_stage_format_version(spark, tiny_files, tmp_path):
    """A commit written under another STAGE_FORMAT_VERSION (an older
    on-disk schema, e.g. string ids before the binary-id refactor) must
    NOT be resumed (ADVICE r4 #2): every stage recomputes."""
    root = str(tmp_path / "ckpt")
    cfg = PipelineConfig(checkpoint_dir=root)
    P.run_pipeline(tiny_files, cfg)
    _edit_commit(spark, root, lambda c: c.update(format_version=P.STAGE_FORMAT_VERSION - 1))
    res = P.run_pipeline(tiny_files, cfg, resume=True)
    stages = [m["stage"] for m in res.metrics]
    assert stages == list(P.STAGES)


def test_duplicate_record_id_fails_loudly(spark, tiny_files):
    """An input manifest listing the same record twice must fail with a
    clear error, not silently emit duplicate cluster rows (the clusters
    stage skips its distinct on the collapse path)."""
    dup = tiny_files.unionAll(tiny_files.limit(1))
    with pytest.raises(Exception, match="duplicate record_id"):
        P.run_pipeline(dup, PipelineConfig()).clusters.count()


def test_duplicate_record_id_collapse_off_dedups(spark, tiny_files):
    """With collapse_exact_dups off nothing upstream guards duplicates, so
    connected_components keeps its own distinct: one row per record."""
    dup = tiny_files.unionAll(tiny_files.limit(1))
    res = P.run_pipeline(dup, PipelineConfig(collapse_exact_dups=False))
    n = tiny_files.count()
    assert res.clusters.count() == n
    assert res.clusters.select("record_id").distinct().count() == n


def test_checkpoint_codec_is_zstd(spark, tmp_path):
    """Stage checkpoints compress with zstd (measured: 27% smaller than
    snappy, faster reads AND writes on the features table — see the
    ParquetCatalog docstring); parquet readers auto-detect the codec so
    old snappy checkpoints stay readable without a format bump."""
    import glob as _glob

    import pyarrow.parquet as pq

    from sbb_ned_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path))
    cat.write_table(spark.range(100).withColumnRenamed("id", "x"), "t")
    f = _glob.glob(str(tmp_path / "t" / "*.parquet"))[0]
    codecs = {
        pq.ParquetFile(f).metadata.row_group(0).column(i).compression
        for i in range(pq.ParquetFile(f).metadata.num_columns)
    }
    assert codecs == {"ZSTD"}


def test_validate_unique_ids_catches_cross_content_duplicates(spark, tiny_files):
    """The free stage-0 window only sees duplicates sharing content; a
    record_id duplicated with DIFFERENT content (corrupt caller key) needs
    the opt-in full check — and slips through silently without it being
    the pipeline's problem (documented contract edge)."""
    one = tiny_files.limit(1).select("record_id", "repo", "path", "commit", "lang")
    forged = one.withColumn("content", F.lit("entirely different content"))
    dup = tiny_files.select(
        "record_id", "repo", "path", "commit", "lang", "content"
    ).unionAll(forged)
    with pytest.raises(ValueError, match="duplicate record_id"):
        P.run_pipeline(dup, PipelineConfig(validate_unique_ids=True))
