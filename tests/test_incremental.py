"""Batch-incremental ER (plans/incremental.py): exact equivalence with a
full rebuild on the fixtures and on drawn splits/configs (property test),
chained increments, exact-dup adoption, state guards, and resume interop
after an increment."""

from __future__ import annotations

import collections
import tempfile

import pyspark.sql.functions as F
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sbb_ned_spark.config import PipelineConfig
from sbb_ned_spark.operators import blocking, clustering, scoring
from sbb_ned_spark.plans import incremental as I
from sbb_ned_spark.plans import pipeline as P

# the layer attributes perfbench/tracing.py wraps; the plans must reach
# them through the module attribute for the tracer's spans to see them
_TRACED_LAYERS = (
    (blocking, "record_features"),
    (blocking, "blocking_keys"),
    (blocking, "split_hot_keys"),
    (blocking, "candidate_pairs"),
    (scoring, "score_pairs"),
    (clustering, "accepted_edges"),
    (clustering, "connected_components"),
)


def _split(files, mod: int, cut: int):
    """Deterministic disjoint split on the id-deriving columns — entities
    get sliced across the parts (the interesting incremental case)."""
    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(mod))
    return files.filter(h < cut), files.filter(h >= cut)


def _assign(clusters) -> dict:
    return {r["record_id"]: r["cluster_id"] for r in clusters.collect()}


def _parts(assign: dict) -> set:
    """The partition a record→cluster map describes, labels ignored."""
    g = collections.defaultdict(set)
    for k, v in assign.items():
        g[v].add(k)
    return {frozenset(s) for s in g.values()}


def _count_layer_calls(monkeypatch) -> collections.Counter:
    calls = collections.Counter()
    for mod, name in _TRACED_LAYERS:
        fn = getattr(mod, name)

        def counted(*args, _fn=fn, _name=name, **kwargs):
            calls[_name] += 1
            return _fn(*args, **kwargs)

        monkeypatch.setattr(mod, name, counted)
    return calls


def test_incremental_equals_full_rebuild(spark, tiny_files, tiny_truth, tmp_path, monkeypatch):
    a, b = _split(tiny_files, 10, 7)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "st"))
    full = P.run_pipeline(tiny_files, PipelineConfig())
    want = _assign(full.clusters)
    full.unpersist_all()

    # tracer contract: each layer is called through its module attribute,
    # once per run (the increment derives keys for the new and old side)
    calls = _count_layer_calls(monkeypatch)
    P.run_pipeline(a, cfg)
    assert calls == {name: 1 for _, name in _TRACED_LAYERS}
    calls.clear()
    res = I.incremental_update(b, cfg)
    assert calls == {name: 2 if name == "blocking_keys" else 1 for _, name in _TRACED_LAYERS}
    monkeypatch.undo()
    got = _assign(res.clusters)
    assert got == want
    # and the planted ground truth still holds end to end
    members, lp = tiny_truth
    q = P.pairwise_f1(res.clusters, spark.createDataFrame(lp))
    assert q["f1"] == 1.0, q
    res.unpersist_all()


def test_incremental_chained_batches(spark, tiny_files, tmp_path):
    """A, then +B, then +C must equal the one-shot rebuild of A∪B∪C."""
    ab, c = _split(tiny_files, 10, 8)
    a, b = _split(ab, 7, 4)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "st"))
    want = _assign(P.run_pipeline(tiny_files, PipelineConfig()).clusters)

    P.run_pipeline(a, cfg)
    I.incremental_update(b, cfg).unpersist_all()
    res = I.incremental_update(c, cfg)
    assert _assign(res.clusters) == want
    res.unpersist_all()


@settings(max_examples=5, derandomize=True, deadline=None)
# the default collapse path with bucketed features and a chained increment,
# which the derandomized draws do not reach on their own
@example(mod=7, n_increments=2, collapse=True, buckets=4)
@given(
    mod=st.integers(min_value=3, max_value=10),
    n_increments=st.integers(min_value=1, max_value=2),
    collapse=st.booleans(),
    buckets=st.sampled_from([0, 4]),
)
def test_incremental_property_equals_rebuild(
    spark, tiny_files, mod, n_increments, collapse, buckets
):
    """For a drawn split (residue classes of an id hash: the base keeps
    the low ones, each increment takes one of the top ``n_increments``),
    with the exact-dup collapse on or off and bucketed features on or
    off, the chained increments give exactly the record -> cluster map of
    one run_pipeline over every file under the same config."""
    cfg = PipelineConfig(collapse_exact_dups=collapse, features_partition_buckets=buckets)
    full = P.run_pipeline(tiny_files, cfg)
    want = _assign(full.clusters)
    full.unpersist_all()

    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(mod))
    base = tiny_files.filter(h < mod - n_increments)
    batches = [tiny_files.filter(h == mod - 1 - i) for i in range(n_increments)]
    with tempfile.TemporaryDirectory() as root:
        state = PipelineConfig(
            checkpoint_dir=root, collapse_exact_dups=collapse, features_partition_buckets=buckets
        )
        P.run_pipeline(base, state)
        for batch in batches:
            res = I.incremental_update(batch, state)
        assert _assign(res.clusters) == want


def test_incremental_exact_adoption_skips_features(spark, tiny_files, tmp_path):
    """A batch that is byte-identical to old content joins the old sha
    groups with ZERO delta feature rows / pairs / scores."""
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "st"))
    base = P.run_pipeline(tiny_files, cfg)
    want = _assign(base.clusters)

    dup = (
        tiny_files.limit(5)
        .drop("record_id", "sha256")  # re-derive from the new path
        .withColumn("path", F.concat(F.col("path"), F.lit(".copy")))
    )
    res = I.incremental_update(dup, cfg)
    m = {x["stage"]: x["rows_out"] for x in res.metrics}
    assert m["delta_exact_groups"] == 5
    assert m["delta_features"] == 0 and m["delta_pair_scores"] == 0
    got = _assign(res.clusters)
    assert sum(1 for k in got if k not in want) == 5
    # each copy landed in the SAME cluster as its original (labels may
    # legitimately shift when a copy's id undercuts the old cluster min)
    import hashlib

    for r in tiny_files.limit(5).collect():
        copy_id = hashlib.sha256(
            "\x1f".join([r["repo"], r["path"] + ".copy", r["commit"]]).encode()
        ).hexdigest()
        assert got[copy_id] == got[r["record_id"]]
    # partition structure over the OLD records is untouched
    def parts(m, keys):
        g = collections.defaultdict(set)
        for k in keys:
            g[m[k]].add(k)
        return {frozenset(s) for s in g.values()}

    assert parts(got, want.keys()) == parts(want, want.keys())
    res.unpersist_all()


def test_incremental_requires_prior_state(spark, tiny_files, tmp_path):
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="no valid prior state"):
        I.incremental_update(tiny_files, cfg)


def test_incremental_rejects_config_change(spark, tiny_files, tmp_path):
    root = str(tmp_path / "st")
    a, b = _split(tiny_files, 10, 7)
    P.run_pipeline(a, PipelineConfig(checkpoint_dir=root))
    with pytest.raises(ValueError, match="no valid prior state"):
        I.incremental_update(b, PipelineConfig(checkpoint_dir=root, decision_threshold=0.7))


def test_incremental_rejects_id_collision(spark, tiny_files, tmp_path):
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "st"))
    P.run_pipeline(tiny_files, cfg)
    with pytest.raises(ValueError, match="already"):
        I.incremental_update(tiny_files.limit(1), cfg)


def test_full_resume_after_increment_reuses_features(spark, tiny_files, tmp_path):
    """After an increment the state chain is exact_groups→features→clusters;
    a full resume over A∪B reuses those and recomputes ONLY the
    invalidated pair-level stages — and lands on the same PARTITION.
    (Labels may differ: the resumed run labels by representative minimum,
    and under an incremental state a cluster's global-min record id can
    be an ADOPTED exact-duplicate rather than a representative — the
    incremental relabel pass restores the global-min convention, the
    plain resume does not. See plans/incremental.py §6.)"""
    a, b = _split(tiny_files, 10, 7)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "st"))
    P.run_pipeline(a, cfg)
    inc = I.incremental_update(b, cfg)
    want = _assign(inc.clusters)

    res = P.run_pipeline(tiny_files, cfg, resume=True)
    recomputed = {m["stage"] for m in res.metrics}
    assert "features" not in recomputed and "exact_groups" not in recomputed
    assert "candidate_pairs" in recomputed  # invalidated by the increment
    got = _assign(res.clusters)
    assert _parts(got) == _parts(want)
    res.unpersist_all()


def test_incremental_rejects_in_batch_duplicate_ids(spark, tiny_files, tmp_path):
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "st"))
    a, b = _split(tiny_files, 10, 7)
    P.run_pipeline(a, cfg)
    doubled = b.limit(1).unionByName(b.limit(1))
    with pytest.raises(ValueError, match="duplicate record_id in batch"):
        I.incremental_update(doubled, cfg)


class _Crash(Exception):
    """A simulated process death at one durable action."""


# every durable action on the state: a segment write, an atomic file
# replace (the commit, and run_pipeline's metrics.json) and a segment drop
def _durable_actions():
    from sbb_ned_spark.sources.catalog import ParquetCatalog

    return (
        (ParquetCatalog, "write_table"),
        (ParquetCatalog, "write_file"),
        (ParquetCatalog, "drop_table"),
    )


def _ingest_both(a, b, cfg, monkeypatch, crash_at=None) -> int:
    """ingest_batch(a) then ingest_batch(b), raising _Crash before the
    ``crash_at``-th durable action (1-based). Returns the action count."""
    from sbb_ned_spark.streaming import er_ingest

    n, depth = 0, 0
    with monkeypatch.context() as m:
        for owner, attr in _durable_actions():

            def counted(*args, _fn=getattr(owner, attr), **kwargs):
                nonlocal n, depth
                if depth:
                    return _fn(*args, **kwargs)
                n += 1
                if n == crash_at:
                    raise _Crash(n)
                depth += 1
                try:
                    return _fn(*args, **kwargs)
                finally:
                    depth -= 1

            m.setattr(owner, attr, counted)
        er_ingest.ingest_batch(a, cfg)
        er_ingest.ingest_batch(b, cfg)
    return n


def test_every_crash_point_recovers_on_retry(spark, tiny_files, tmp_path, monkeypatch):
    """Crash before each durable action of a bootstrap ingest_batch(a)
    followed by an incremental ingest_batch(b), for every action in turn;
    rerunning both calls must give the clusters of run_pipeline(a ∪ b)
    and leave exactly the segments the final commit lists."""
    from sbb_ned_spark.sources.catalog import get_catalog
    from sbb_ned_spark.streaming import er_ingest

    a, b = _split(tiny_files, 10, 7)
    full = P.run_pipeline(tiny_files, PipelineConfig())
    want = _assign(full.clusters)
    full.unpersist_all()

    n_actions = _ingest_both(a, b, PipelineConfig(checkpoint_dir=str(tmp_path / "clean")), monkeypatch)
    assert n_actions > 10
    for i in range(1, n_actions + 1):
        cfg = PipelineConfig(checkpoint_dir=str(tmp_path / f"crash{i}"))
        with pytest.raises(_Crash):
            _ingest_both(a, b, cfg, monkeypatch, crash_at=i)
        er_ingest.ingest_batch(a, cfg)
        er_ingest.ingest_batch(b, cfg)
        catalog = get_catalog(spark, cfg.checkpoint_dir)
        assert _assign(catalog.read_committed(spark, "clusters")) == want, i
        listed = {s for segs in catalog.read_commit()["tables"].values() for s in segs}
        assert set(catalog.segments(spark)) == listed, i


@pytest.mark.parametrize("resume", [True, False], ids=["resume", "rebuild"])
def test_ingest_refuses_state_of_unfinished_run(spark, tiny_files, tmp_path, monkeypatch, resume):
    """A run_pipeline over a resolved state (a resume after an increment,
    or a plain rebuild) that dies after its first commit leaves a commit
    listing no clusters. The next ingest_batch must refuse it, not
    bootstrap the batch over the corpus; once that run is rerun, ingests
    extend the state to the partition of the whole corpus (labels may
    follow the resumed run's representative minimum, see
    test_full_resume_after_increment_reuses_features)."""
    from sbb_ned_spark.sources.catalog import ParquetCatalog
    from sbb_ned_spark.streaming import er_ingest

    a, rest = _split(tiny_files, 10, 5)
    b, c = _split(rest, 10, 8)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "st"))
    er_ingest.ingest_batch(a, cfg)
    er_ingest.ingest_batch(b, cfg)

    writes = 0
    write_table = ParquetCatalog.write_table

    def dies_at_second_write(*args, **kwargs):
        nonlocal writes
        writes += 1
        if writes == 2:
            raise _Crash(writes)
        return write_table(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ParquetCatalog, "write_table", dies_at_second_write)
        with pytest.raises(_Crash):
            P.run_pipeline(a.unionByName(b), cfg, resume=resume)
    assert "clusters" not in ParquetCatalog(cfg.checkpoint_dir).read_commit()["tables"]
    with pytest.raises(ValueError, match="did not finish"):
        er_ingest.ingest_batch(c, cfg)

    P.run_pipeline(a.unionByName(b), cfg, resume=True).unpersist_all()
    assert er_ingest.ingest_batch(c, cfg)["mode"] == "incremental"
    full = P.run_pipeline(tiny_files, PipelineConfig())
    want = _assign(full.clusters)
    full.unpersist_all()
    got = ParquetCatalog(cfg.checkpoint_dir).read_committed(spark, "clusters")
    assert _parts(_assign(got)) == _parts(want)


def test_increments_keep_segment_count_logarithmic(spark, tiny_files, tmp_path):
    """Compaction is a binary counter: after n chained increments the
    features and membership tables list their base segment plus one
    segment per set bit of n, the root holds only listed segments, and
    the clusters equal the full rebuild's."""
    from sbb_ned_spark.sources.catalog import ParquetCatalog

    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(12))
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "st"))
    P.run_pipeline(tiny_files.filter(h < 5), cfg)
    cat = ParquetCatalog(cfg.checkpoint_dir)
    for n in range(1, 8):
        I.incremental_update(tiny_files.filter(h == 4 + n), cfg)
        tables = cat.read_commit()["tables"]
        assert len(tables["features"]) == len(tables["exact_groups"]) == 1 + bin(n).count("1"), n
        assert set(cat.segments(spark)) == {s for segs in tables.values() for s in segs}, n
    full = P.run_pipeline(tiny_files, PipelineConfig())
    assert _assign(cat.read_committed(spark, "clusters")) == _assign(full.clusters)
    full.unpersist_all()
