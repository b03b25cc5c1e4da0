"""Batch-incremental entity resolution: attach a NEW batch of files to an
existing pipeline state without re-scoring the old corpus.

``run_pipeline`` resolves a corpus from scratch; ``incremental_update``
takes the checkpointed state it leaves behind (features, exact-dup
membership, clusters) plus a new batch B and produces the clusters of
A ∪ B while doing wide work proportional to |B| and the old records that
share blocking evidence with B — never |A|²:

1. exact adoption  — B records byte-identical to an old representative
   join that representative's sha-group outright (no features, no pairs);
   the remaining B rows collapse among themselves (stage-0 semantics).
2-5. the shared chain — :func:`~sbb_ned_spark.plans.pipeline.resolve`,
   the same stage code ``run_pipeline`` runs, with the old state as its
   ``prior``: delta blocking (the old side's keys, re-derived from the
   features table and semi-joined to the keys B holds), delta pairs
   (``candidate_pairs(delta_flag="is_new")`` drops old-old pairs before
   the first pair exchange), delta scoring (the feature side restricted
   to records in a delta pair), and partial CC (only clusters an accepted
   delta edge touches re-enter, as star edges; the rest pass through).
   Each delta stage is an eager ``localCheckpoint`` snapshot.
6. state update    — features and exact-dup membership are APPENDED,
   clusters is atomically replaced, and the pair-level stage manifests
   are invalidated (their tables describe A only). A later full
   ``run_pipeline(resume=True)`` over A ∪ B therefore reuses
   exact_groups/features and recomputes only the pair stages, landing on
   the same PARTITION — its labels follow the representative-minimum
   convention, while this function relabels to the global minimum
   (adopted exact-duplicates can undercut every representative), which
   is what a from-scratch rebuild produces.

Semantics vs a full rebuild: identical whenever the blocking caps don't
bind differently across the increment (the per-record candidate cap and
the hot-key cutoff see delta-stream frequencies; scores themselves are
deterministic per pair). tests/test_incremental.py asserts EXACT cluster
equality against the full rebuild on the fixtures and, in
``test_incremental_property_equals_rebuild``, on drawn splits, chained
increments and configs (exact-dup collapse on/off, bucketed features);
the drift-bound story at scale is the standard one: periodic full
rebuild, documented in SCALE.md. The reference has no incremental path
at all — its lookup re-queries the whole Annoy index per batch
(`/root/reference/qurator/sbb_ned/index.py:652-719`).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig
from sbb_ned_spark.operators.blocking import with_ids
from sbb_ned_spark.plans.pipeline import (
    STAGES,
    PipelineResult,
    Prior,
    _config_hash,
    _duplicate_id,
    _expand_members,
    _manifest,
    _valid_manifest,
    resolve,
)
from sbb_ned_spark.sources.catalog import ParquetCatalog, TableCatalog, get_catalog

# the chain an incremental update leaves behind (pair-level stages are
# invalidated — they describe the PRE-increment corpus)
_STATE_CHAIN = ("exact_groups", "features", "clusters")


def _validate_state(catalog: TableCatalog, config: PipelineConfig) -> None:
    """The checkpoint root must hold a complete, config-matching state:
    either a full run_pipeline chain or a previous incremental chain.
    Walks manifests with the same chained-digest rule resume uses — a
    stale or mixed-config state fails loudly here, before any compute."""
    cfg_hash = _config_hash(config)
    for chain in (_STATE_CHAIN, STAGES):
        upstream = None
        for stage in chain if config.collapse_exact_dups else chain[1:]:
            upstream = _valid_manifest(catalog, stage, cfg_hash, upstream)
            if upstream is None:
                break
        else:
            return
    raise ValueError(
        "incremental_update: no valid prior state under "
        f"{config.checkpoint_dir!r} (need a completed run_pipeline or "
        "incremental_update under the SAME config; a config change "
        "requires a full rebuild)"
    )


def _replace_table(
    catalog: TableCatalog, spark, df: DataFrame, name: str, manifest: dict | None = None
) -> None:
    """Atomically replace a table the new contents were COMPUTED FROM.

    Parquet cannot overwrite a directory a plan is still reading (the
    old files vanish mid-scan), so the parquet backend stages to
    ``<name>__staged`` and directory-swaps after the write completes.
    Iceberg overwrites in place — readers pin the prior snapshot.

    Crash-consistency (ADVICE r5 high+medium): ``manifest`` — normally
    the caller's in-progress INVALID manifest — is pre-written into the
    STAGED directory so the post-swap table carries it in the same
    rename as the data, and the swap is rename-aside
    (``mv dst dst__old; mv staged dst; rm dst__old``): a
    manifest-bearing directory exists at every instant except the
    microseconds between the two renames. That window is closed by the
    consumer side: ``er_ingest.ingest_batch`` refuses to bootstrap while
    a ``<name>__old`` / ``<name>__staged`` manifest exists."""
    if isinstance(catalog, ParquetCatalog):
        staged = f"{name}__staged"
        catalog.drop_table(spark, staged)
        catalog.write_table(df, staged)
        if manifest is not None:
            catalog.write_manifest(staged, manifest)
        src, dst = catalog._path(staged), catalog._path(name)
        old = catalog._path(f"{name}__old")
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(dst):
            os.rename(dst, old)
        os.rename(src, dst)
        shutil.rmtree(old, ignore_errors=True)
    else:
        catalog.write_table(df, name)
        if manifest is not None:
            catalog.write_manifest(name, manifest)


def _invalidate_stage(catalog: TableCatalog, spark, stage: str) -> None:
    """Drop a stale pair-level stage and leave a manifest that can never
    validate (no config_hash), so resume recomputes it."""
    catalog.drop_table(spark, stage)
    catalog.write_manifest(
        stage,
        {"stage": stage, "invalidated_by": "incremental_update", "run_nonce": uuid.uuid4().hex},
    )


def incremental_update(
    new_files: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> PipelineResult:
    """Attach ``new_files`` to the checkpointed state in
    ``config.checkpoint_dir`` and return the updated clusters of A ∪ B.

    Requires a completed prior run under the SAME config. Updates the
    state in place (append features/membership, replace clusters), so
    increments chain: A, then +B, then +C, ...
    """
    if not config.checkpoint_dir:
        raise ValueError("incremental_update requires config.checkpoint_dir (the prior state)")
    spark = new_files.sparkSession
    catalog = get_catalog(spark, config.checkpoint_dir)
    _validate_state(catalog, config)
    cfg_hash = _config_hash(config)
    metrics: list[dict] = []

    def stage(name: str, build, partition_by: tuple = ()) -> DataFrame:
        # snapshot each delta stage with an EAGER localCheckpoint (all are
        # |delta|-sized). persist() is not enough: the state update at the
        # end APPENDS to the features table, and Spark's post-write path
        # refresh invalidates every cached plan that scans that path — a
        # merely-persisted scores frame would silently RECOMPUTE against
        # the mutated state (the sha anti-join then sees the appended rows
        # and the whole delta collapses to empty). The checkpoint cuts the
        # file lineage, so the returned frames are immutable snapshots.
        t0 = time.monotonic()
        df = build()
        if name == "blocking_keys":
            # the delta posting stays lazy: candidate_pairs is its only
            # reader, and snapshotting it measured slower
            return df[0]
        df = df.localCheckpoint(eager=True)
        n = df.count()
        metrics.append(
            {"stage": f"delta_{name}", "rows_out": n,
             "wall_ms": int((time.monotonic() - t0) * 1000)}
        )
        return df

    old_feats = catalog.read_table(spark, "features")
    old_clusters = catalog.read_table(spark, "clusters")

    batch = with_ids(new_files)
    # loud id-space guard (mirrors run_pipeline's validate_unique_ids):
    # a batch id colliding with an old id would silently merge two
    # different records' feature rows downstream
    clash = (
        batch.select("record_id")
        .join(old_clusters.select("record_id"), "record_id", "semi")
        .limit(1)
        .collect()
    )
    if clash:
        raise ValueError(
            f"incremental_update: record_id {clash[0]['record_id']} already "
            "exists in the prior state (batches must be disjoint from the corpus)"
        )
    # in-batch duplicate ids would fan out through adoption/membership into
    # duplicate cluster rows (run_pipeline's stage-0 window guard does not
    # run here). Always-on — a batch is delta-sized, the bare-id agg is cheap.
    if dup := _duplicate_id(batch):
        raise ValueError(
            f"incremental_update: duplicate record_id in batch: {dup['record_id']}"
        )

    # ---- 1. exact adoption + in-batch collapse ------------------------------
    membership_new: DataFrame | None = None
    finish = None
    reps, rep_assign = batch, old_clusters
    if config.collapse_exact_dups:
        adopted = batch.join(
            old_feats.select("sha256", F.col("record_id").alias("rep_id")), "sha256"
        ).select("record_id", "rep_id")
        fresh = batch.join(
            old_feats.select("sha256"), "sha256", "anti"
        ).withColumn("rep_id", F.min("record_id").over(Window.partitionBy("sha256")))
        membership_new = stage(
            "exact_groups",
            lambda: adopted.unionByName(fresh.select("record_id", "rep_id")),
        )
        reps = fresh.filter(F.col("record_id") == F.col("rep_id")).drop("rep_id")
        old_membership = catalog.read_table(spark, "exact_groups")
        rep_assign = old_clusters.join(
            old_membership.filter(F.col("record_id") == F.col("rep_id")).select("record_id"),
            "record_id",
            "semi",
        )

        def finish(rep_clusters: DataFrame) -> DataFrame:
            final = _expand_members(old_membership.unionByName(membership_new), rep_clusters)
            # label invariant: cluster_id == the cluster's GLOBAL min record
            # id (run_pipeline guarantees it; chained increments and the
            # planted-truth gate rely on it). Every CC participant is
            # already labeled min-first; the only records that bypass CC
            # are the ADOPTED sha duplicates, so only they can undercut a
            # label. One O(|B|) agg + a tiny broadcast-able relabel join —
            # never an O(|A∪B|) relabel.
            relabel = (
                _expand_members(adopted, rep_clusters)
                .groupBy("cluster_id")
                .agg(F.min("record_id").alias("new_label"))
                .filter(F.col("new_label") < F.col("cluster_id"))
            )
            return (
                final.join(relabel, "cluster_id", "left")
                .withColumn("cluster_id", F.coalesce("new_label", "cluster_id"))
                .select("record_id", "cluster_id", "n_iter")
            )

    # ---- 2-5. the shared chain over the delta -------------------------------
    feats_b, scores, final = resolve(
        reps, config, stage, finish, prior=Prior(old_feats, rep_assign)
    )

    # ---- 6. durable state update ----------------------------------------------
    # ORDER MATTERS twice over. Read-consistency: `final` and `scores`
    # lineages scan the CURRENT features/exact_groups/clusters tables
    # lazily; both are checkpointed + counted above (stage), and clusters
    # is staged-then-swapped, so every read of the old state completes
    # before any table changes underneath. Crash-consistency (ADVICE r5
    # high): the FIRST durable action marks the clusters manifest
    # invalid, every table mutation happens under that mark (the swap
    # installs the same invalid manifest with the new data), the stale
    # pair-level stages are invalidated next, and the VALID chain
    # manifests are written LAST (clusters last in _STATE_CHAIN). So no
    # valid chain manifest ever coexists with a pre-increment pair-level
    # stage, and a crash anywhere in between leaves a present-but-invalid
    # clusters manifest: ingest_batch neither bootstraps nor validates,
    # it raises, as documented.
    in_progress = {
        "stage": "clusters",
        "invalidated_by": "incremental_update_in_progress",
        "run_nonce": uuid.uuid4().hex,
    }
    catalog.write_manifest("clusters", in_progress)
    _replace_table(catalog, spark, final, "clusters", manifest=in_progress)
    part_by = ("repo_bucket",) if config.features_partition_buckets else ()
    catalog.write_table(feats_b, "features", mode="append", partition_by=part_by)
    if membership_new is not None:
        catalog.write_table(membership_new, "exact_groups", mode="append")
    for stage_name in ("blocking_keys", "candidate_pairs", "pair_scores"):
        _invalidate_stage(catalog, spark, stage_name)
    upstream = None
    for stage_name in _STATE_CHAIN if config.collapse_exact_dups else _STATE_CHAIN[1:]:
        upstream = _manifest(stage_name, cfg_hash, upstream, mode="incremental")
        catalog.write_manifest(stage_name, upstream)

    result_clusters = catalog.read_table(spark, "clusters")
    # delta frames are localCheckpoint snapshots, not persist()-cached —
    # their blocks are released when the RDDs are garbage-collected, so
    # there is nothing for unpersist_all() to free
    return PipelineResult(clusters=result_clusters, scores=scores, metrics=metrics)
