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
6. state update    — one commit: B's features and exact-dup membership
   are written as new segments and listed next to the old ones, clusters
   is a new segment that replaces the old, and the pair-level stages are
   dropped (their tables describe A only). Every crash leaves the old
   commit or the new one, so a retry recovers on its own. A later full
   ``run_pipeline(resume=True)`` over A ∪ B therefore reuses
   exact_groups/features and recomputes only the pair stages, landing on
   the same PARTITION — its labels follow the representative-minimum
   convention, while this function relabels to the global minimum
   (adopted exact-duplicates can undercut every representative), which
   is what a from-scratch rebuild produces. Compaction folds older
   increment segments into the new one as a binary counter, so a table
   lists O(log increments) segments.

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

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig
from sbb_ned_spark.operators.blocking import with_ids
from sbb_ned_spark.plans.pipeline import (
    STAGE_FORMAT_VERSION,
    PipelineResult,
    Prior,
    _config_hash,
    _duplicate_id,
    _expand_members,
    resolve,
)
from sbb_ned_spark.sources.catalog import TableCatalog, get_catalog, segment_name


def _committed_state(catalog: TableCatalog, config: PipelineConfig) -> dict | None:
    """The commit of a resolved state (one that lists clusters) built under
    ``config`` and this ``STAGE_FORMAT_VERSION``; None when nothing has been
    resolved yet (no commit, or a first run_pipeline that never reached
    clusters). Any other state fails loudly, before any compute: a commit
    under another config or format, the per-stage manifest layout of
    format 2, or the unfinished run_pipeline over a resolved state whose
    commits list no clusters yet."""
    commit = catalog.read_commit()
    if commit is None and catalog.old_layout():
        raise ValueError(
            f"state under {config.checkpoint_dir!r} has the old per-stage "
            "_MANIFEST.json layout (format 2), which has no commit file; "
            "rebuild it with run_pipeline"
        )
    if commit is None or "clusters" not in commit["tables"]:
        if commit and commit["replaces_resolved"]:
            raise ValueError(
                f"a run_pipeline over the resolved state under {config.checkpoint_dir!r} "
                "did not finish (its commit lists no clusters); rerun it"
            )
        return None
    if commit["config_hash"] != _config_hash(config) or (
        commit["format_version"] != STAGE_FORMAT_VERSION
    ):
        raise ValueError(
            "incremental_update: no valid prior state under "
            f"{config.checkpoint_dir!r} (need a completed run_pipeline or "
            "incremental_update under the SAME config and format; a config "
            "change requires a full rebuild)"
        )
    return commit


def incremental_update(
    new_files: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> PipelineResult:
    """Attach ``new_files`` to the checkpointed state in
    ``config.checkpoint_dir`` and return the updated clusters of A ∪ B.

    Requires a completed prior run under the SAME config. Commits the
    updated state (features/membership gain a segment, clusters is
    replaced), so increments chain: A, then +B, then +C, ...
    """
    if not config.checkpoint_dir:
        raise ValueError("incremental_update requires config.checkpoint_dir (the prior state)")
    spark = new_files.sparkSession
    catalog = get_catalog(spark, config.checkpoint_dir)
    commit = _committed_state(catalog, config)
    if commit is None:
        raise ValueError(
            "incremental_update: no valid prior state under "
            f"{config.checkpoint_dir!r} (no committed clusters; run run_pipeline first)"
        )
    metrics: list[dict] = []

    def stage(name: str, build, partition_by: tuple = ()) -> DataFrame:
        # snapshot each delta stage with an EAGER localCheckpoint (all are
        # |delta|-sized). persist() is not enough: the commit at the end
        # drops the superseded clusters segment that the clusters and
        # scores lineages scan, so an evicted cache block would recompute
        # against a deleted table. The checkpoint cuts the file lineage,
        # so the returned frames are immutable snapshots.
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

    old_feats = catalog.read_committed(spark, "features", commit)
    old_clusters = catalog.read_committed(spark, "clusters", commit)

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
        old_membership = catalog.read_committed(spark, "exact_groups", commit)
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
    # new segments first, then one commit: it keeps the old features and
    # exact_groups segments, adds the new ones, replaces clusters and
    # drops the pair-level stages (they describe the old corpus). A crash
    # before the commit leaves the old state whole; the leftover segments
    # are dropped by the next commit.
    #
    # Compaction is a binary counter over the ``increments`` committed
    # since the last full run: after n of them an appended table lists its
    # base segments plus one segment per set bit of n, so this increment
    # folds the segments of n's trailing one-bits into its own. A table
    # then lists at most 1 + log2(n + 1) segments past its base, and a row
    # is rewritten at most log2(n) times.
    version = commit["version"] + 1
    tables = commit["tables"]
    n = commit["increments"]
    fold = (~n & (n + 1)).bit_length() - 1  # the trailing one-bits of n

    def segment(df: DataFrame, name: str, partition_by: tuple = ()) -> list[str]:
        seg = segment_name(name, version)
        catalog.write_table(df, seg, partition_by=partition_by)
        return [seg]

    def append(df: DataFrame, name: str, partition_by: tuple = ()) -> list[str]:
        cut = len(tables[name]) - fold
        if fold:
            df = df.unionByName(catalog.read_table(spark, tables[name][cut:]))
        return tables[name][:cut] + segment(df, name, partition_by)

    part_by = ("repo_bucket",) if config.features_partition_buckets else ()
    new = {"features": append(feats_b, "features", part_by)}
    if membership_new is not None:
        new["exact_groups"] = append(membership_new, "exact_groups")
    new["clusters"] = segment(final, "clusters")
    catalog.commit(spark, {**commit, "version": version, "increments": n + 1, "tables": new})

    result_clusters = catalog.read_table(spark, new["clusters"][0])
    # delta frames are localCheckpoint snapshots, not persist()-cached —
    # their blocks are released when the RDDs are garbage-collected, so
    # there is nothing for unpersist_all() to free
    return PipelineResult(clusters=result_clusters, scores=scores, metrics=metrics)
