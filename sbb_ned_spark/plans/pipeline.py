"""End-to-end 3-stage ER pipeline with stage checkpointing, resume,
per-partition lineage and a durable metrics table.

Replaces the reference's hand-wired queue pipeline
(`/root/reference/qurator/sbb_ned/models/ned_lookup.py:159-173` — 7
chained JobQueues) with four declarative DataFrame stages whose only
barriers are Spark shuffles. Resumability (the reference's
`start_iteration` analog, `embeddings/base.py:286-289`) is stage-level:
each stage writes a parquet checkpoint + manifest; a re-run skips
completed stages (north_rule: resumable from checkpoint).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field
from hashlib import sha256

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig
from sbb_ned_spark.operators import blocking, clustering, scoring
from sbb_ned_spark.sources.catalog import TableCatalog, get_catalog, manifest_digest

STAGES = (
    "exact_groups",
    "features",
    "blocking_keys",
    "candidate_pairs",
    "pair_scores",
    "clusters",
)

# Physical-schema version of the stage checkpoints. Bump whenever a stage's
# on-disk representation changes incompatibly, even if the config hash does
# not — a resume must never feed an old-format checkpoint into new code.
# History:
#   1 (implicit, rounds 1-4a): string record ids in posting/pair/score tables
#   2: 32-byte BINARY record ids end-to-end (commit a92cc15) — a v1
#      pair_scores checkpoint fed to connected_components(id_codec='binary')
#      would double-hex its ids and silently singleton-ize every cluster
#      (ADVICE r4 #2)
STAGE_FORMAT_VERSION = 2


def _with_ids(files: DataFrame) -> DataFrame:
    """Ensure the per-row invariant columns exist (input_hint: record_id
    derived from (repo,path,commit), sha256 of content) — cheap JVM-side
    hashes, no feature extraction."""
    df = files
    if "record_id" not in df.columns:
        df = df.withColumn(
            "record_id", F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256)
        )
    if "sha256" not in df.columns:
        df = df.withColumn("sha256", F.sha2(F.col("content"), 256))
    return df


@dataclass
class PipelineResult:
    clusters: DataFrame
    scores: DataFrame
    metrics: list[dict] = field(default_factory=list)
    persisted: list[DataFrame] = field(default_factory=list)

    def unpersist_all(self) -> None:
        """Release every stage frame this run persisted (checkpoint-less
        runs cache each stage; repeated runs in one session — bench loops,
        scaling harnesses — would otherwise accumulate storage memory)."""
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


def _config_hash(config: PipelineConfig) -> str:
    """Hash of every semantics-bearing config field: a resume against a
    checkpoint written under different blocking/scoring/decision settings
    must recompute, not silently mix stale stages."""
    d = asdict(config)
    d.pop("checkpoint_dir", None)  # where the ckpt lives doesn't change WHAT it is
    return sha256(json.dumps(d, sort_keys=True, default=str).encode()).hexdigest()


def _valid_manifest(
    catalog: TableCatalog | None, stage: str, cfg_hash: str, upstream: dict | None
) -> dict | None:
    """The stage's stored manifest iff it matches the current config AND
    chains to the upstream stage's manifest digest (a later-stage manifest
    over a missing/changed earlier stage is stale, not resumable)."""
    if catalog is None:
        return None
    m = catalog.read_manifest(stage)
    if not m:
        return None
    if m.get("config_hash") != cfg_hash:
        return None
    # a manifest written before STAGE_FORMAT_VERSION existed has no
    # format_version key -> treated as v-unknown -> not resumable
    if m.get("format_version") != STAGE_FORMAT_VERSION:
        return None
    if m.get("upstream_digest") != manifest_digest(upstream):
        return None
    return m


def _partition_lineage(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition row counts — the durable analog of the reference's
    tqdm progress counters (`ground_truth/clef_hipe_2022.py:355-368`)."""
    return (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(F.count("*").alias("rows"))
        .withColumn("stage", F.lit(stage))
        .select("stage", "partition_id", "rows")
    )


def run_pipeline(
    files: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    resume: bool = False,
    collect_lineage: bool = False,
    light: bool = False,
) -> PipelineResult:
    """``light=True`` skips the per-stage count() barriers (rows_out=None)
    for SINGLE-consumer stages: those persist lazily and materialize on
    first downstream use — the benchmark mode. Multi-consumer stages
    (features, blocking_keys) keep an eager count() even in light mode:
    their cache is read by several independent exchange subtrees that AQE
    runs as concurrent jobs, and a lazy cache makes each job recompute
    the full lineage (see the eager_cache notes below). Durable
    checkpoints imply the counts anyway (the parquet write is a full
    pass).

    Checkpointing goes through the table-catalog seam
    (:mod:`sbb_ned_spark.sources.catalog`): each stage is a named table
    (Iceberg when the runtime is configured, parquet dirs otherwise) whose
    manifest records the config hash and the upstream stage's manifest
    digest — resume only reuses a stage whose whole upstream CHAIN is
    intact and was built under the same config."""
    spark = files.sparkSession
    root = config.checkpoint_dir
    catalog = get_catalog(spark, root) if root else None
    cfg_hash = _config_hash(config)
    metrics: list[dict] = []
    lineage_frames: list[DataFrame] = []
    persisted: list[DataFrame] = []
    upstream: dict | None = None  # manifest of the previous stage

    def finish_stage(stage: str, df: DataFrame, partition_by: tuple = ()) -> DataFrame:
        nonlocal upstream
        manifest = {
            "stage": stage,
            "config_hash": cfg_hash,
            "format_version": STAGE_FORMAT_VERSION,
            "upstream_digest": manifest_digest(upstream),
            # fresh nonce per RECOMPUTE: any stage rebuilt this run (its
            # inputs may have drifted) conservatively invalidates every
            # downstream manifest chained to the old build
            "run_nonce": uuid.uuid4().hex,
        }
        if catalog is None:
            # no durable checkpoint requested: cache so the stage-boundary
            # count() and downstream stages don't recompute the UDF lineage
            df = df.persist()
            persisted.append(df)
        else:
            catalog.write_table(df, stage, partition_by=partition_by)
            catalog.write_manifest(stage, manifest)
            df = catalog.read_table(spark, stage)
        upstream = manifest
        return df

    def timed(
        stage: str,
        fn,
        rows_in: int | None = None,
        partition_by: tuple = (),
        eager_cache: bool = False,
    ):
        t0 = time.monotonic()
        df = finish_stage(stage, fn(), partition_by)
        n = None
        if not light or root or eager_cache:
            n = df.count()
        metrics.append(
            {
                "stage": stage,
                "rows_in": rows_in,
                "rows_out": n,
                "wall_ms": int((time.monotonic() - t0) * 1000),
            }
        )
        if collect_lineage:
            lineage_frames.append(_partition_lineage(df, stage))
        return df, n

    def resumable(stage: str) -> dict | None:
        return _valid_manifest(catalog, stage, cfg_hash, upstream) if resume else None

    if config.validate_unique_ids:
        # Opt-in COMPLETE duplicate-record_id check (see config.py): one
        # bare-id aggregation pass (32-byte ids only — content is never
        # shuffled here) that also catches a record_id duplicated with
        # different content, which the free stage-0 window below cannot
        # see. Eager by design: fail before any stage computes.
        dup = (
            _with_ids(files)
            .select("record_id")
            .groupBy("record_id")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "run_pipeline(validate_unique_ids=True): duplicate record_id "
                f"in input: {dup[0]['record_id']} (x{dup[0]['count']})"
            )

    # ---- Stage 0: exact-duplicate collapse -----------------------------------
    # byte-identical files (vendored copies, forks — the dominant duplicate
    # mass at 10^12 files) are collapsed to their min-id representative
    # BEFORE feature extraction; the clusters stage expands members back.
    # This shrinks every downstream stage and removes the giant exact-dup
    # blocks from the pair join entirely.
    membership: DataFrame | None = None
    if config.collapse_exact_dups:
        from pyspark.sql.window import Window

        # ONE shuffle, one scan: rep_id = min(record_id) over the sha256
        # partition (unordered window = whole-partition aggregate, no
        # sort-by-value). Content crosses this single shuffle once and the
        # map-side of every later stage starts from unique contents only.
        # The (sha256, record_id) duplicate-count window rides the SAME
        # exchange (its keys are a superset of the partitioning) and makes
        # a caller manifest that lists the same record twice a LOUD error:
        # a duplicate record_id would otherwise pass the rep filter twice
        # and silently emit duplicate cluster rows (the clusters join runs
        # with assume_unique_records=True on this path). CONTRACT EDGE:
        # this window only sees duplicates that share content; a record_id
        # duplicated with DIFFERENT content (corrupt caller-supplied key —
        # impossible when the id is derived from (repo,path,commit)) lands
        # in different sha groups and needs config.validate_unique_ids
        # (the full bare-id check above) to be caught.
        tagged = (
            _with_ids(files)
            .withColumn(
                "rep_id", F.min("record_id").over(Window.partitionBy("sha256"))
            )
            .withColumn(
                "_n_dup",
                F.count("*").over(Window.partitionBy("sha256", "record_id")),
            )
            .withColumn(
                "rep_id",
                F.when(F.col("_n_dup") == 1, F.col("rep_id")).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "run_pipeline: duplicate record_id in input "
                                "(same record listed more than once): "
                            ),
                            F.col("record_id"),
                        )
                    )
                ),
            )
            .drop("_n_dup")
        )
        if (m := resumable("exact_groups")) is not None:
            membership = catalog.read_table(spark, "exact_groups")
            upstream = m
        else:
            membership, _ = timed(
                "exact_groups", lambda: tagged.select("record_id", "rep_id")
            )
        files = tagged.filter(F.col("record_id") == F.col("rep_id")).drop("rep_id")

    # ---- Stage 1a: features ------------------------------------------------
    if (m := resumable("features")) is not None:
        feats = catalog.read_table(spark, "features")
        n_files = feats.count()
        upstream = m
    else:
        part = ("repo_bucket",) if config.features_partition_buckets else ()
        def build_features():
            df = blocking.record_features(files, config)
            if config.features_partition_buckets:
                # low-cardinality repo hash bucket: partition pruning stays
                # useful at 10^12 files without a per-repo partition blowup
                df = df.withColumn(
                    "repo_bucket",
                    F.pmod(F.xxhash64("repo"), F.lit(config.features_partition_buckets)),
                )
            return df
        # eager_cache even in light mode (round 6, measured via event log):
        # the scoring query consumes `feats` through THREE independent
        # exchange subtrees (pairs chain, fa side, fb side), and AQE
        # materializes independent subtrees as CONCURRENT jobs — with a
        # lazily-persisted cache each job races to compute the full Arrow-
        # UDF feature lineage itself ("Block rdd_N already exists" in the
        # bench stderr), duplicating the pipeline's most expensive per-row
        # stage 2-3x. One count() barrier populates the cache once; every
        # subtree then reads stored blocks.
        feats, n_files = timed(
            "features", build_features, partition_by=part, eager_cache=True
        )

    # ---- Stage 1b: blocking keys (with hot-key cutoff) ----------------------
    if (m := resumable("blocking_keys")) is not None:
        cold = catalog.read_table(spark, "blocking_keys")
        upstream = m
    else:
        keys = blocking.blocking_keys(feats, config)
        cold_raw, hot = blocking.split_hot_keys(keys, config)
        hot_n = None if light else hot.count()
        # eager_cache: the candidate self-join reads `cold` on BOTH sides —
        # same concurrent-materialization race as `feats` above
        cold, _ = timed(
            "blocking_keys", lambda: cold_raw, rows_in=n_files, eager_cache=True
        )
        metrics[-1]["hot_keys_dropped"] = hot_n

    # ---- Stage 1c: candidate pairs -------------------------------------------
    if (m := resumable("candidate_pairs")) is not None:
        pairs = catalog.read_table(spark, "candidate_pairs")
        upstream = m
    else:
        pairs, _ = timed(
            "candidate_pairs", lambda: blocking.candidate_pairs(cold, config), rows_in=n_files
        )

    # ---- Stage 2: pairwise scoring -------------------------------------------
    if (m := resumable("pair_scores")) is not None:
        scores = catalog.read_table(spark, "pair_scores")
        upstream = m
    else:
        scores, _ = timed(
            "pair_scores",
            lambda: scoring.score_pairs(pairs, feats, config),
            rows_in=n_files,
        )

    # ---- Stage 3: decision + connected components -----------------------------
    if (m := resumable("clusters")) is not None:
        clusters = catalog.read_table(spark, "clusters")
        upstream = m
    else:
        def build_clusters():
            edges = clustering.accepted_edges(scores, config)
            # pair ids arrive as 32-byte binary (blocking/scoring run on
            # unhexed sha256 ids end-to-end); CC keeps them binary and
            # hexes back at the output boundary
            # assume_unique_records skips a whole-table distinct. It is
            # safe only on the collapse path, where the stage-0 duplicate
            # guard above fails loudly on repeated record_ids; with the
            # collapse off (diagnostic mode) nothing upstream checks, so
            # CC keeps its own distinct there.
            rep_clusters = clustering.connected_components(
                edges,
                feats,
                config,
                id_codec="binary",
                assume_unique_records=config.collapse_exact_dups,
            )
            if membership is None:
                return rep_clusters
            # expand exact-dup members to their representative's cluster;
            # labels are unchanged (a cluster's min record id is itself a
            # representative, so cluster_id == planted entity_id still)
            return membership.join(
                rep_clusters.withColumnRenamed("record_id", "rep_id"), "rep_id"
            ).select("record_id", "cluster_id", "n_iter")

        clusters, _ = timed("clusters", build_clusters, rows_in=n_files)

    if root:
        with open(os.path.join(root, "metrics.json"), "w") as f:
            json.dump(metrics, f, sort_keys=True, indent=1)
        if lineage_frames:
            lineage = lineage_frames[0]
            for lf in lineage_frames[1:]:
                lineage = lineage.unionByName(lf)
            lineage.write.mode("overwrite").parquet(os.path.join(root, "lineage"))

    return PipelineResult(
        clusters=clusters, scores=scores, metrics=metrics, persisted=persisted
    )


# ---------------------------------------------------------------------------
# Quality harness: pairwise P/R/F1 vs labeled pairs (BASELINE.md gate)
# ---------------------------------------------------------------------------

def pairwise_f1(clusters: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Predict 'same entity' iff both ids land in the same cluster; score
    against labeled pairs (the HIPE-scorer analog, SURVEY.md §5.1)."""
    ca = clusters.select(
        F.col("record_id").alias("id_a"), F.col("cluster_id").alias("cl_a")
    )
    cb = clusters.select(
        F.col("record_id").alias("id_b"), F.col("cluster_id").alias("cl_b")
    )
    joined = labeled_pairs.join(ca, "id_a").join(cb, "id_b")
    agg = joined.agg(
        F.sum(((F.col("cl_a") == F.col("cl_b")) & (F.col("label") == 1)).cast("int")).alias("tp"),
        F.sum(((F.col("cl_a") == F.col("cl_b")) & (F.col("label") == 0)).cast("int")).alias("fp"),
        F.sum(((F.col("cl_a") != F.col("cl_b")) & (F.col("label") == 1)).cast("int")).alias("fn"),
        F.count("*").alias("n_pairs"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"]), int(agg["fp"]), int(agg["fn"])
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "n_pairs": int(agg["n_pairs"]),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
