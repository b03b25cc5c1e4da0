"""End-to-end ER pipeline: the exact-duplicate collapse, then the
:func:`resolve` chain (features, blocking keys, candidate pairs, pair
scores, clusters) that ``incremental_update`` also runs, with stage
checkpointing, resume, per-partition lineage and a durable metrics table.

Replaces the reference's hand-wired queue pipeline
(`/root/reference/qurator/sbb_ned/models/ned_lookup.py:159-173` — 7
chained JobQueues) with four declarative DataFrame stages whose only
barriers are Spark shuffles. Resumability (the reference's
`start_iteration` analog, `embeddings/base.py:286-289`) is stage-level
and rests on the catalog's one commit point: each stage is written as an
immutable segment, then one atomically replaced commit file lists the
stages so far. A crash leaves the last commit, and a resumed run reuses
the longest committed prefix of the stages (north_rule: resumable from
checkpoint).
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field
from functools import partial
from hashlib import sha256

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig
from sbb_ned_spark.operators import blocking, clustering, scoring
from sbb_ned_spark.sources.catalog import ParquetCatalog, get_catalog, segment_name

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
#   3: immutable ``<stage>__v<N>`` segments named by one commit file, in
#      place of per-stage ``<stage>/_MANIFEST.json`` directories
STAGE_FORMAT_VERSION = 3


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


def _duplicate_id(files: DataFrame):
    """One record_id that occurs more than once in ``files`` (a Row with
    its ``count``), or None. A bare-id aggregation: only the 32-byte ids
    are shuffled, never content."""
    dup = files.groupBy("record_id").count().filter(F.col("count") > 1).limit(1).collect()
    return dup[0] if dup else None


def _expand_members(membership: DataFrame, rep_clusters: DataFrame) -> DataFrame:
    """Give each (record_id, rep_id) member its representative's cluster.
    Labels are unchanged: a cluster's min record id is itself a
    representative, so cluster_id == planted entity_id still."""
    return membership.join(
        rep_clusters.withColumnRenamed("record_id", "rep_id"), "rep_id"
    ).select("record_id", "cluster_id", "n_iter")


def _endpoint_ids(pairs: DataFrame) -> DataFrame:
    """Distinct hex record_ids at either end of binary (id_a, id_b) pairs."""
    return (
        pairs.select(F.lower(F.hex("id_a")).alias("record_id"))
        .unionByName(pairs.select(F.lower(F.hex("id_b")).alias("record_id")))
        .distinct()
    )


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


@dataclass
class Prior:
    """The resolved state an increment attaches to: the old corpus's
    stored features and its representatives' clusters
    (record_id, cluster_id, n_iter)."""

    features: DataFrame
    clusters: DataFrame


def resolve(
    reps: DataFrame,
    config: PipelineConfig,
    stage,
    finish=None,
    prior: Prior | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The ER stage chain, shared by :func:`run_pipeline` and
    :func:`~sbb_ned_spark.plans.incremental.incremental_update`:
    features -> blocking keys -> candidate pairs -> pair scores ->
    clusters over the representative files ``reps``. Returns
    (features, scores, clusters).

    ``stage(name, build, partition_by=())`` is the caller's snapshot
    policy. It returns the named stage's frame and calls ``build()`` only
    when it must compute it, so a resumed stage runs no layer (CC runs
    jobs when called, which is why it lives inside the clusters build).
    ``build`` returns the frame, except for blocking_keys, whose build
    returns the (cold, hot) split. ``finish(rep_clusters)``, if given,
    turns the representatives' clusters into the output rows.

    With a ``prior`` the chain is the delta plan: old-old pairs are
    dropped, and only the old clusters an accepted delta edge touches are
    re-solved. Layers are called through their module attributes
    (``blocking.candidate_pairs``), where perfbench's tracer wraps them.
    """

    def build_features():
        df = blocking.record_features(reps, config)
        if config.features_partition_buckets:
            # low-cardinality repo hash bucket: partition pruning stays
            # useful at 10^12 files without a per-repo partition blowup
            df = df.withColumn(
                "repo_bucket",
                F.pmod(F.xxhash64("repo"), F.lit(config.features_partition_buckets)),
            )
        return df

    part = ("repo_bucket",) if config.features_partition_buckets else ()
    feats = stage("features", build_features, partition_by=part)

    def build_keys():
        keys = blocking.blocking_keys(feats, config)
        if prior is not None:
            # the old posting is re-derived from the features table (the
            # stored cold posting dropped old singleton keys, exactly the
            # keys a new record can pair on), restricted by a semi-join to
            # keys the new records hold. For those keys the union's
            # frequency is complete; any other key can only pair old with
            # old, which the state already holds.
            keys = keys.withColumn("is_new", F.lit(True))
            keys = (
                blocking.blocking_keys(prior.features, config)
                .join(keys.select("key").distinct(), "key", "semi")
                .withColumn("is_new", F.lit(False))
                .unionByName(keys)
            )
        return blocking.split_hot_keys(keys, config)

    cold = stage("blocking_keys", build_keys)
    flag = None if prior is None else "is_new"
    pairs = stage(
        "candidate_pairs", lambda: blocking.candidate_pairs(cold, config, delta_flag=flag)
    )

    def build_scores():
        side = feats
        if prior is not None:
            old = prior.features.join(_endpoint_ids(pairs), "record_id", "semi")
            side = old.unionByName(feats)
        return scoring.score_pairs(pairs, side, config)

    scores = stage("pair_scores", build_scores)

    def build_clusters():
        # pair ids arrive as 32-byte binary; CC keeps them binary and hexes
        # back at the output boundary
        edges = clustering.accepted_edges(scores, config)
        records = feats
        if prior is not None:
            # a touched cluster's membership re-enters as star edges
            # (root -> member): the transitive closure of the old accepted
            # edges, already one hop from converged
            touched = (
                prior.clusters.join(_endpoint_ids(edges), "record_id", "semi")
                .select("cluster_id")
                .distinct()
            )
            members = prior.clusters.join(touched, "cluster_id", "semi")
            star = members.filter(F.col("record_id") != F.col("cluster_id")).select(
                F.unhex("cluster_id").alias("id_a"), F.unhex("record_id").alias("id_b")
            )
            edges = star.unionByName(edges)
            records = members.select("record_id").unionByName(feats.select("record_id"))
        # assume_unique_records skips a whole-table distinct. It is safe on
        # the collapse path, where the stage-0 window fails loudly on a
        # repeated record_id, and on a delta, whose ids incremental_update
        # checks; a full run with the collapse off keeps CC's distinct.
        rep_clusters = clustering.connected_components(
            edges,
            records,
            config,
            id_codec="binary",
            assume_unique_records=prior is not None or config.collapse_exact_dups,
        )
        if prior is not None:
            untouched = prior.clusters.join(touched, "cluster_id", "anti")
            rep_clusters = untouched.select(
                "record_id", "cluster_id", "n_iter"
            ).unionByName(rep_clusters)
        return finish(rep_clusters) if finish else rep_clusters

    return feats, scores, stage("clusters", build_clusters)


# Stages whose cache several concurrent jobs read: count them even in light
# mode (round 6, measured via event log). The scoring query reads features
# through three exchange subtrees (pairs chain, fa side, fb side) and the
# candidate self-join reads blocking_keys on both sides; AQE runs such
# subtrees as concurrent jobs, and on a lazily persisted cache each races
# to compute the whole lineage itself ("Block rdd_N already exists"),
# repeating the Arrow-UDF feature stage 2-3x. One count() fills the cache
# once.
_COUNTED = ("features", "blocking_keys")


def run_pipeline(
    files: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    resume: bool = False,
    collect_lineage: bool = False,
    light: bool = False,
) -> PipelineResult:
    """Stage 0 (exact-duplicate collapse), then the :func:`resolve` chain.

    ``light=True`` skips the per-stage count() barriers (rows_out=None)
    of single-consumer stages: those persist lazily and materialize on
    first downstream use — the benchmark mode. features and
    blocking_keys are always counted (see ``_COUNTED``). Durable
    checkpoints imply the counts anyway (the parquet write is a full
    pass).

    Checkpointing goes through the table-catalog seam
    (:mod:`sbb_ned_spark.sources.catalog`): each stage it computes is
    written as a fresh segment (Iceberg when the runtime is configured,
    parquet dirs otherwise) and then committed, the commit listing the
    stages so far and dropping every later one. ``resume=True`` reuses
    the longest prefix of the run's stages that a commit built under the
    same config and ``STAGE_FORMAT_VERSION`` lists. ``metrics.json`` (and,
    with ``collect_lineage``, the ``lineage`` table) are written under
    ``checkpoint_dir`` on either backend."""
    spark = files.sparkSession
    root = config.checkpoint_dir
    catalog = get_catalog(spark, root) if root else None
    cfg_hash = _config_hash(config)
    commit = catalog.read_commit() if catalog else None
    version = commit["version"] if commit else 0
    # a run over a resolved state marks every commit it makes, so a crash
    # before its clusters commit leaves a state incremental_update refuses
    # rather than one ingest_batch bootstraps over (dropping the corpus)
    replaces = bool(catalog and catalog.old_layout()) if commit is None else (
        commit["replaces_resolved"] or "clusters" in commit["tables"]
    )
    done: dict[str, list[str]] = {}  # the stages this run's commits list
    if resume and commit and commit["config_hash"] == cfg_hash and (
        commit["format_version"] == STAGE_FORMAT_VERSION
    ):
        for name in STAGES if config.collapse_exact_dups else STAGES[1:]:
            if name not in commit["tables"]:
                break
            done[name] = commit["tables"][name]
    reused = set(done)
    metrics: list[dict] = []
    lineage_frames: list[DataFrame] = []
    persisted: list[DataFrame] = []
    n_files: int | None = None  # feature rows, the rows_in of later stages

    def stage(name: str, build, partition_by: tuple = ()) -> DataFrame:
        nonlocal version, n_files
        if name in reused:
            df = catalog.read_committed(spark, name, commit)
            if name == "features":
                n_files = df.count()
            return df
        t0 = time.monotonic()
        df, hot = build(), None
        if isinstance(df, tuple):
            df, hot = df
        hot_n = None if light or hot is None else hot.count()
        if catalog is None:
            # no durable checkpoint requested: cache so the stage-boundary
            # count() and downstream stages don't recompute the UDF lineage
            df = df.persist()
            persisted.append(df)
        else:
            version += 1
            seg = segment_name(name, version)
            catalog.write_table(df, seg, partition_by=partition_by)
            done[name] = [seg]
            catalog.commit(spark, {
                "version": version,
                "config_hash": cfg_hash,
                "format_version": STAGE_FORMAT_VERSION,
                "replaces_resolved": replaces,
                "increments": 0,  # incremental_update's compaction counter
                "tables": done,
            })
            df = catalog.read_table(spark, seg)
        n = df.count() if not light or root or name in _COUNTED else None
        row = {
            "stage": name,
            "rows_in": n_files,
            "rows_out": n,
            "wall_ms": int((time.monotonic() - t0) * 1000),
        }
        if hot is not None:
            row["hot_keys_dropped"] = hot_n
        metrics.append(row)
        if name == "features":
            n_files = n
        if collect_lineage:
            lineage_frames.append(_partition_lineage(df, name))
        return df

    files = blocking.with_ids(files)
    if config.validate_unique_ids:
        # Opt-in COMPLETE duplicate-record_id check (see config.py): it
        # also catches a record_id duplicated with different content,
        # which the free stage-0 window below cannot see. Eager by design:
        # fail before any stage computes.
        if dup := _duplicate_id(files):
            raise ValueError(
                "run_pipeline(validate_unique_ids=True): duplicate record_id "
                f"in input: {dup['record_id']} (x{dup['count']})"
            )

    # ---- Stage 0: exact-duplicate collapse -----------------------------------
    # byte-identical files (vendored copies, forks — the dominant duplicate
    # mass at 10^12 files) are collapsed to their min-id representative
    # BEFORE feature extraction; the clusters stage expands members back.
    # This shrinks every downstream stage and removes the giant exact-dup
    # blocks from the pair join entirely.
    finish = None
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
            files.withColumn(
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
        membership = stage("exact_groups", lambda: tagged.select("record_id", "rep_id"))
        files = tagged.filter(F.col("record_id") == F.col("rep_id")).drop("rep_id")
        finish = partial(_expand_members, membership)

    _, scores, clusters = resolve(files, config, stage, finish)

    if root:
        # metrics and lineage are files under the checkpoint root on both
        # backends (the Iceberg catalog keeps only stage segments)
        files_at_root = ParquetCatalog(root)
        files_at_root.write_file("metrics.json", json.dumps(metrics, sort_keys=True, indent=1))
        if lineage_frames:
            lineage = lineage_frames[0]
            for lf in lineage_frames[1:]:
                lineage = lineage.unionByName(lf)
            files_at_root.write_table(lineage, "lineage")

    return PipelineResult(
        clusters=clusters, scores=scores, metrics=metrics, persisted=persisted
    )


# ---------------------------------------------------------------------------
# Quality harness: pairwise P/R/F1 vs labeled pairs (BASELINE.md gate)
# ---------------------------------------------------------------------------

def pairwise_f1(clusters: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Predict 'same entity' iff both ids land in the same cluster; score
    against labeled pairs (the HIPE-scorer analog, SURVEY.md §5.1)."""
    joined = blocking.join_sides(
        labeled_pairs, clusters.select("record_id", F.col("cluster_id").alias("cl")), "record_id"
    )
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
