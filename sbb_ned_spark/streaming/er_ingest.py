"""Streaming entity resolution: continuous micro-batch ingest into the
batch-incremental ER state.

This is the streaming face of :mod:`sbb_ned_spark.plans.incremental` —
a Structured Streaming file source over a landing directory, with each
micro-batch resolved into the checkpointed pipeline state via
``foreachBatch``:

- **first batch ever** (no commit listing ``clusters`` under
  ``config.checkpoint_dir``): bootstrap with a full
  :func:`~sbb_ned_spark.plans.pipeline.run_pipeline`;
- **every later batch**: :func:`~sbb_ned_spark.plans.incremental
  .incremental_update` — wide work O(|batch| + old records sharing
  blocking evidence with it), never O(corpus);
- **replayed batch** (Spark re-delivers a micro-batch after a failure
  between the sink call and the offset commit): records whose
  ``record_id`` already exists in the state are dropped up front, so a
  fully-replayed batch is a no-op. ``record_id`` is the deterministic
  identity hash sha256(repo, path, commit) (``blocking.with_ids``),
  so this is an exactly-once-per-record contract; a genuinely updated
  file arrives under a NEW commit — a new identity — and is resolved as
  a new record (the state is append-only by identity, the same contract
  batch increments have).

The two checkpoint roots are deliberately distinct: ``stream_ckpt_dir``
holds Spark's source offsets/commit log (which FILES were consumed),
``config.checkpoint_dir`` holds the ER state tables (what they resolved
to). The state has one commit point (the catalog's commit file), so a
crash anywhere leaves the last committed state whole:

- crash before the state commit → the old commit stands, the offsets are
  uncommitted → the replayed batch is resolved again;
- crash after the state commit, before the offset commit → replay → the
  batch's records are all in the state → no-op;
- crash during a bootstrap → its commits list no clusters and replace no
  resolved state → the retry bootstraps again.

Segments a crashed attempt left are dropped on the retry. What still
fails loudly is a state this code cannot extend: a commit under another
config or format, the old per-stage manifest layout, or the commit of a
``run_pipeline`` over a resolved state (a rebuild, or a resume after
increments) that died before its clusters commit. Such a run marks its
commits as replacing a resolved state, so the batch is not bootstrapped
over the corpus; rerunning that run (``resume=True``) restores a state
ingest_batch extends.

The reference has no streaming (SURVEY.md §2.9); its closest shape is
the resumable `start_iteration` scan loop
(`/root/reference/qurator/sbb_ned/embeddings/base.py:286-289`), which
this subsumes with checkpointed offsets and transactional state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig
from sbb_ned_spark.operators.blocking import with_ids
from sbb_ned_spark.plans import incremental as I
from sbb_ned_spark.plans import pipeline as P
from sbb_ned_spark.sources.catalog import get_catalog

FILES_DDL = "repo string, path string, commit string, lang string, content string"


def ingest_batch(batch_df: DataFrame, config: PipelineConfig = DEFAULT_CONFIG) -> dict:
    """Resolve ONE micro-batch of files into the ER state at
    ``config.checkpoint_dir``; returns a small metrics dict.

    Standalone-callable (and tested) — ``foreachBatch`` is just the
    streaming driver for it. Distinguishes three cases:

    - no commit listing ``clusters``, and none of an unfinished run over a
      resolved state → bootstrap ``run_pipeline``;
    - a commit under another config or format, the old layout, or an
      unfinished run over a resolved state → raise
      (``incremental._committed_state``): the fix (a rebuild, or a rerun
      under the original config) is an operator decision;
    - a valid state → drop what a crashed attempt left, drop
      already-resolved record_ids (replay guard), then
      ``incremental_update`` on the remainder (no-op if empty).
    """
    if not config.checkpoint_dir:
        raise ValueError("ingest_batch requires config.checkpoint_dir (the ER state root)")
    spark = batch_df.sparkSession
    catalog = get_catalog(spark, config.checkpoint_dir)
    commit = I._committed_state(catalog, config)
    if commit is None:
        res = P.run_pipeline(batch_df, config)
        n = next(
            (m["rows_out"] for m in res.metrics if m["stage"] == "clusters"), None
        )
        res.unpersist_all()
        return {"mode": "bootstrap", "clusters_rows": n, "stages": res.metrics}
    catalog.drop_unlisted(spark, commit)

    batch = with_ids(batch_df)
    seen = catalog.read_committed(spark, "clusters", commit).select("record_id")
    fresh = batch.join(seen, "record_id", "anti")
    if fresh.limit(1).isEmpty():
        return {"mode": "replay_noop", "batch_rows_dropped": batch.count()}
    res = I.incremental_update(fresh, config)
    return {"mode": "incremental", "stages": res.metrics}


def stream_resolve(
    spark: SparkSession,
    landing_dir: str,
    config: PipelineConfig,
    stream_ckpt_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """readStream over a parquet landing dir → one ``ingest_batch`` per
    micro-batch. Returns the started StreamingQuery (caller awaits).

    ``available_now=True`` drains the backlog and stops — the test /
    catch-up harness; production drops the trigger for continuous
    micro-batches. ``max_files_per_trigger`` bounds batch size (at 10^12
    files you want many bounded increments, not one giant one — the
    incremental path's wide work scales with the batch).
    """
    reader = spark.readStream.schema(FILES_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(landing_dir)
    writer = (
        stream.writeStream.foreachBatch(lambda df, _bid: ingest_batch(df, config))
        .option("checkpointLocation", stream_ckpt_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
