"""Streaming entity resolution: continuous micro-batch ingest into the
batch-incremental ER state.

This is the streaming face of :mod:`sbb_ned_spark.plans.incremental` —
a Structured Streaming file source over a landing directory, with each
micro-batch resolved into the checkpointed pipeline state via
``foreachBatch``:

- **first batch ever** (no ``clusters`` manifest under
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
to). Crash between the two is covered from both sides: state updated +
offsets uncommitted → replay → no-op; offsets committed + state update
incomplete → the manifest chain is broken and the next batch fails
LOUDLY (see ``ingest_batch``) instead of silently resolving against a
half-written state.

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

    - no ``clusters`` manifest at all → bootstrap ``run_pipeline``;
    - manifest present but the state chain invalid (mid-update crash,
      config change) → raise: resolving new data against a half-written
      or mismatched state would corrupt it silently, and the fix
      (complete rebuild, or rerun under the original config) is an
      operator decision;
    - valid state → drop already-resolved record_ids (replay guard),
      then ``incremental_update`` on the remainder (no-op if empty).
    """
    if not config.checkpoint_dir:
        raise ValueError("ingest_batch requires config.checkpoint_dir (the ER state root)")
    spark = batch_df.sparkSession
    catalog = get_catalog(spark, config.checkpoint_dir)
    if catalog.read_manifest("clusters") is None:
        # Bootstrap ONLY when nothing suggests a prior state. A mid-swap
        # crash in incremental_update._replace_table can leave the
        # clusters dir momentarily absent but always leaves a
        # manifest-bearing clusters__old / clusters__staged behind
        # (ADVICE r5 medium) — bootstrapping over that would silently
        # discard the prior corpus. A half-finished BOOTSTRAP, by
        # contrast, never creates either artifact, so re-bootstrapping
        # after a bootstrap crash still works.
        for trace in ("clusters__old", "clusters__staged"):
            if catalog.read_manifest(trace) is not None:
                raise ValueError(
                    "ingest_batch: no clusters manifest, but a mid-update "
                    f"swap artifact exists ({trace}) — a crash interrupted "
                    "incremental_update's state swap; inspect/repair the "
                    "state root instead of bootstrap-overwriting it"
                )
        res = P.run_pipeline(batch_df, config)
        n = next(
            (m["rows_out"] for m in res.metrics if m["stage"] == "clusters"), None
        )
        res.unpersist_all()
        return {"mode": "bootstrap", "clusters_rows": n, "stages": res.metrics}
    # fails loudly on a broken/mismatched chain — never bootstrap-overwrite
    I._validate_state(catalog, config)

    batch = with_ids(batch_df)
    seen = catalog.read_table(spark, "clusters").select("record_id")
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
