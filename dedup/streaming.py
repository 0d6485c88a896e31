"""Streaming ingest: Structured Streaming micro-batches folded through the
incremental dedup machinery (SURVEY.md §2.9's stretch goal made real).

Shape: `spark.readStream` over a parquet drop directory (the sandbox
stand-in for an Iceberg-snapshot / Kafka WARC feed) -> `foreachBatch` ->
`dedup.incremental.run_incremental`. foreachBatch rather than stateful
streaming operators, deliberately: the dedup state — signatures, buckets,
clusters — already lives in the warehouse's committed tables, not in
Spark's state store, so every micro-batch becomes one incremental commit
that is resumable, queryable mid-stream, and survives the streaming query
(and Spark itself) restarting. At the design point this is the daily-crawl
service: new WARC batches land in the drop directory and each trigger
folds them into the global dedup view without recomputing old-old work.

Exactly-once over an at-least-once replay: Structured Streaming re-runs a
micro-batch whose epoch did not commit to the checkpoint, so `fold` is
idempotent over batch_id:

  - a fully-processed batch writes an atomic `_STREAM_BATCH_<id>.done`
    marker in the warehouse root (Warehouse.mark_batch_done); a replay
    that sees the marker skips the batch entirely.
  - a replay of a CRASHED attempt first rolls back that attempt's partial
    delta state (`rollback_increment`: unregister + delete every
    `<table>_delta_s<id>`), then re-runs. The rerun is value-identical:
    every stage is deterministic, and if the crashed attempt had already
    swapped the global clusters/canonical generation, re-running over
    (old cluster stars UNION recomputed new edges) reproduces the same
    partition — star edges are exactly the transitive closure of the
    state they replaced.

The marker is keyed by batch_id, which Structured Streaming keeps stable
across replays while the checkpoint exists; if the checkpoint itself is
destroyed, replays stay idempotent as long as the drop directory is
unchanged (the file source re-enumerates the same files in the same
order — asserted in tests/test_streaming.py).

Batch 0 bootstraps: if the warehouse has no completed base run, the first
micro-batch runs the full pipeline (`dedup.pipeline.run`) as the base and
later batches become increments — so a dedup service can be started
against an empty warehouse and a drop directory, nothing else. A crashed
bootstrap replays through pipeline.run's own stage-resume machinery
(committed stages are skipped), so it needs no rollback.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .catalog import Warehouse
from .config import DedupConfig
from .incremental import BASE_TABLES, DELTA_TABLES, compact, run_incremental


def rollback_increment(wh: Warehouse, run_id: str) -> list[str]:
    """Remove every trace of an incomplete increment attempt `run_id`:
    unregister + delete each `<table>_delta_<run_id>`. Safe because no
    LATER increment can have read these deltas — increments are processed
    serially and this one never wrote its done marker. Returns the delta
    table names that were rolled back (registered or not — a crash between
    a delta's manifest commit and its registration leaves an unregistered
    but complete directory, which must also go before the rerun rewrites
    it). Global clusters/canonical generations are NOT rolled back: they
    are pointer-swapped whole, remain valid committed data, and the rerun
    replaces them with an identical partition (module docstring)."""
    rolled = []
    for t in DELTA_TABLES:
        name = wh.delta(t, run_id)
        if wh.unregister_delta(t, name):
            rolled.append(name)
    return rolled


@dataclass
class StreamResult:
    """What one run_stream call did, batch by batch."""

    processed: list[int] = field(default_factory=list)  # ran this call
    skipped: list[int] = field(default_factory=list)  # marker already done
    rolled_back: list[int] = field(default_factory=list)  # partial state removed
    compacted: list[int] = field(default_factory=list)  # batch triggered compact
    bootstrapped: bool = False  # batch ran pipeline.run as the base


def run_stream(
    spark: SparkSession,
    source_dir: str,
    cfg: DedupConfig,
    warehouse_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    bootstrap: bool = True,
    compact_every: int | None = None,
) -> StreamResult:
    """Fold every parquet file currently in `source_dir` (pages schema:
    url, warc_ts, html, text, lang) into the dedup warehouse as a sequence
    of incremental commits, one micro-batch at a time, then stop
    (Trigger.AvailableNow — a deployment runs the same query with a
    processing-time trigger and it never stops). Returns a StreamResult;
    the warehouse's clusters/canonical_pages tables are the live output
    after every batch.

    compact_every=N bounds read-side delta-chain growth for long-lived
    streams: after any batch's done marker lands, if the warehouse holds
    >= N active pages deltas, incremental.compact() folds every committed
    delta into a fresh base generation (under this stream's lease,
    re-entrantly). The trigger reads the WAREHOUSE state, not a counter,
    so a compaction skipped by a crash simply fires after the next batch."""
    from .pipeline import run as run_pipeline
    from .synth import pages_schema

    result = StreamResult()

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        run_id = f"s{batch_id}"
        wh = Warehouse(
            root=warehouse_root, config_hash=cfg.config_hash(), run_id=run_id
        )
        if wh.batch_done(batch_id):
            result.skipped.append(batch_id)
            return
        if batch_df.isEmpty():
            wh.mark_batch_done(batch_id)
            result.processed.append(batch_id)
            return
        # Bootstrap detection must survive a crashed bootstrap's replay:
        # pipeline.run commits `pages` FIRST, so gating on is_complete
        # ("pages") alone would route the replay of a bootstrap that died
        # mid-pipeline to run_incremental, which (correctly) refuses to run
        # without a completed base — wedging the stream. A batch is the
        # bootstrap iff (a) the base run is not complete yet, or (b) it IS
        # complete and the pages manifest carries THIS batch's run_id —
        # i.e. this very batch was the bootstrap and crashed after
        # finishing but before its done marker landed. Either way
        # pipeline.run's stage-resume machinery skips committed stages and
        # finishes the rest (possibly a no-op), exactly as the module
        # docstring promises.
        base_complete = all(wh.is_complete(t) for t in BASE_TABLES)
        pages_man = wh.manifest("pages")
        own_bootstrap = (
            pages_man is not None and pages_man.get("run_id") == run_id
        )
        if bootstrap and (not base_complete or own_bootstrap):
            run_pipeline(spark, batch_df, cfg, warehouse_root, run_id=run_id)
            result.bootstrapped = True
        else:
            if rollback_increment(wh, run_id):
                result.rolled_back.append(batch_id)
            run_incremental(
                spark, batch_df, cfg, warehouse_root, run_id=run_id
            )
        wh.mark_batch_done(batch_id)
        result.processed.append(batch_id)
        if (
            compact_every is not None
            and len(wh.active_deltas("pages")) >= compact_every
        ):
            compact(spark, cfg, warehouse_root, run_id=f"c{batch_id}")
            result.compacted.append(batch_id)

    stream = (
        spark.readStream.schema(pages_schema())
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    # hold the warehouse's single-writer lease for the whole query: the
    # per-batch run/run_incremental calls re-acquire re-entrantly (same
    # pid), while a concurrent second stream/batch writer fails fast
    lease_wh = Warehouse(
        root=warehouse_root, config_hash=cfg.config_hash(), run_id="stream"
    )
    with lease_wh.lease():
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return result
