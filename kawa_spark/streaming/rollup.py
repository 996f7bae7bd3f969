"""Incrementally-maintained rollup tables (continuous aggregates).

The production form of stream_tumbling_count: a parquet rollup table
that stays current as events arrive, maintained by UPDATE-mode
streaming aggregation + per-partition overwrite in foreachBatch.

Mechanics:
* the streaming aggregation keeps per-window state; update mode emits
  only windows CHANGED by each microbatch;
* the flush merges those windows into the table's window-MONTH
  partitions and overwrites only the touched ones (dynamic partition
  overwrite) — an idempotent write, so a replayed batch (crash before
  commit) converges to the same table: exactly-once table contents
  from at-least-once batches;
* a watermark bounds the state: windows older than the horizon stop
  updating and their partitions go cold.

At 100 TB this is the pattern that replaces "re-aggregate the world
nightly": cost per batch is O(changed windows), not O(history).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kawa_spark.functions.exact import dec
from kawa_spark.session import conf_overrides

PARTITION_COL = "month"


def hourly_rollup(events: DataFrame) -> DataFrame:
    """The rollup relation: hourly × event_type counts and sums."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def _table_exists(path: str) -> bool:
    """Whether ``path`` already holds a rollup table to merge into.

    An explicit probe, NOT a blanket try/except around the read:
    swallowing a transient read failure would degrade the merge to the
    changed rows only, and the partition overwrite would then silently
    drop every untouched group in the affected months. Any other data
    at ``path`` (the earlier per-date ``dt=`` layout, unpartitioned
    files) raises: month partitions merged beside it would count its
    rows twice. Entries starting with ``_`` or ``.`` are commit
    metadata, which Spark's reader skips too."""
    if not os.path.isdir(path):
        return False
    entries = [e for e in os.listdir(path) if not e.startswith(("_", "."))]
    foreign = sorted(e for e in entries if not e.startswith(f"{PARTITION_COL}="))
    if foreign:
        raise ValueError(
            f"{path} is not a {PARTITION_COL}-partitioned rollup table "
            f"(found {foreign[0]}); rebuild it from the event stream "
            "into a new path with a new checkpoint"
        )
    return bool(entries)


def start_incremental_rollup(
    spark: SparkSession,
    events: DataFrame,
    path: str,
    checkpoint: str,
    trigger: str | None = None,
    available_now: bool = False,
    state_partitions: int | None = None,
) -> StreamingQuery:
    """Maintain ``path`` as the materialized hourly rollup of the
    events stream.

    ``state_partitions`` sizes the stateful shuffle for THIS query
    (Spark locks shuffle partitions into the checkpoint at first
    batch). State volume here is hours × event types — thousands of
    rows, not billions — so a handful of state stores is right at any
    corpus size; each extra partition is a RocksDB instance spun up
    per batch for no data. Callers with genuinely huge window×key
    spaces pass a bigger number. None = session default.

    ``available_now`` drains what the source holds and stops after the
    last DATA batch: the trailing no-data batch Spark would otherwise
    run only evicts state (update mode emits nothing for it). Skipping
    it is safe across restarts: Spark drops a batch's late rows by the
    watermark the previous batch evicted state with (the commit log
    carries it across a restart), so a window is either still in state
    when a late row for it arrives (the emitted count includes the
    row) or already evicted and the row dropped; the table never holds
    a partial window count. The evictions the skipped batch would have
    run happen in the next drain's first batch instead."""
    _table_exists(path)  # fail before starting on a foreign layout

    def flush(batch_df: DataFrame, batch_id: int) -> None:
        # Partition the table by window MONTH and merge per partition:
        # update emissions carry only the (window, type) groups this
        # batch changed, so the affected months' current rows are read
        # back, losers evicted (anti-join on the group key), and the
        # union rewritten — dynamic overwrite touches only those month
        # directories. Cost per batch: O(changed months × rows/month),
        # with rows/month bounded at 744 windows × |event types|.
        # (Finer directories cost a file commit each: a directory per
        # (hour, type) group made one sf0.1 batch take 26 s, and a
        # directory per date wrote 30 of them for one month of data.)
        # `changed` is read by the months probe and twice by the write
        # (anti-join and union side); persisting it runs the aggregation
        # and its state-store update once instead of per read. It is
        # windows × types rows, so the cache is small.
        changed = batch_df.withColumn(
            PARTITION_COL, F.trunc(F.to_date("window_start"), "month")
        ).persist()
        try:
            months = [
                r[0] for r in changed.select(PARTITION_COL).distinct().collect()
            ]
            if not months:
                return
            merged = changed
            if _table_exists(path):
                existing = batch_df.sparkSession.read.parquet(path).where(
                    F.col(PARTITION_COL).isin(months)
                )
                keep = existing.join(
                    changed.select("window_start", "event_type"),
                    ["window_start", "event_type"],
                    "left_anti",
                )
                merged = changed.unionByName(keep)
            merged.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(PARTITION_COL).parquet(path)
        finally:
            changed.unpersist()

    writer = (
        hourly_rollup(events)
        .writeStream.outputMode("update")
        .foreachBatch(flush)
        .option("checkpointLocation", checkpoint)
    )
    confs = {}
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    if available_now:
        writer = writer.trigger(availableNow=True)
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    # the query clones the session conf at start(), so both confs are
    # scoped to this query and restored right after
    with conf_overrides(spark, confs):
        return writer.start()


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Current rollup contents: each (window, type) group is one row
    holding its latest emission, so this is a plain read."""
    return spark.read.parquet(path).select(
        "window_start", "event_type", "n_events", "total_value"
    )
