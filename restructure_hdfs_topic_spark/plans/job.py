"""The complete restructure job: manifest → seen-filter → organize →
dedup → partitioned write → offset commit (SURVEY §3.1 lifecycle), plus
the cleaner job (§3.2) — the reference's two entry points as two
DataFrame plans.

Exactly-once across reruns (SURVEY §7.3 hard-part 1): the offsets state
is recomputed as ONE merged interval aggregation and overwritten
atomically AFTER the data write action succeeds (commit-after-store,
mirroring worker/FileCache.kt:128-158 ordering).  A rerun sees the
committed intervals, the driver-side prune drops every processed file,
and the job writes nothing — idempotence is a property of the plan, not
of locks.  (The reference needs Redis locks because N independent JVMs
race; one Spark app owns the whole plan, so a single deployment needs no
locking.  For MULTI-app deployments sharing one output tree, ``locks.py``
provides the reference's lease semantics over the state dir — O19,
config-gated via ``lock_enable``.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.config import RestructureConfig
from restructure_hdfs_topic_spark.operators.dedup import keep_last_dedup
from restructure_hdfs_topic_spark.operators.offsets import (
    commit_offsets,
    committed_intervals,
    committed_range_index,
)
from restructure_hdfs_topic_spark.plans.restructure import (
    restructure_records,
    write_restructured,
)


def build_manifest(records: DataFrame, file_size: int = 500) -> DataFrame:
    """Derive a (topic, partition, offset_from, offset_to, mtime) manifest
    from a record table carrying (topic, partition, offset, mtime) —
    the test-table analogue of the object-store walk (O1/O3).  With a real
    Avro layout, the same frame comes from input_file_name() + O3 parsing."""
    return (
        records.withColumn("__file", F.expr(f"offset div {file_size}"))
        .groupBy("topic", "partition", "__file")
        .agg(
            F.min("offset").alias("offset_from"),
            F.max("offset").alias("offset_to"),
            F.max("mtime").alias("mtime"),
        )
        .drop("__file")
    )


def run_restructure_job(
    spark: SparkSession,
    records: DataFrame,
    config: RestructureConfig,
    topic: str = "events",
    user_col: str = "user_id",
    time_col: str = "ts",
    order_col: str = "offset",
) -> dict:
    """One restructure iteration.  ``records`` must carry
    (topic, partition, offset, mtime) accounting columns plus the payload.

    Returns counters (O26 analogue: processed records/files written).
    """
    from pyspark.sql import Observation

    # The manifest is file-granularity — one row per source file, exactly
    # what the reference holds in memory as TopicFileList
    # (source/TopicFileList.kt:7-12) — so collecting it to the driver is
    # bounded, and the O4 prune runs there on the committed interval
    # index.  The pending rows are the broadcast join side, the pending
    # count AND the commit ranges, without re-evaluating the plan.  Mtimes
    # travel as unix micros, the value the prune compares, so the
    # committed ``last_processed`` never round-trips through a Python
    # datetime.
    manifest = build_manifest(records).select(
        "topic", "partition", "offset_from", "offset_to",
        F.unix_micros("mtime").alias("mtime_us"),
    )
    index = committed_range_index(committed_intervals(spark, config.state_dir))
    pending = [r for r in manifest.collect() if not index.seen(*r)]
    if not pending:
        return {"records_written": 0, "files_pending": 0}
    todo_files = spark.createDataFrame(pending, manifest.schema)

    # Record-level pruning piggybacks on the file decision (the reference's
    # per-record binary search is a no-op when file granularity suffices —
    # SURVEY §4 "Record-level skip").
    todo = (
        records.join(
            F.broadcast(
                todo_files.select(
                    "topic",
                    "partition",
                    F.col("offset_from").alias("f_from"),
                    F.col("offset_to").alias("f_to"),
                )
            ),
            on=["topic", "partition"],
            how="inner",
        )
        .filter(F.col("offset").between(F.col("f_from"), F.col("f_to")))
        .drop("f_from", "f_to")
    )

    organized = restructure_records(
        todo, user_col=user_col, topic=topic, time_col=time_col,
        bin_format=config.paths.bin_format,
    )
    # Exclude per-record accounting columns from the DEFAULT dedup key —
    # `offset` is unique per record, so including it makes full-row dedup a
    # guaranteed no-op (same exclusion as the Avro job's).  Explicitly
    # configured distinct fields see the full column list, so a config
    # naming an accounting column keys on it as written.
    accounting = {order_col, "offset", "filename", "mtime", "partition", "time"}
    dedup_key = config.dedup_key_for(
        topic, list(organized.columns), default_exclude=accounting
    )
    if dedup_key is not None:
        organized = keep_last_dedup(organized, dedup_key, order_col)

    # Single-pass metrics (O26): the write action IS the only evaluation of
    # the pipeline; the record count rides along as an observation instead
    # of a second full scan.
    obs = Observation()
    organized = organized.observe(obs, F.count(F.lit(1)).alias("n"))
    write_restructured(
        organized,
        config.target_dir,
        fmt=config.format,
        compression=config.compression,
        topics=[topic],
    )
    n_records = int(obs.get["n"])
    # Commit PER-FILE ranges (mirroring the reference's per-file ledger,
    # accounting/Accountant.kt:93-101) — a min/max span per partition would
    # wrongly mark gap offsets between pending files as processed.
    new_ranges = todo_files.select(
        "topic", "partition", "offset_from", "offset_to",
        F.timestamp_micros("mtime_us").alias("last_processed"),
    )
    commit_offsets(spark, config.state_dir, new_ranges)
    return {"records_written": n_records, "files_pending": len(pending)}


def run_cleaner_job(
    spark: SparkSession,
    records: DataFrame,
    config: RestructureConfig,
    now=None,
    commit: bool = True,
) -> DataFrame:
    """Cleaner (O20/O21, cleaner/SourceDataCleaner.kt:76-109): for COMMITTED
    source files older than ``age_days``, verify every record's event time
    appears in the target output.  Fully-extracted files are deletable; the
    rest are ROLLED BACK — their offset ranges are removed from the
    committed state (accountant.remove, SourceDataCleaner.kt:103-106 +
    Accountant.kt:62-65) so the next restructure run reprocesses them.

    Candidacy mirrors the reference's two gates:
    - age: file mtime older than ``age_days`` (config, RestructureConfig.kt:134-146);
    - committed WITH the +1 trick (SourceDataCleaner.kt:86-91): the file's
      range extended by one offset must be contained in the state, so the
      file holding a partition's max committed offset is never deleted
      (Kafka Connect may still append to that offset range).

    Returns the per-file verdict frame; with ``commit=True`` the rollback
    is applied to the state atomically.  The physical source-file delete is
    a driver-side loop over the (tiny) deletable file list, as in the
    reference.
    """
    from restructure_hdfs_topic_spark.operators.offsets import (
        read_offsets,
        remove_offsets,
        replace_offsets,
    )

    state = read_offsets(spark, config.state_dir)
    target = spark.read.format(config.format).load(config.target_dir)
    target_times = target.select(
        F.col("userId").alias("t_user"), F.col("ts").alias("t_ts")
    ).distinct()
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    old = records.filter(
        F.col("mtime") < now_col - F.expr(f"INTERVAL {config.cleaner.age_days} DAYS")
    )
    # The written userId is SANITIZED (restructure_records → sanitize_id);
    # joining the raw source id would never match users whose ids contain
    # characters outside [A-Za-z0-9_-], permanently rolling their files
    # back — apply the same sanitize on the source side.
    from restructure_hdfs_topic_spark.functions.paths import sanitize_id

    joined = old.join(
        target_times,
        (sanitize_id(old["user_id"].cast("string"), "unknown-user") == F.col("t_user"))
        & (old["ts"] == F.col("t_ts")),
        "left",
    )
    per_file = (
        joined.withColumn("__file", F.expr("offset div 500"))
        .groupBy("topic", "partition", "__file")
        .agg(
            F.count("*").alias("n_records"),
            F.sum(F.when(F.col("t_user").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_extracted"),
            F.min("offset").alias("offset_from"),
            F.max("offset").alias("offset_to"),
        )
        .withColumn("deletable", F.col("n_records") == F.col("n_extracted"))
        .withColumnRenamed("__file", "file_id")
    )
    # Committed gate with the +1 trick: extend the range one offset past the
    # end before the containment check.
    st = state.select(
        F.col("topic").alias("s_topic"),
        F.col("partition").alias("s_partition"),
        F.col("offset_from").alias("s_from"),
        F.col("offset_to").alias("s_to"),
    )
    committed = (
        (per_file["topic"] == st["s_topic"])
        & (per_file["partition"] == st["s_partition"])
        & (per_file["offset_from"] >= st["s_from"])
        & (per_file["offset_to"] + 1 <= st["s_to"])
    )
    verdicts = (
        per_file.join(st, committed, "left")
        .withColumn("committed", F.col("s_topic").isNotNull())
        .drop("s_topic", "s_partition", "s_from", "s_to")
        .withColumn("deletable", F.col("deletable") & F.col("committed"))
    )
    if commit:
        rollback = (
            verdicts.filter(F.col("committed") & ~F.col("deletable"))
            .select("topic", "partition", "offset_from", "offset_to")
        )
        if rollback.limit(1).count():
            replace_offsets(spark, config.state_dir, remove_offsets(state, rollback))
    return verdicts
