"""Incremental ingest as Structured Streaming (SURVEY.md §2.8).

The reference's daily path (ref dags/mongo_to_postgres_updation.py:34 +
dags/includes/user_table.py:127-177) is: probe S3 for a CSV drop →
download → read → per-row upsert → archive the file. Spark-first:

* ``readStream`` file source watches the drop directory (S3/HDFS/local —
  same code), discovering files instead of HEAD-probing (S3 op).
* ``Trigger.AvailableNow`` gives batch-like "process everything then stop"
  daily runs with streaming bookkeeping.
* ``foreachBatch`` applies the set-based merge (operators/merge.py) per
  micro-batch — idempotent replays via checkpointed batch ids (the
  reference gets idempotency only from upsert semantics).
* ``cleanSource=archive`` replaces the copy/rename/upload/delete task
  (ref erase_copy_daily_tables.py:7-30) with built-in file lifecycle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import _jvm_classes, _jvm_fs


def date_stamped_name(name: str, when: datetime) -> str:
    """``{stem}_{dd_mm_YYYY}{ext}`` — the reference's backup naming
    contract (ref erase_copy_daily_tables.py:16-18)."""
    stem, dot, ext = name.rpartition(".")
    if not dot:
        stem, ext = name, ""
    return f"{stem}_{when.strftime('%d_%m_%Y')}" + (f".{ext}" if ext else "")


def stamp_archived_files(spark: SparkSession, archive_dir: str,
                         when: datetime | None = None,
                         suffix: str = ".csv") -> list[tuple[str, str]]:
    """Rename files under ``archive_dir`` to the date-stamped backup
    contract (S9). ``cleanSource=archive`` covers the move-out-of-the-way
    lifecycle; this adds the ``{table}_{dd_mm_YYYY}.csv`` naming the
    reference applies before its S3 upload (erase_copy_daily_tables.py:
    16-24). Uses the Hadoop FileSystem API, so ONE code path renames on
    file://, hdfs:// and s3a:// alike — pointing ``archive_dir`` at the
    backup bucket replaces the reference's separate boto3 upload step.

    Returns the (src, dst) pairs renamed. Already-stamped files (dst
    exists or name already carries the stamp) are left alone, so the
    daily run is idempotent within a day.
    """
    when = when or datetime.now()
    stamp = when.strftime("%d_%m_%Y")
    fs, root = _jvm_fs(spark, archive_dir)
    if not fs.exists(root):
        return []
    renamed: list[tuple[str, str]] = []
    it = fs.listFiles(root, True)
    todo = []
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if name.endswith(suffix) and stamp not in name:
            todo.append(p)
    Path = _jvm_classes(spark).Path
    for p in todo:
        dst = Path(p.getParent(), date_stamped_name(p.getName(), when))
        if not fs.exists(dst) and fs.rename(p, dst):
            renamed.append((str(p), str(dst)))
    return renamed


def _stream_id(checkpoint_dir: str, stream_id: str | None = None) -> str:
    """The ``<sid>`` of a stream's exactly-once app id
    (``"<prefix>-<sid>"``, whose epoch mark ``snap_append_txn`` keeps in
    the table's head manifest). Epoch ids are only monotone PER
    CHECKPOINT, so one app id shared by a rebuilt checkpoint dir, or by
    a second stream feeding the same table, would restart at epoch 0
    under a higher mark and silently no-op: the default is a hash of
    ``checkpoint_dir`` (distinct checkpoints never collide), and a
    caller-supplied ``stream_id`` survives checkpoint relocation."""
    return stream_id or hashlib.sha256(
        checkpoint_dir.encode("utf-8")).hexdigest()[:16]


def run_incremental_merge(
    spark: SparkSession,
    drop_dir: str,
    schema: StructType | str,
    merge_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    archive_dir: str | None = None,
    fmt: str = "csv",
    max_files_per_trigger: int | None = None,
) -> None:
    """Process all pending files in ``drop_dir`` through ``merge_batch``,
    then stop (Trigger.AvailableNow) — the reference's daily cadence with
    exactly-once-per-batch bookkeeping. The one drop-folder stream
    driver: every ``run_incremental_*`` job is this call with its own
    ``merge_batch(batch, epoch)``."""
    reader = (spark.readStream.schema(schema).format(fmt))
    if fmt == "csv":
        reader = reader.option("header", True)
    if archive_dir is not None:
        reader = (reader.option("cleanSource", "archive")
                  .option("sourceArchiveDir", archive_dir))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(drop_dir)

    query = (
        stream.writeStream
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def run_incremental_cdc(
    spark: SparkSession,
    drop_dir: str,
    schema: StructType | str,
    table: str,
    key: str,
    checkpoint_dir: str,
    op_col: str = "op",
    ts_col: str | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain a CDC drop folder into an existing snapshot table: each
    micro-batch is one ``snapshots.snap_apply_cdc`` merge commit (hard
    deletes, whole-row replaces, ledger compaction via ``ts_col``), in
    the layout the table's head records. Replay needs no epoch mark: a
    re-applied epoch deletes and re-adds the same rows, so a crashed
    epoch replayed by the checkpoint lands in the same state, and a
    commit is one manifest rename, so there is nothing to recover at
    start."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        snap_apply_cdc,
    )

    def apply(batch: DataFrame, _epoch: int) -> None:
        if batch.isEmpty():
            return
        snap_apply_cdc(spark, table, batch, key, op_col=op_col,
                       ts_col=ts_col)

    run_incremental_merge(spark, drop_dir, schema, apply, checkpoint_dir,
                          fmt=fmt, max_files_per_trigger=max_files_per_trigger)


def run_incremental_ndv_sketches(
    spark: SparkSession,
    drop_dir: str,
    schema: StructType | str,
    table: str,
    keys: list,
    col: str,
    checkpoint_dir: str,
    lgk: int = 12,
    fmt: str = "parquet",
    stream_id: str | None = None,
) -> None:
    """Maintain a standing HLL-partial ledger from a drop folder: each
    micro-batch aggregates to per-``keys`` sketches (batch-sized work)
    and appends them to a manifest-snapshot table EXACTLY-ONCE
    (``snap_append_txn`` keyed by stream id + epoch, see ``_stream_id``).
    Any NDV rollup is then ``operators.sketches.hll_rollup``
    over the ledger: sketch-union cost, never a rescan of history.
    This is the streaming twin of the q142 batch pattern; parity with a
    full batch recompute is gated in tests/test_sketches.py."""
    from airflow_pipelines_from_mongo_to_postgres_spark.operators.sketches import (
        hll_partials,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        snap_append_txn,
    )

    sid = _stream_id(checkpoint_dir, stream_id)

    def apply(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        snap_append_txn(spark, table,
                        hll_partials(batch, keys, col, lgk=lgk),
                        app_id=f"ndv-{sid}", epoch=epoch)

    run_incremental_merge(spark, drop_dir, schema, apply, checkpoint_dir,
                          fmt=fmt)


def run_incremental_expectations(
    spark: SparkSession,
    drop_dir: str,
    schema: StructType | str,
    table: str,
    checks_factory: Callable,
    checkpoint_dir: str,
    fmt: str = "parquet",
    stream_id: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous data-quality monitoring: each micro-batch runs the
    declarative expectations battery (functions/expectations.py — one
    scan per batch regardless of check count) and appends the per-batch
    report, stamped with the epoch, EXACTLY-ONCE to a manifest-snapshot
    ledger (``snap_append_txn`` keyed by stream id + epoch, the
    ``run_incremental_ndv_sketches`` discipline). ``checks_factory``
    takes the batch DataFrame and returns the check list — built per
    batch so FK dimensions resolve in the foreachBatch driver context.
    The ledger is a per-BATCH audit trail (query it for trends/alerts);
    batch reports do not sum into a whole-table report for non-additive
    checks like ``unique`` — run the batch battery on the full table
    for that. The reference's only quality gate is a mid-loop raise
    that poisons the run (ref ``dags/includes/user_table.py:105-121``);
    this is the monitored-pipeline answer."""
    from airflow_pipelines_from_mongo_to_postgres_spark.functions.expectations import (
        run_expectations,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        snap_append_txn,
    )
    from pyspark.sql import functions as F

    sid = _stream_id(checkpoint_dir, stream_id)

    def apply(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        report = run_expectations(batch, checks_factory(batch)) \
            .withColumn("epoch", F.lit(epoch).cast("long"))
        snap_append_txn(spark, table, report,
                        app_id=f"dq-{sid}", epoch=epoch)

    run_incremental_merge(spark, drop_dir, schema, apply, checkpoint_dir,
                          fmt=fmt, max_files_per_trigger=max_files_per_trigger)


def run_incremental_variant_ingest(
    spark: SparkSession,
    drop_dir: str,
    spec: dict,
    table: str,
    checkpoint_dir: str,
    quarantine_table: str | None = None,
    ledger_table: str | None = None,
    checks_factory: Callable | None = None,
    stream_id: str | None = None,
    max_files_per_trigger: int | None = None,
    ejson: bool = False,
) -> None:
    """Streaming schemaless ingest: a JSON-lines drop directory streams
    through ``try_parse_json`` VARIANT parse → typed conform
    (functions/variantdoc.py ``spec``: out_name -> (path, type[,
    default])) → EXACTLY-ONCE snapshot appends, closing the loop
    between the VARIANT document layer and the streaming DQ ledger.
    ``ejson=True`` conforms through :func:`ejson_conform` instead —
    MongoDB Extended JSON v2 wrapper documents ($oid/$date/$number*/
    $binary, the mongoexport format) unwrap per target type, so a
    drop folder fed by ``mongoexport`` streams straight into typed
    snapshot tables (r14):

    * parse-able documents conform to typed rows and append to
      ``table`` (``snap_append_txn`` keyed by stream id + epoch — a
      replayed epoch finds the head's mark at or past it and skips);
    * malformed lines (NULL variant) append RAW to
      ``quarantine_table`` with the epoch, never dropped silently (the
      M14 quarantine discipline; ref ``user_table.py:116-121`` drops
      bad rows on the floor);
    * the expectations battery runs per batch — always including a
      ``variant_parse`` check whose violation count IS the quarantine
      count, plus any ``checks_factory(conformed_batch)`` checks — and
      the report appends to ``ledger_table`` stamped with the epoch.

    One parse per batch: the variant column is computed once and
    persisted across the three sinks (the standard foreachBatch
    multi-sink discipline), so at scale each micro-batch costs one
    text scan + one parse, then three bounded appends. All three
    tables share the app id but keep their own marks, so a crash
    between sinks replays only the missing appends."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.functions.expectations import (
        custom,
        run_expectations,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.functions.variantdoc import (
        as_variant,
        ejson_conform,
        variant_conform,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        snap_append_txn,
    )

    conform_fn = ejson_conform if ejson else variant_conform

    sid = _stream_id(checkpoint_dir, stream_id)

    def apply(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        docs = batch.select(
            F.col("value").alias("_raw"),
            as_variant(F.col("value")).alias("__doc__")).persist()
        try:
            app_id = f"vi-{sid}"
            conformed = conform_fn(
                docs.where(F.col("__doc__").isNotNull()), "__doc__", spec)
            snap_append_txn(spark, table, conformed, app_id, epoch,
                            note=f"variant ingest epoch {epoch}")
            if quarantine_table:
                bad = docs.where(F.col("__doc__").isNull()).select(
                    "_raw", F.lit(epoch).cast("long").alias("epoch"))
                snap_append_txn(spark, quarantine_table, bad, app_id, epoch,
                                note=f"variant quarantine epoch {epoch}")
            if ledger_table:
                checks = [custom("variant_parse",
                                 F.col("__doc__").isNotNull())]
                report = run_expectations(docs, checks)
                if checks_factory:
                    report = report.unionByName(run_expectations(
                        conformed, checks_factory(conformed)))
                snap_append_txn(
                    spark, ledger_table,
                    report.withColumn("epoch",
                                      F.lit(epoch).cast("long")),
                    app_id, epoch, note=f"variant dq epoch {epoch}")
        finally:
            docs.unpersist()

    run_incremental_merge(spark, drop_dir, "value string", apply,
                          checkpoint_dir, fmt="text",
                          max_files_per_trigger=max_files_per_trigger)
