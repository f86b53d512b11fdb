"""Structured Streaming: incremental file-drop merge (the reference's daily
DAG lifecycle, SURVEY.md §2.8) and windowed aggregation parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, StringType, StructField, StructType, TimestampType,
)

from airflow_pipelines_from_mongo_to_postgres_spark.operators.merge import merge_upsert
from airflow_pipelines_from_mongo_to_postgres_spark.plans.pipeline import Warehouse
from airflow_pipelines_from_mongo_to_postgres_spark.sources.catalog import load_table
from airflow_pipelines_from_mongo_to_postgres_spark.streaming import (
    run_incremental_merge,
    session_counts,
    sliding_counts,
    tumbling_counts,
)

SCHEMA = StructType([
    StructField("_id", StringType()),
    StructField("status", StringType()),
    StructField("amount", DoubleType()),
])


def _ts_from_raw_long(parquet_path: str, col: str = "ts"):
    """Column expr converting ``col`` read as a raw LongType back to a
    timestamp, using the parquet file's declared timestamp unit (the
    fixture has flipped between timestamp[ns] and timestamp[us] across
    driver rounds — never hardcode the unit)."""
    import pyarrow.parquet as pq

    unit = pq.read_schema(parquet_path).field(col).type.unit
    divisor = {"s": None, "ms": None, "us": 1, "ns": 1000}[unit]
    if unit == "s":
        return F.timestamp_seconds(F.col(col))
    if unit == "ms":
        return F.timestamp_millis(F.col(col))
    return F.timestamp_micros(F.expr(f"{col} div {divisor}"))


def test_incremental_merge_two_drops(spark, tmp_path):
    drop = tmp_path / "drop"; drop.mkdir()
    ckpt = str(tmp_path / "ckpt")
    arch = str(tmp_path / "archive")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("t", spark.createDataFrame(
        [("a", "new", 1.0), ("b", "new", 2.0)], SCHEMA))

    (tmp_path / "drop" / "day1.csv").write_text(
        "_id,status,amount\nb,done,99.0\nc,new,3.0\n")

    def merge_batch(batch, batch_id):
        wh.write("t", merge_upsert(wh.read("t"), batch, "_id", ["status"]))

    run_incremental_merge(spark, str(drop), SCHEMA, merge_batch, ckpt,
                          archive_dir=arch)
    rows = {r._id: (r.status, r.amount) for r in wh.read("t").collect()}
    assert rows == {"a": ("new", 1.0), "b": ("done", 2.0), "c": ("new", 3.0)}

    # second drop — checkpoint must skip day1, process only day2
    (tmp_path / "drop" / "day2.csv").write_text(
        "_id,status,amount\na,gone,0.0\nd,new,4.0\n")
    run_incremental_merge(spark, str(drop), SCHEMA, merge_batch, ckpt,
                          archive_dir=arch)
    rows = {r._id: (r.status, r.amount) for r in wh.read("t").collect()}
    assert rows["a"] == ("gone", 1.0)  # mutable updated, frozen amount kept
    assert rows["d"] == ("new", 4.0)
    assert len(rows) == 4


def test_streaming_window_equals_batch(spark, tmp_path, sf_dir):
    """Same tumbling aggregation through readStream == through batch."""
    from pyspark.sql.types import LongType

    events = load_table(spark, "events", sf_dir)
    # stream the parquet dir with the RAW schema (ts = epoch long, as on disk)
    raw = StructType([
        StructField(f.name, LongType() if f.name == "ts" else f.dataType)
        for f in events.schema.fields])
    src = tmp_path / "events_src"
    src.mkdir()
    (src / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(raw).parquet(str(src))
    agg = tumbling_counts(stream.withColumn(
        "ts", _ts_from_raw_long(f"{sf_dir}/events.parquet")))
    q = (agg.writeStream.format("memory").queryName("win_test")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.window_start, r.event_type): (r.events, r.total_value)
           for r in spark.sql("SELECT * FROM win_test").collect()}

    batch = tumbling_counts(events)
    want = {(r.window_start, r.event_type): (r.events, r.total_value)
            for r in batch.collect()}
    assert got == want


def test_streaming_session_window_equals_batch(spark, tmp_path, sf_dir):
    """session_counts through readStream + watermark == through batch."""
    from pyspark.sql.types import LongType

    events = load_table(spark, "events", sf_dir)
    raw = StructType([
        StructField(f.name, LongType() if f.name == "ts" else f.dataType)
        for f in events.schema.fields])
    src = tmp_path / "events_src"
    src.mkdir()
    (src / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(raw).parquet(str(src))
    agg = session_counts(stream.withColumn(
        "ts", _ts_from_raw_long(f"{sf_dir}/events.parquet")))
    q = (agg.writeStream.format("memory").queryName("sess_test")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck_sess"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id, r.session_start): (r.session_end, r.events, r.total_value)
           for r in spark.sql("SELECT * FROM sess_test").collect()}
    want = {(r.user_id, r.session_start): (r.session_end, r.events, r.total_value)
            for r in session_counts(events).collect()}
    assert got == want


def test_sliding_counts_batch_shape(spark, sf_dir):
    events = load_table(spark, "events", sf_dir)
    out = sliding_counts(events)
    # every event lands in exactly 2 sliding windows (10m width, 5m slide)
    total = out.agg(F.sum("events").alias("s")).collect()[0].s
    assert total == 2 * events.count()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Re-posted rows inside one micro-batch collapse to first arrival."""
    from pyspark.sql.types import LongType, TimestampType

    from airflow_pipelines_from_mongo_to_postgres_spark.streaming import (
        dedup_exact_stream,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("ts", TimestampType()),
    ])
    src = tmp_path / "docs_src"; src.mkdir()
    batch = spark.createDataFrame(
        [(1, "hello world", "2024-01-01 00:00:00"),
         (2, "Hello  World", "2024-01-01 00:01:00"),   # content dup of 1
         (3, "different text", "2024-01-01 00:02:00")],
        ["doc_id", "text", "ts_s"],
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    batch.write.parquet(str(src / "p"))

    stream = spark.readStream.schema(schema).parquet(str(src / "p"))
    out = dedup_exact_stream(stream)
    q = (out.writeStream.format("memory").queryName("dedup_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_dd"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r.doc_id for r in spark.sql("SELECT * FROM dedup_test").collect()}
    assert 3 in got and len(got) == 2  # one of {1,2} plus 3


def test_batch_dedup_within_watermark_fallback(spark):
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming import (
        dedup_within_watermark,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], ["k", "v"])
    assert dedup_within_watermark(df, ["k"]).count() == 2


def test_stateful_latest_compaction_across_restarts(spark, tmp_path):
    """applyInPandasWithState CDC compactor: per-key latest survives a
    query restart (checkpointed state) and older arrivals are suppressed."""
    from pyspark.sql.types import LongType, TimestampType

    from airflow_pipelines_from_mongo_to_postgres_spark.streaming import (
        latest_state_per_key,
    )

    schema = StructType([
        StructField("k", StringType()),
        StructField("ts", TimestampType()),
        StructField("v", LongType()),
    ])
    src = tmp_path / "cdc_src"; src.mkdir()
    ckpt = str(tmp_path / "ck_cdc")

    def run(name):
        emitted = []

        def sink(batch, batch_id):
            emitted.extend(batch.collect())

        stream = spark.readStream.schema(schema) \
            .option("header", True).csv(str(src))
        out = latest_state_per_key(stream, "k", "ts", ["v"])
        q = (out.writeStream.foreachBatch(sink)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {r.k: (str(r.ts), r.v) for r in emitted}

    def drop(fname, rows):
        lines = "k,ts,v\n" + "".join(f"{k},{ts},{v}\n" for k, ts, v in rows)
        (src / fname).write_text(lines)

    drop("b1.csv", [("a", "2024-01-01 00:00:10", 1), ("b", "2024-01-01 00:00:20", 2),
                    ("a", "2024-01-01 00:00:15", 7)])
    got1 = run("cdc_run1")
    assert got1 == {"a": ("2024-01-01 00:00:15", 7), "b": ("2024-01-01 00:00:20", 2)}

    # restart: a advances (emit), b regresses (suppressed by recovered state)
    drop("b2.csv", [("a", "2024-01-01 00:00:30", 9), ("b", "2024-01-01 00:00:05", 0)])
    got2 = run("cdc_run2")
    assert got2 == {"a": ("2024-01-01 00:00:30", 9)}


def test_archive_files_get_date_stamped_names(spark, tmp_path):
    """S9 backup-naming contract: after the daily run, archived drops are
    renamed {table}_{dd_mm_YYYY}.csv (ref erase_copy_daily_tables.py:16-18);
    re-stamping the same day is a no-op (idempotent daily task)."""
    from datetime import datetime

    from airflow_pipelines_from_mongo_to_postgres_spark.streaming import (
        date_stamped_name,
        stamp_archived_files,
    )

    when = datetime(2024, 3, 7)
    assert date_stamped_name("users.csv", when) == "users_07_03_2024.csv"

    arch = tmp_path / "archive" / "nested"
    arch.mkdir(parents=True)
    (arch / "users.csv").write_text("_id\n1\n")
    (arch / "orders.csv").write_text("_id\n2\n")
    (arch / "notes.txt").write_text("not a drop")

    renamed = stamp_archived_files(spark, str(tmp_path / "archive"), when=when)
    assert len(renamed) == 2
    names = sorted(p.name for p in arch.iterdir())
    assert names == ["notes.txt", "orders_07_03_2024.csv",
                     "users_07_03_2024.csv"]
    # same-day re-run: nothing left to stamp
    assert stamp_archived_files(spark, str(tmp_path / "archive"), when=when) == []
    # absent dir: graceful empty
    assert stamp_archived_files(spark, str(tmp_path / "nope"), when=when) == []


def test_stream_static_enrichment_equals_batch(spark, tmp_path):
    """Stream-static broadcast join: streamed facts pick up dimension
    attributes; results equal the batch join."""
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming import (
        enrich_with_dimension,
    )
    from pyspark.sql.types import LongType, StringType

    facts = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "zz", 30.0)],
        "k bigint, dim_key string, v double")
    dim = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "dim_key string, label string")
    src = tmp_path / "facts"; src.mkdir()
    facts.write.parquet(str(src / "p"))

    stream = spark.readStream.schema(facts.schema).parquet(str(src / "p"))
    out = enrich_with_dimension(stream, dim, ["dim_key"])
    q = (out.writeStream.format("memory").queryName("enrich_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_en"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.k, r.label) for r in spark.sql("SELECT * FROM enrich_test").collect()}
    want = {(r.k, r.label) for r in
            enrich_with_dimension(facts, dim, ["dim_key"]).collect()}
    assert got == want
    assert (3, None) in got  # left join keeps unmatched facts


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (purchases within 10 min of
    a signup, per user) == the same join run in batch mode."""
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming import (
        interval_join_streams,
    )

    signups = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 01:00:00")],
        ["user_id", "ts_s"],
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    purchases = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00", 9.99),   # within 10 min → match
         (1, "2024-01-01 00:20:00", 5.00),   # too late → no match
         (2, "2024-01-01 01:09:59", 1.00),   # within → match
         (3, "2024-01-01 00:01:00", 7.00)],  # no signup → no match
        ["user_id", "ts_s", "amount"],
    ).withColumn("pts", F.col("ts_s").cast("timestamp")).drop("ts_s")

    sdir = tmp_path / "su"; sdir.mkdir(); signups.write.parquet(str(sdir / "p"))
    pdir = tmp_path / "pu"; pdir.mkdir(); purchases.write.parquet(str(pdir / "p"))
    s_stream = spark.readStream.schema(signups.schema).parquet(str(sdir / "p"))
    p_stream = spark.readStream.schema(purchases.schema).parquet(str(pdir / "p"))

    out = interval_join_streams(s_stream, p_stream, "user_id", "ts", "pts")
    q = (out.writeStream.format("memory").queryName("ssj_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_ssj"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id, r.r_amount)
           for r in spark.sql("SELECT * FROM ssj_test").collect()}
    want = {(r.user_id, r.r_amount) for r in
            interval_join_streams(signups, purchases, "user_id", "ts", "pts")
            .collect()}
    assert got == want == {(1, 9.99), (2, 1.00)}


def test_streaming_curation_equals_batch(spark, tmp_path, sf_dir):
    """Streamed corpus curation (two micro-batch file drops appended to
    the state ledger) must converge to exactly the batch q50
    answer on the union — min/count combiners are associative."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans.llmdata import (
        curated_fingerprint_agg,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.catalog import load_table
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming.curation import (
        read_curated_state,
        run_incremental_curation,
    )

    docs = load_table(spark, "documents", sf_dir)
    drop = str(tmp_path / "drop")
    # two drops: split the corpus in half, delivered as separate files
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1) \
        .write.mode("append").parquet(drop)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(drop)

    run_incremental_curation(spark, drop, str(tmp_path / "ckpt"),
                             str(tmp_path / "state"),
                             max_files_per_trigger=1)

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        current_version,
    )
    # the cross-batch rollup path actually ran
    assert current_version(spark, str(tmp_path / "state")) >= 2

    got = {r.fp: (r.keeper_id, r.copies) for r in
           read_curated_state(spark, str(tmp_path / "state")).collect()}
    want = {r.fp: (r.keeper_id, r.copies) for r in
            curated_fingerprint_agg(docs).collect()}
    assert got == want and len(want) > 0


def _drop_files(drop: str, frames: list) -> None:
    """Each frame as one parquet file ``drop/b<i>.parquet`` with
    increasing mtimes, so under maxFilesPerTrigger=1 frame i is epoch i
    (the file source orders by mtime)."""
    import glob
    import os
    import shutil

    for i, df in enumerate(frames):
        df.coalesce(1).write.parquet(f"{drop}/tmp{i}")
        (f,) = glob.glob(f"{drop}/tmp{i}/*.parquet")
        os.replace(f, f"{drop}/b{i}.parquet")
        os.utime(f"{drop}/b{i}.parquet", (1_000_000 + i,) * 2)
        shutil.rmtree(f"{drop}/tmp{i}")


def _two_document_drops(spark, drop: str, sf_dir: str):
    """The documents table as two drop files: even doc_ids (epoch 0),
    then odd."""
    docs = load_table(spark, "documents", sf_dir)
    _drop_files(drop, [docs.filter(F.col("doc_id") % 2 == part)
                       for part in (0, 1)])
    return docs


def _fp_rows(df):
    return {r.fp: (r.keeper_id, r.copies) for r in df.collect()}


def test_curation_ledger_crash_commits_nothing(spark, tmp_path, sf_dir,
                                               monkeypatch):
    """A batch that dies before its commit leaves the ledger at the
    previous epoch (readers see epoch 0's rows only, never a partial
    epoch 1), and the rerun from the same checkpoint replays epoch 1 into
    exactly the batch q50 answer."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans.llmdata import (
        curated_fingerprint_agg,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming.curation import (
        read_curated_state,
        run_incremental_curation,
    )

    drop, ckpt, state = (str(tmp_path / d) for d in ("drop", "ckpt", "state"))
    docs = _two_document_drops(spark, drop, sf_dir)
    assert read_curated_state(spark, state) is None     # before any batch

    real_commit, calls = S._commit, []

    def crash_on_second_epoch(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("simulated crash before the epoch-1 commit")
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(S, "_commit", crash_on_second_epoch)
    with pytest.raises(Exception, match="simulated crash"):
        run_incremental_curation(spark, drop, ckpt, state,
                                 max_files_per_trigger=1)
    monkeypatch.undo()

    assert S.current_version(spark, state) == 1
    even = docs.filter(F.col("doc_id") % 2 == 0)
    assert _fp_rows(read_curated_state(spark, state)) == \
        _fp_rows(curated_fingerprint_agg(even))

    run_incremental_curation(spark, drop, ckpt, state,
                             max_files_per_trigger=1)
    want = _fp_rows(curated_fingerprint_agg(docs))
    assert _fp_rows(read_curated_state(spark, state)) == want
    assert len(want) > 0


@pytest.mark.parametrize("job", ["curation", "semantic_dedup"])
def test_streaming_ledger_replay_is_exactly_once(spark, tmp_path, sf_dir, job):
    """A batch whose ledger commit landed but whose checkpoint commit did
    not (its ``commits/N`` and ``.N.crc`` deleted) is replayed by the
    next run with the same epoch id: the replay finds its txn and skips,
    so the ledger neither grows nor double-counts, and still equals the
    batch answer."""
    import os

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    drop, ckpt, state = (str(tmp_path / d) for d in ("drop", "ckpt", "state"))
    if job == "curation":
        from airflow_pipelines_from_mongo_to_postgres_spark.plans.llmdata import (
            curated_fingerprint_agg,
        )
        from airflow_pipelines_from_mongo_to_postgres_spark.streaming.curation import (
            read_curated_state,
            run_incremental_curation,
        )

        docs = _two_document_drops(spark, drop, sf_dir)

        def run():
            run_incremental_curation(spark, drop, ckpt, state,
                                     max_files_per_trigger=1)

        def got():
            return _fp_rows(read_curated_state(spark, state))

        want = _fp_rows(curated_fingerprint_agg(docs))
    else:
        from airflow_pipelines_from_mongo_to_postgres_spark.operators.similarity import (
            semantic_dedup_state,
        )
        from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
            IVF_CENTROIDS,
        )
        from airflow_pipelines_from_mongo_to_postgres_spark.streaming.curation import (
            run_incremental_semantic_dedup,
        )

        e = load_table(spark, "embeddings", sf_dir) \
            .select("vec_id", F.col("embedding").cast("array<double>"),
                    "label")
        _drop_files(drop, [e.filter(F.col("vec_id") < 400),
                           e.filter(F.col("vec_id") >= 400)])

        def run():
            run_incremental_semantic_dedup(
                spark, drop, ckpt, state, threshold=0.42,
                centroids=IVF_CENTROIDS, max_files_per_trigger=1)

        def rows(df):
            return {r.vid: (r.cell, r.is_kept) for r in df.collect()}

        def got():
            return rows(S.read_snapshot(spark, state))

        want = rows(semantic_dedup_state(e, "vec_id", "embedding", 0.42,
                                         IVF_CENTROIDS))

    run()
    head = S.current_version(spark, state)
    assert head >= 2 and got() == want and len(want) > 0

    last = max(int(n) for n in os.listdir(f"{ckpt}/commits") if n.isdigit())
    os.remove(f"{ckpt}/commits/{last}")
    os.remove(f"{ckpt}/commits/.{last}.crc")
    run()
    assert os.path.exists(f"{ckpt}/commits/{last}")   # the epoch re-ran
    assert S.current_version(spark, state) == head   # ... and committed nothing
    assert got() == want


def test_streaming_sinks_commit_through_one_protocol():
    """Every drop-folder stream drains through the one
    ``run_incremental_merge`` driver, no streaming module keeps a table
    protocol of its own (generation directories, ``_SUCCESS`` markers,
    direct ``.write.mode(...)`` state writes), and neither streaming/
    nor sources/ keeps the deleted lake protocol (``_pending`` staging,
    ``_COMMITTED`` markers, dynamic partition overwrite): streaming
    sinks commit through sources/snapshots.py only."""
    import pathlib
    import re

    import airflow_pipelines_from_mongo_to_postgres_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    texts = {p.name: p.read_text(encoding="utf-8")
             for p in (root / "streaming").glob("*.py")}
    assert sum(t.count(".foreachBatch(") for t in texts.values()) == 1
    own_protocol = sorted(
        n for n, t in texts.items()
        if any(tok in t for tok in ("_SUCCESS", "gen=", ".write.mode(")))
    assert own_protocol == [], own_protocol
    lake_protocol = re.compile(
        r"\b(_pending|_COMMITTED|partitionOverwriteMode)\b")
    hits = sorted(
        str(p.relative_to(root))
        for d in ("streaming", "sources") for p in (root / d).rglob("*.py")
        if lake_protocol.search(p.read_text(encoding="utf-8")))
    assert hits == [], hits


def test_streaming_semantic_dedup_matches_batch(spark, tmp_path):
    """Two embedding drops streamed one file per micro-batch through
    run_incremental_semantic_dedup == one-shot semantic_dedup_state over
    the union (cells AND keeper verdicts), with a multi-epoch ledger
    actually exercised."""
    import glob

    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.operators.similarity import (
        semantic_dedup_state,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.catalog import load_table
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming.curation import (
        run_incremental_semantic_dedup,
    )

    t = 0.42
    e = load_table(spark, "embeddings", "/root/testdata/sf0.01") \
        .select("vec_id", F.col("embedding").cast("array<double>"), "label")
    drop = tmp_path / "drop"
    e.filter(F.col("vec_id") < 400).coalesce(1) \
        .write.parquet(str(drop / "d1"))
    e.filter(F.col("vec_id") >= 400).coalesce(1) \
        .write.parquet(str(drop / "d2"))
    # flatten: the file source watches one directory of files
    files = sorted(glob.glob(str(drop / "d*" / "*.parquet")))
    import shutil
    for i, f in enumerate(files):
        shutil.move(f, str(drop / f"batch{i}.parquet"))
        shutil.rmtree(str(drop / f"d{i + 1}"))

    state = str(tmp_path / "state")
    run_incremental_semantic_dedup(
        spark, str(drop), str(tmp_path / "ckpt"), state,
        threshold=t, centroids=IVF_CENTROIDS, max_files_per_trigger=1)

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        current_version,
        read_snapshot,
    )
    assert current_version(spark, state) >= 2      # multi-epoch path ran

    got = {r.vid: (r.cell, r.is_kept)
           for r in read_snapshot(spark, state).collect()}
    want = {r.vid: (r.cell, r.is_kept)
            for r in semantic_dedup_state(e, "vec_id", "embedding", t,
                                          IVF_CENTROIDS).collect()}
    assert got == want and len(got) == 500


def test_semantic_dedup_fold_reads_head_three_times_per_epoch(
        spark, tmp_path, monkeypatch):
    """The SemDeDup fold takes its replay mark and ledger version from
    one head read and pins the ledger read to that version; the
    exactly-once append reads the head twice more. A 3-epoch stream
    reads ``_manifests/HEAD`` at most 9 times (15 when the mark, the
    version and the ledger each read the head)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming.curation import (
        run_incremental_semantic_dedup,
    )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.01") \
        .select("vec_id", F.col("embedding").cast("array<double>"), "label")
    drop = tmp_path / "drop"
    for i, lo in enumerate((0, 100, 200)):
        out = tmp_path / f"d{i}"
        e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)) \
            .coalesce(1).write.parquet(str(out))
        drop.mkdir(exist_ok=True)
        next(out.glob("*.parquet")).rename(drop / f"batch{i}.parquet")
    heads = []
    real = S._JvmStore.read_text

    def counting(self, p):
        if p.endswith("/_manifests/HEAD"):
            heads.append(p)
        return real(self, p)

    monkeypatch.setattr(S._JvmStore, "read_text", counting)
    state = str(tmp_path / "state")
    run_incremental_semantic_dedup(
        spark, str(drop), str(tmp_path / "ckpt"), state, threshold=0.42,
        centroids=IVF_CENTROIDS, max_files_per_trigger=1)
    monkeypatch.setattr(S._JvmStore, "read_text", real)
    assert S.current_version(spark, state) == 3   # three epochs committed
    assert len(heads) <= 9, len(heads)


def test_streaming_cdc_apply_matches_batch(spark, tmp_path):
    """Two CDC drops streamed one file per micro-batch through
    run_incremental_cdc == applying the combined ledger in one batch
    (deletes, replaces, resurrections across batches); the stream
    keeps the table's partition layout and makes one commit per
    micro-batch."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        current_version,
        read_manifest,
        read_snapshot,
        snap_append,
        snap_apply_cdc,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming.incremental import (
        run_incremental_cdc,
    )

    base = spark.createDataFrame(
        [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 3, 30.0)],
        "dt string, k int, v double")
    schema = "op string, dt string, k int, v double, ts int"
    b1 = spark.createDataFrame(
        [("U", "d1", 1, 11.0, 1), ("D", "d1", 2, None, 1)], schema)
    b2 = spark.createDataFrame(
        [("U", "d1", 2, 22.0, 2),          # resurrect across batches
         ("D", "d2", 3, None, 2),
         ("I", "d2", 4, 40.0, 2)], schema)

    stream_t = str(tmp_path / "stream_t")
    snap_append(spark, stream_t, base, partition_by=("dt",))
    drop = tmp_path / "drop"
    drop.mkdir()
    b1.coalesce(1).write.parquet(str(tmp_path / "w1"))
    b2.coalesce(1).write.parquet(str(tmp_path / "w2"))
    import glob
    import shutil
    for i, d in enumerate(("w1", "w2")):
        src = glob.glob(str(tmp_path / d / "*.parquet"))[0]
        shutil.move(src, str(drop / f"batch{i}.parquet"))

    run_incremental_cdc(spark, str(drop), schema, stream_t, "k",
                        str(tmp_path / "ckpt"), ts_col="ts",
                        max_files_per_trigger=1)
    assert current_version(spark, stream_t) == 3
    assert read_manifest(spark, stream_t)["partition_by"] == ["dt"]

    batch_t = str(tmp_path / "batch_t")
    snap_append(spark, batch_t, base, partition_by=("dt",))
    snap_apply_cdc(spark, batch_t, b1.unionByName(b2), "k", ts_col="ts")

    snap = lambda t: sorted(  # noqa: E731
        (r.dt, r.k, r.v) for r in read_snapshot(spark, t).collect())
    assert snap(stream_t) == snap(batch_t) == \
        [("d1", 1, 11.0), ("d1", 2, 22.0), ("d2", 4, 40.0)]


def test_streaming_expectations_ledger_matches_batch(spark, tmp_path):
    """Continuous DQ monitoring: each drained micro-batch's expectations
    report lands exactly-once in the snapshot ledger and equals the
    batch battery run on that file by hand; a second stream over a
    fresh checkpoint appends (txn namespacing), never no-ops."""
    import pyspark.sql.functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.functions import (
        expectations as X,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming.incremental import (
        run_incremental_expectations,
    )

    drop = tmp_path / "dqdrop"
    drop.mkdir()
    good = spark.createDataFrame([(1, 5.0), (2, 7.0)], "id long, v double")
    bad = spark.createDataFrame([(3, None), (3, 99.0)], "id long, v double")
    good.coalesce(1).write.parquet(str(drop / "f1"))
    bad.coalesce(1).write.parquet(str(drop / "f2"))

    def checks(batch):
        return [X.not_null("v"), X.in_range("v", 0.0, 50.0),
                X.unique(["id"])]

    table = str(tmp_path / "dq_ledger")
    run_incremental_expectations(
        spark, f"{drop}/*", "id long, v double", table, checks,
        checkpoint_dir=str(tmp_path / "ck1"), max_files_per_trigger=1)

    ledger = S.read_snapshot(spark, table)
    got = {(r.epoch, r.check): (r.violations, r.rows_checked, r.passed)
           for r in ledger.collect()}
    assert len(got) == 6                       # 2 batches x 3 checks
    by_batch = {}
    for (ep, chk), v in got.items():
        by_batch.setdefault(ep, {})[chk] = v
    # match each ledger batch to its hand-run battery by content
    want_good = {r["check"]: (r["violations"], r["rows_checked"], r["passed"])
                 for r in X.run_expectations(good, checks(good)).collect()}
    want_bad = {r["check"]: (r["violations"], r["rows_checked"], r["passed"])
                for r in X.run_expectations(bad, checks(bad)).collect()}
    assert sorted(by_batch.values(), key=str) == \
        sorted([want_good, want_bad], key=str)

    # second stream, fresh checkpoint (epoch restarts at 0): must land
    d2 = tmp_path / "dqdrop2"
    d2.mkdir()
    spark.createDataFrame([(9, -1.0)], "id long, v double") \
        .coalesce(1).write.parquet(str(d2 / "f3"))
    run_incremental_expectations(
        spark, f"{d2}/*", "id long, v double", table, checks,
        checkpoint_dir=str(tmp_path / "ck2"))
    assert S.read_snapshot(spark, table).count() == 9
    rng = S.read_snapshot(spark, table) \
        .filter((F.col("check") == "in_range(v,0.0,50.0)")
                & (F.col("rows_checked") == 1)).collect()
    assert len(rng) == 1 and rng[0].violations == 1


def test_streaming_variant_ingest_matches_batch(spark, tmp_path):
    """Schemaless streaming ingest: JSON-lines files stream through
    VARIANT parse -> typed conform with the same result as the batch
    path over all files at once; malformed lines land raw in the
    quarantine table; the DQ ledger's variant_parse violations count
    them per epoch; and a re-run over the same checkpoint + tables
    appends nothing (exactly-once)."""
    import pyspark.sql.functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.functions import (
        expectations as X,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.functions.variantdoc import (
        as_variant,
        variant_conform,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming.incremental import (
        run_incremental_variant_ingest,
    )

    drop = tmp_path / "docs"
    drop.mkdir()
    f1 = ['{"user": {"id": 1, "name": "ada"}, "score": 9.5}',
          '{"user": {"id": 2}, "score": 3, "tags": ["a"]}',
          'this is not json at all']
    f2 = ['{"user": {"id": 3, "name": "lin"}, "score": "oops"}',
          '{broken', '{"user": {"id": 4}}']
    (drop / "a.jsonl").write_text("\n".join(f1))
    (drop / "b.jsonl").write_text("\n".join(f2))

    spec = {"uid": ("$.user.id", "bigint"),
            "name": ("$.user.name", "string", "unknown"),
            "score": ("$.score", "double")}

    def checks(conformed):
        return [X.not_null("uid")]

    table = str(tmp_path / "typed")
    quar = str(tmp_path / "quarantine")
    ledger = str(tmp_path / "ledger")
    kwargs = dict(quarantine_table=quar, ledger_table=ledger,
                  checks_factory=checks, max_files_per_trigger=1,
                  checkpoint_dir=str(tmp_path / "ck"))
    run_incremental_variant_ingest(spark, f"{drop}/*", spec, table,
                                   **kwargs)

    # stream == batch: same spec applied to all lines at once
    batch = variant_conform(
        spark.createDataFrame([(s,) for s in f1 + f2], "value string")
        .select(as_variant("value").alias("__doc__"))
        .where(F.col("__doc__").isNotNull()), "__doc__", spec)
    got = sorted((r.uid, r.name, r.score)
                 for r in S.read_snapshot(spark, table).collect())
    assert got == sorted((r.uid, r.name, r.score)
                         for r in batch.collect())
    assert got == [(1, "ada", 9.5), (2, "unknown", 3.0),
                   (3, "lin", None), (4, "unknown", None)]

    # malformed lines are quarantined raw, stamped with their epoch
    q = {r._raw: r.epoch for r in S.read_snapshot(spark, quar).collect()}
    assert set(q) == {"this is not json at all", "{broken"}
    assert len(set(q.values())) == 2          # one malformed per file/epoch

    # ledger: variant_parse violations per epoch equal quarantine counts,
    # and the conformed-batch check ran on parse-survivors only
    led = S.read_snapshot(spark, ledger).collect()
    parse = {r.epoch: (r.violations, r.rows_checked)
             for r in led if r.check == "custom(variant_parse)"}
    assert sorted(parse.values()) == [(1, 3), (1, 3)]
    uid = {r.epoch: (r.violations, r.rows_checked)
           for r in led if r.check == "not_null(uid)"}
    assert sorted(uid.values()) == [(0, 2), (0, 2)]

    # exactly-once: replaying the whole stream over the same checkpoint
    # discovers nothing new; and even a forced epoch replay would no-op
    # on the recorded txns
    before = (S.read_snapshot(spark, table).count(),
              S.read_snapshot(spark, quar).count(),
              S.read_snapshot(spark, ledger).count())
    run_incremental_variant_ingest(spark, f"{drop}/*", spec, table,
                                   **kwargs)
    after = (S.read_snapshot(spark, table).count(),
             S.read_snapshot(spark, quar).count(),
             S.read_snapshot(spark, ledger).count())
    assert before == after == (4, 2, 4)


def test_mongoql_stateless_pipeline_runs_on_stream(spark, tmp_path):
    """One pipeline definition serves batch AND Structured Streaming:
    the stateless stage family ($match incl. $expr, $addFields with
    HOFs/date math, $project, $unwind, $unset) applied to a readStream
    source produces exactly the batch translator's rows — the
    reference's per-collection pipeline definitions run on the daily
    S3-drop stream unchanged (ref mongo_to_postgres_updation.py)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        apply_pipeline,
    )

    rows = spark.createDataFrame(
        [(1, "open", [1, 2, 3]), (2, "closed", [10]), (3, "open", None),
         (4, "open", [5, -1])],
        "id bigint, status string, xs array<int>")
    src = tmp_path / "docs"; src.mkdir()
    rows.write.parquet(str(src / "p"))

    pipeline = [
        {"$match": {"status": "open"}},
        {"$addFields": {"pos": {"$filter": {
            "input": "$xs", "cond": {"$gt": ["$$this", 0]}}}}},
        {"$match": {"$expr": {"$gt": [{"$size": {"$ifNull": ["$pos", []]}},
                                      0]}}},
        {"$unwind": "$pos"},
        {"$unset": "xs"},
    ]
    stream = spark.readStream.schema(rows.schema).parquet(str(src / "p"))
    out = apply_pipeline(stream, pipeline)
    q = (out.writeStream.format("memory").queryName("mql_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_mql"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r.id, r.pos) for r in
                 spark.sql("SELECT * FROM mql_stream").collect())
    want = sorted((r.id, r.pos)
                  for r in apply_pipeline(rows, pipeline).collect())
    assert got == want == [(1, 1), (1, 2), (1, 3), (4, 5)]

    # r12 match-operator family is stateless too: $regex/$not/$nor/
    # $elemMatch/$redact run on the same stream unchanged
    pipeline2 = [
        {"$match": {"$nor": [{"status": {"$regex": "^CLO",
                                         "$options": "i"}}],
                    "xs": {"$elemMatch": {"$gte": 2}}}},
        {"$match": {"id": {"$not": {"$gte": 4}}}},
    ]
    out2 = apply_pipeline(
        spark.readStream.schema(rows.schema).parquet(str(src / "p")),
        pipeline2)
    q2 = (out2.writeStream.format("memory").queryName("mql_stream2")
          .outputMode("append")
          .option("checkpointLocation", str(tmp_path / "ck_mql2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    got2 = sorted(r.id for r in
                  spark.sql("SELECT id FROM mql_stream2").collect())
    want2 = sorted(r.id for r in
                   apply_pipeline(rows, pipeline2).collect())
    assert got2 == want2 == [1]


def test_incremental_ejson_ingest_stream_equals_batch(spark, tmp_path):
    """r14: ejson=True streams a mongoexport-format drop folder
    through the Extended-JSON conform — wrapper documents unwrap per
    target type, relaxed lines pass through, malformed lines
    quarantine, and the stream equals the one-shot batch conform."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.functions.variantdoc import (
        as_variant,
        ejson_conform,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S
    from airflow_pipelines_from_mongo_to_postgres_spark.streaming.incremental import (
        run_incremental_variant_ingest,
    )

    drop = tmp_path / "mx"
    drop.mkdir()
    lines = [
        '{"_id": {"$oid": "a1"}, "n": {"$numberLong": "12"}, '
        '"ts": {"$date": "2020-01-02T03:00:00Z"}}',
        '{"_id": {"$oid": "a2"}, "n": {"$numberInt": "3"}, '
        '"ts": {"$date": {"$numberLong": "86400000"}}}',
        '{"_id": "plain", "n": 7, "ts": "2021-01-01T00:00:00Z"}',
        'not json',
    ]
    (drop / "dump.jsonl").write_text("\n".join(lines))
    spec = {"_id": ("$._id", "string"),
            "n": ("$.n", "long"),
            "ts": ("$.ts", "timestamp")}
    table = str(tmp_path / "typed")
    quar = str(tmp_path / "quar")
    run_incremental_variant_ingest(
        spark, f"{drop}/*", spec, table,
        checkpoint_dir=str(tmp_path / "ck"), quarantine_table=quar,
        ejson=True)

    got = sorted((r._id, r.n, str(r.ts))
                 for r in S.read_snapshot(spark, table).collect())
    batch = ejson_conform(
        spark.createDataFrame([(s,) for s in lines], "value string")
        .select(as_variant("value").alias("__doc__"))
        .where(F.col("__doc__").isNotNull()), "__doc__", spec)
    assert got == sorted((r._id, r.n, str(r.ts))
                         for r in batch.collect())
    assert [g[0] for g in got] == ["a1", "a2", "plain"]
    assert got[1][1] == 3 and got[1][2] == "1970-01-02 00:00:00"
    q = [r._raw for r in S.read_snapshot(spark, quar).collect()]
    assert q == ["not json"]
