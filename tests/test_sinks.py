"""Sink SQL builders (the set-based replacement for per-row upserts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import (
    create_table_ddl,
    upsert_statement,
    write_csv,
    write_parquet,
)


def test_upsert_statement_partial_update():
    s = upsert_statement("public.users", ["_id", "roles", "deleted"],
                         key="_id", mutable=["roles", "deleted"])
    assert "INSERT INTO public.users (_id, roles, deleted)" in s
    assert "FROM public.users_staging" in s
    assert "ON CONFLICT (_id) DO UPDATE SET roles = EXCLUDED.roles, deleted = EXCLUDED.deleted" in s


def test_upsert_statement_do_nothing():
    s = upsert_statement("loanoffers", ["_id", "period"], "_id", mutable=[])
    assert s.endswith("ON CONFLICT (_id) DO NOTHING")


def test_empty_set_sql_keeps_matched_rows_unchanged():
    """whenMatched: [] compiles to set_sql={} — both dialects must keep
    matched rows UNCHANGED (the snap/lake lowering's semantics), not
    fall back to the overwrite-from-staging SET list (r13 ADVICE)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import merge_statement

    s = upsert_statement("t", ["_id", "v"], "_id", mutable=["v"],
                         set_sql={})
    assert s.endswith("DO NOTHING"), s
    assert "EXCLUDED.v" not in s
    a = merge_statement("t", ["_id", "v"], "_id", mutable=["v"],
                        dialect="ansi", set_sql={})
    assert "WHEN MATCHED" not in a, a
    assert "WHEN NOT MATCHED THEN INSERT" in a
    # non-empty set_sql still compiles to the pipeline SET clause
    s2 = upsert_statement("t", ["_id", "v"], "_id", mutable=["v"],
                          set_sql={"v": "(t.v + EXCLUDED.v)"})
    assert "DO UPDATE SET v = (t.v + EXCLUDED.v)" in s2


def test_sql_literal_rejects_non_finite_floats():
    """repr(inf)/repr(nan) are not SQL — the merge statement must fail
    at COMPILE time, not server-side after staging is written."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import _sql_literal

    assert _sql_literal(1.5) == "1.5"
    assert _sql_literal(None) == "NULL"
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="non-finite"):
            _sql_literal(bad)


def test_create_table_ddl_from_schema(spark):
    df = spark.createDataFrame([(1, "x", True, 1.5)],
                               "id long, _id string, deleted boolean, amount double")
    ddl = create_table_ddl("public.users", df)
    assert "id serial PRIMARY KEY" in ddl
    assert "_id varchar UNIQUE" in ddl
    assert "deleted boolean" in ddl and "amount double precision" in ddl


def test_file_sinks_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    write_parquet(df, str(tmp_path / "p"))
    assert spark.read.parquet(str(tmp_path / "p")).count() == 2
    write_csv(df, str(tmp_path / "c"))
    got = spark.read.option("header", True).csv(str(tmp_path / "c"))
    assert got.count() == 2 and set(got.columns) == {"k", "v"}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Tables co-bucketed on the join key sort-merge-join without a single
    shuffle — the write-once-shuffle-never pattern for fact⋈fact at scale."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import (
        write_bucketed,
    )

    left = spark.range(0, 1000).withColumnRenamed("id", "k") \
        .withColumn("lv", F.col("k") * 2)
    right = spark.range(0, 1000).withColumnRenamed("id", "k") \
        .withColumn("rv", F.col("k") + 7)
    write_bucketed(left, "bk_left", 4, ["k"], sort_cols=["k"],
                   path=str(tmp_path / "bk_left"))
    write_bucketed(right, "bk_right", 4, ["k"], sort_cols=["k"],
                   path=str(tmp_path / "bk_right"))
    try:
        a = spark.table("bk_left").hint("merge")
        b = spark.table("bk_right")
        joined = a.join(b, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # buckets align; no shuffle either side
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_drop_schema_ddl_matches_reference_contract():
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import drop_schema_ddl

    drop, create = drop_schema_ddl("public")
    assert drop == "DROP SCHEMA IF EXISTS public CASCADE"
    assert create == "CREATE SCHEMA public"
    drop, create = drop_schema_ddl("analytics")
    assert "analytics" in drop and "analytics" in create


def test_range_layout_files_cover_disjoint_key_ranges(spark, tmp_path):
    """write_range_layout must produce parquet files whose footer min/max
    stats on the layout key are pairwise disjoint — the property that
    lets a selective scan skip whole files."""
    import glob

    import pyarrow.parquet as pq

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import write_range_layout

    path = str(tmp_path / "ranged")
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    write_range_layout(df, path, ["k"], num_files=8)

    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        kidx = md.schema.to_arrow_schema().get_field_index("k")
        lo = min(md.row_group(i).column(kidx).statistics.min
                 for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(kidx).statistics.max
                 for i in range(md.num_row_groups))
        spans.append((lo, hi))
    assert len(spans) >= 4  # range partitioner actually split the key space
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans  # pairwise disjoint

    # selective read pushes the comparison filter to the scan
    back = spark.read.parquet(path).filter(F.col("k") == 1234)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "k" in plan.split("PushedFilters")[1][:60]
    assert back.count() == 1


def test_write_table_format_roundtrips(spark, tmp_path):
    """parquet/ORC/JSON-lines/CSV roundtrip through the dispatch writer
    with identical contents; ORC keeps predicate pushdown; avro (absent
    jar) raises the documented error instead of a py4j stack."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import (
        read_table,
        write_table,
    )

    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) / 4) for i in range(50)],
        "k int, name string, v double")
    want = sorted((r.k, r.name, r.v) for r in df.collect())

    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / fmt)
        write_table(df, p, fmt)
        back = read_table(spark, p, fmt).select("k", "name", "v")
        got = sorted((r.k, r.name, float(r.v)) for r in back.collect())
        assert got == want, fmt

    orc_scan = read_table(spark, str(tmp_path / "orc"), "orc") \
        .filter(F.col("k") == 7)
    plan = orc_scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "k" in plan.split("PushedFilters")[1][:60]

    with pytest.raises(ValueError, match="avro"):
        write_table(df, str(tmp_path / "avro"), "avro")


def test_zorder_layout_skips_on_both_columns(spark, tmp_path):
    """Z-ordered files cover rectangles of (a, b) space: a selective
    filter on the SECOND column touches far fewer files than under an
    a-sorted linear layout (where b-slices smear across every file)."""
    import glob

    import pyarrow.parquet as pq

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import (
        write_range_layout,
        write_zorder_layout,
    )

    grid = spark.range(10_000).select(
        (F.col("id") % 100).alias("a"), (F.col("id") / 100).cast("long").alias("b"))

    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lin")
    write_zorder_layout(grid, zpath, "a", "b", num_files=16)
    write_range_layout(grid, lpath, ["a"], num_files=16)

    def files_with_b_slice(path, lo, hi):
        hits = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index("b")
            fmin = min(md.row_group(i).column(idx).statistics.min
                       for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max
                       for i in range(md.num_row_groups))
            if fmax >= lo and fmin <= hi:
                hits += 1
        return hits

    z_hits = files_with_b_slice(zpath, 10, 15)
    lin_hits = files_with_b_slice(lpath, 10, 15)
    assert lin_hits == len(glob.glob(f"{lpath}/*.parquet"))  # b smears everywhere
    assert z_hits <= lin_hits // 2, (z_hits, lin_hits)       # Z localizes b

    back = spark.read.parquet(zpath)
    assert back.count() == 10_000 and back.columns == ["a", "b"]


def test_zorder_n_three_columns_skip_on_each(spark, tmp_path):
    """The k-dimensional Z-order: with a 3-column layout, a selective
    slice on EVERY one of the three columns touches at most half the
    files (a linear layout only localizes its lead column)."""
    import glob

    import pyarrow.parquet as pq

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import (
        write_zorder_layout_n,
    )

    n = 32_768
    grid = spark.range(n).select(
        (F.col("id") % 32).alias("a"),
        ((F.col("id") / 32) % 32).cast("long").alias("b"),
        (F.col("id") / 1024).cast("long").alias("c"))
    path = str(tmp_path / "z3")
    write_zorder_layout_n(grid, path, ["a", "b", "c"], num_files=32, bits=5)

    def files_with_slice(col, lo, hi):
        hits, total = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            fmin = min(md.row_group(i).column(idx).statistics.min
                       for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max
                       for i in range(md.num_row_groups))
            total += 1
            if fmax >= lo and fmin <= hi:
                hits += 1
        return hits, total

    for col in ("a", "b", "c"):
        hits, total = files_with_slice(col, 3, 6)
        assert hits <= total // 2, (col, hits, total)

    back = spark.read.parquet(path)
    assert back.count() == n and back.columns == ["a", "b", "c"]

    import pytest
    with pytest.raises(ValueError, match="exceeds a long"):
        write_zorder_layout_n(grid, path, ["a"] * 8, num_files=4, bits=8)


@pytest.mark.parametrize("k", [2, 3, 4])
@pytest.mark.parametrize("num_files", [16, 32])
def test_zorder_n_skip_bound_matrix(spark, tmp_path, k, num_files):
    """The k-column skip guarantee across the (k, num_files) matrix:
    with 4-bit bucket ranks every layout column's TOP bucket bit sits
    in the file selector for all of these shapes, so a slice confined
    to the lower half of ANY column touches at most half the files.
    Exact-by-construction file cuts (hash-preimage exchange) make this
    deterministic — no range-sampler jitter."""
    import glob

    import pyarrow.parquet as pq

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import (
        write_zorder_layout_n,
    )

    cols = [chr(ord("a") + j) for j in range(k)]
    n = 16 ** k
    grid = spark.range(n).select(
        *[((F.col("id") / (16 ** j)) % 16).cast("long").alias(c)
          for j, c in enumerate(cols)])
    path = str(tmp_path / f"z{k}_{num_files}")
    write_zorder_layout_n(grid, path, cols, num_files=num_files, bits=4)

    files = glob.glob(f"{path}/*.parquet")
    for col in cols:
        hits = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            fmin = min(md.row_group(i).column(idx).statistics.min
                       for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max
                       for i in range(md.num_row_groups))
            if fmax >= 2 and fmin <= 5:
                hits += 1
        assert hits <= len(files) // 2, (k, num_files, col, hits, len(files))

    back = spark.read.parquet(path)
    assert back.count() == n and sorted(back.columns) == cols


def _cdc_commit(spark, S, t, changes, *args, **kw):
    """Run one ``snap_apply_cdc`` and check its commit shape: the version
    advances by exactly 1, every data file of the previous version is
    still listed, and the commit adds one key file plus data files that
    hold only the batch's I/U rows. Returns those added rows."""
    before = S.read_manifest(spark, t)
    assert S.snap_apply_cdc(spark, t, changes, *args, **kw) == \
        before["version"] + 1
    after = S.read_manifest(spark, t)
    assert set(before["files"]) <= set(after["files"])
    old_dels = before.get("deletes") or []
    assert after["deletes"][:len(old_dels)] == old_dels
    assert len(after["deletes"]) == len(old_dels) + 1
    added = sorted(set(after["files"]) - set(before["files"]))
    if not added:
        return []
    return S._read_files(spark, t, added, after.get("partition_by")) \
        .collect()


def test_snap_apply_cdc_deletes_replaces_and_resurrects(spark, tmp_path):
    """snap_apply_cdc: hard deletes remove keys, I/U rows replace whole
    rows, ts compaction makes the LATEST op per key win (U->D deletes,
    D->U resurrects), and the whole batch is one merge commit that
    keeps every earlier file listed and adds only the surviving I/U
    rows plus one key file."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "cdc")
    S.snap_append(spark, t, spark.createDataFrame(
        [("d1", 1, 10.0), ("d1", 2, 20.0),
         ("d2", 3, 30.0),
         ("d3", 4, 40.0)],
        "dt string, k int, v double"), partition_by=("dt",))

    changes = spark.createDataFrame(
        [("U", "d1", 1, 11.0, 1),    # replace
         ("U", "d1", 2, 99.0, 1), ("D", "d1", 2, None, 2),   # U then D -> gone
         ("D", "d2", 3, None, 1),    # empties dt=d2 entirely
         ("D", "d1", 5, None, 1), ("U", "d1", 5, 55.0, 2),   # D then U -> row
         ("I", "d1", 6, 60.0, 1)],
        "op string, dt string, k int, v double, ts int")

    added = _cdc_commit(spark, S, t, changes, "k", ts_col="ts")
    assert sorted((r.dt, r.k, r.v) for r in added) == \
        [("d1", 1, 11.0), ("d1", 5, 55.0), ("d1", 6, 60.0)]
    got = sorted((r.dt, r.k, r.v) for r in S.read_snapshot(spark, t).collect())
    assert got == [("d1", 1, 11.0), ("d1", 5, 55.0), ("d1", 6, 60.0),
                   ("d3", 4, 40.0)]
    assert S.read_manifest(spark, t)["partition_by"] == ["dt"]
    with pytest.raises(FileNotFoundError, match="is empty"):
        S.snap_apply_cdc(spark, str(tmp_path / "absent"), changes, "k")


def test_snap_apply_cdc_deleting_every_row_leaves_readable_table(spark, tmp_path):
    """A CDC batch that deletes every row leaves the table empty but
    readable with its schema, also after a compaction, and a later
    insert batch lands."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "cdc")
    S.snap_append(spark, t, spark.createDataFrame(
        [("d1", 1, 10.0), ("d2", 3, 30.0), ("d1", 5, 50.0)],
        "dt string, k int, v double"), partition_by=("dt",))
    schema = "op string, dt string, k int, v double, ts int"

    assert _cdc_commit(spark, S, t, spark.createDataFrame(
        [("D", "d1", 1, None, 0), ("D", "d2", 3, None, 1),
         ("D", "d1", 5, None, 2)], schema), "k", ts_col="ts") == []
    empty = S.read_snapshot(spark, t)
    assert empty.count() == 0
    assert sorted(empty.columns) == ["dt", "k", "v"]
    S.snap_compact(spark, t)
    empty = S.read_snapshot(spark, t)
    assert empty.count() == 0
    assert sorted(empty.columns) == ["dt", "k", "v"]

    _cdc_commit(spark, S, t, spark.createDataFrame(
        [("I", "d2", 7, 70.0, 3)], schema), "k", ts_col="ts")
    got = [(r.dt, r.k, r.v) for r in S.read_snapshot(spark, t).collect()]
    assert got == [("d2", 7, 70.0)]


def test_snapshot_table_commits_time_travel_and_vacuum(spark, tmp_path):
    """Manifest-snapshot table: append/overwrite/replace_where commits
    are atomic manifest swaps; a reader resolved at v1 still sees v1
    after later commits (snapshot isolation); time travel reads any
    retained version; vacuum reclaims files beyond the horizon and
    orphans, while the kept snapshot stays readable."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "snaptab")
    d1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    d2 = spark.createDataFrame([("c", 3)], "k string, v int")

    assert S.snap_append(spark, t, d1) == 1
    v1_reader = S.read_snapshot(spark, t)          # pinned file list
    assert S.snap_append(spark, t, d2) == 2

    def rows(df):
        return sorted((r.k, r.v) for r in df.collect())

    assert rows(S.read_snapshot(spark, t)) == [("a", 1), ("b", 2), ("c", 3)]
    assert rows(S.read_snapshot(spark, t, version=1)) == [("a", 1), ("b", 2)]
    assert rows(v1_reader) == [("a", 1), ("b", 2)]  # isolation after commit

    # replace_where: rewrite only the predicate's slice
    upd = spark.createDataFrame([("b", 99)], "k string, v int")
    assert S.snap_replace_where(spark, t, upd, "k = 'b'") == 3
    assert rows(S.read_snapshot(spark, t)) == [("a", 1), ("b", 99), ("c", 3)]
    assert rows(S.read_snapshot(spark, t, version=2)) == \
        [("a", 1), ("b", 2), ("c", 3)]              # time travel intact

    assert [v for v, _, _ in S.snap_history(spark, t)] == [3, 2, 1]

    # orphan from a "crashed" commit: data written, manifest never landed
    S._write_data_files(spark.createDataFrame([("z", 0)], "k string, v int"), t)

    # default retention window: every file here is seconds old, so a
    # default-window vacuum must delete NOTHING — that window is what
    # protects a concurrent appender whose files land before its commit
    assert S.vacuum(spark, t, keep_versions=1) == []
    # retention_ms=0: single-writer test wants deterministic cleanup
    deleted = S.vacuum(spark, t, keep_versions=1, retention_ms=0)
    assert deleted                                   # old + orphan files gone
    assert rows(S.read_snapshot(spark, t)) == [("a", 1), ("b", 99), ("c", 3)]
    with pytest.raises(Exception):
        S.read_snapshot(spark, t, version=1).collect()  # beyond the horizon


def test_snapshot_txn_append_is_exactly_once(spark, tmp_path):
    """snap_append_txn: replaying an epoch (same txn id) is a no-op —
    the foreachBatch exactly-once contract — and a real AvailableNow
    stream draining through it lands each micro-batch exactly once even
    when one epoch is replayed by hand."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "snapstream")
    b0 = spark.createDataFrame([(1, "x")], "id long, s string")
    b1 = spark.createDataFrame([(2, "y")], "id long, s string")

    assert S.snap_append_txn(spark, t, b0, "app", 0) == 1
    assert S.snap_append_txn(spark, t, b0, "app", 0) is None  # replay
    assert S.snap_append_txn(spark, t, b1, "app", 1) == 2
    assert sorted(r.id for r in S.read_snapshot(spark, t).collect()) == [1, 2]

    # real stream: file source -> foreachBatch(snap_append_txn)
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(10, "a"), (11, "b")], "id long, s string") \
        .coalesce(1).write.mode("overwrite").parquet(str(src / "d1"))
    stream = (spark.readStream.schema("id long, s string")
              .parquet(str(src / "d1")))
    q = (stream.writeStream
         .foreachBatch(lambda df, eid: S.snap_append_txn(
             spark, t, df, "stream", eid))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.id for r in S.read_snapshot(spark, t).collect())
    assert got == [1, 2, 10, 11]


def _txn_store(monkeypatch):
    """A counting local byte store that ``snap_append_txn`` runs on
    without Spark: each call "writes" one fresh data-file name, so only
    the manifest path runs."""
    import uuid

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S
    from tests.test_pyds import _CountingIO

    monkeypatch.setattr(S, "_write_data_files", lambda *a, **k: (
        [f"data/{uuid.uuid4().hex}.parquet"], {}))
    return _CountingIO()


def test_txn_append_reads_the_head_not_the_history(tmp_path, monkeypatch):
    """The exactly-once check reads the head manifest's epoch mark, so
    the 10th and the 40th append of a stream make the same reads (at
    most 3 HEAD reads, 3 existence probes and 3 version-file reads);
    a walk over the manifest chain would grow with the version."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    io, t = _txn_store(monkeypatch), str(tmp_path / "ledger")
    seen = {}
    for epoch in range(40):
        io.calls.clear()
        assert S.snap_append_txn(io, t, None, "app", epoch) == epoch + 1
        seen[epoch + 1] = (io.calls["read_head"], io.calls["exists"],
                           io.calls["read_version"])
    assert seen[10] == seen[40], seen
    assert all(n <= 3 for n in seen[40]), seen[40]
    io.calls.clear()
    assert S.snap_append_txn(io, t, None, "app", 39) is None    # replay
    assert io.calls["read_version"] == 1
    assert S.committed_epoch(io, t, "app") == 39


def test_txn_marks_are_per_app(spark, tmp_path, monkeypatch):
    """Two streams appending to one table keep independent marks: one's
    progress never makes the other's next epoch a no-op. A table
    without marks (or without versions) answers -1."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    assert S.committed_epoch(spark, str(tmp_path / "none"), "a") == -1
    io, t = _txn_store(monkeypatch), str(tmp_path / "shared")
    assert S.committed_epoch(io, t, "a") == -1
    assert S.snap_append_txn(io, t, None, "a", 5) == 1
    assert S.committed_epoch(io, t, "b") == -1
    assert S.snap_append_txn(io, t, None, "b", 0) == 2
    assert S.snap_append_txn(io, t, None, "a", 5) is None
    assert S.snap_append_txn(io, t, None, "b", 1) == 3
    assert S.snap_append_txn(io, t, None, "a", 6) == 4
    assert (S.committed_epoch(io, t, "a"),
            S.committed_epoch(io, t, "b")) == (6, 1)


def test_txn_marks_survive_rewrites(spark, tmp_path):
    """Compaction, overwrite (both writers) and restore commit inline
    manifests; each carries the head's epoch marks forward, so replaying
    an already committed epoch stays a no-op after any of them."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        pyds,
        snapshots as S,
    )

    pyds.register_python_sources(spark)
    t = str(tmp_path / "marks")

    def batch(i):
        return spark.createDataFrame([(i, "x")], "id long, s string")

    assert S.snap_append_txn(spark, t, batch(0), "app", 0) == 1
    assert S.snap_append_txn(spark, t, batch(1), "app", 1) == 2
    for rewrite in (lambda: S.snap_compact(spark, t),
                    lambda: S.snap_overwrite(spark, t, batch(7)),
                    lambda: batch(8).write.format("snaptable")
                    .mode("overwrite").save(t),
                    lambda: S.snap_restore(spark, t, 2)):
        rewrite()
        v = S.current_version(spark, t)
        assert S.committed_epoch(spark, t, "app") == 1
        assert S.snap_append_txn(spark, t, batch(1), "app", 1) is None
        assert S.current_version(spark, t) == v
    assert sorted(r.id for r in S.read_snapshot(spark, t).collect()) == [0, 1]
    assert S.snap_append_txn(spark, t, batch(2), "app", 2) == 7
    assert sorted(r.id for r in S.read_snapshot(spark, t).collect()) == [
        0, 1, 2]


def test_snap_apply_cdc_replay_is_idempotent(spark, tmp_path):
    """Re-applying the SAME CDC batch converges (it deletes and re-adds
    the same rows) — the property that makes a foreachBatch replay
    after failure safe without an epoch mark."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "cdc")
    S.snap_append(spark, t, spark.createDataFrame(
        [("d1", 1, 10.0), ("d1", 2, 20.0)], "dt string, k int, v double"),
        partition_by=("dt",))
    changes = spark.createDataFrame(
        [("U", "d1", 1, 11.0), ("D", "d1", 2, None), ("I", "d1", 3, 30.0)],
        "op string, dt string, k int, v double")

    def snap():
        return sorted((r.dt, r.k, r.v)
                      for r in S.read_snapshot(spark, t).collect())

    _cdc_commit(spark, S, t, changes, "k")
    once = snap()
    _cdc_commit(spark, S, t, changes, "k")
    assert once == snap() == [("d1", 1, 11.0), ("d1", 3, 30.0)]


def test_snapshot_commit_conflicts_and_self_healing_head(
        spark, tmp_path, monkeypatch):
    """OCC: a replace_where derived from a stale snapshot raises
    CommitConflict instead of losing the concurrent append; two writers
    racing to the SAME version (simulated with a stale head read) see
    one winner and one CommitConflict; and a HEAD left one behind by a
    'crashed' writer self-heals forward."""
    import json as _j

    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "occ")
    S.snap_append(spark, t, spark.createDataFrame([("a", 1)],
                                                  "k string, v int"))
    base = S.current_version(spark, t)

    # writer A derives a rewrite from v1 ... meanwhile writer B commits
    S.snap_append(spark, t, spark.createDataFrame([("b", 2)],
                                                  "k string, v int"))
    upd = spark.createDataFrame([("a", 99)], "k string, v int")
    files, _ = S._write_data_files(upd, t)
    with pytest.raises(S.CommitConflict, match="head moved"):
        S._commit(spark, t, files, "stale-rewrite", expected_parent=base)
    # the concurrent append survived (no lost update)
    assert sorted((r.k, r.v) for r in S.read_snapshot(spark, t).collect()) \
        == [("a", 1), ("b", 2)]

    # same-version race: freeze this writer's view of the head at its
    # pre-race value; the other writer's manifest already occupies v+1,
    # so create(overwrite=False) must lose loudly
    head = S.current_version(spark, t)
    S._commit(spark, t, files, "winner")            # the racing winner
    monkeypatch.setattr(S, "current_version", lambda *_: head)
    with pytest.raises(S.CommitConflict, match="already committed"):
        S._commit(spark, t, files, "loser")
    monkeypatch.undo()

    # 'crashed' writer: manifest for head+1 exists, HEAD not advanced
    v = S.current_version(spark, t)
    m = S.read_manifest(spark, t, v)
    S._write_text_atomic(spark, S._manifest_path(t, v + 1),
                         _j.dumps({"version": v + 1, "files": m["files"],
                                   "parent": v, "note": "crashed"}))
    assert S.current_version(spark, t) == v + 1     # healed forward
    assert S.snap_append(spark, t, upd) == v + 2    # next commit adopts it


def test_snapshot_full_overwrite_keeps_history(spark, tmp_path):
    """snap_overwrite: the new manifest lists only the new files, the
    old snapshot stays time-travelable until vacuum."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "ow")
    S.snap_append(spark, t, spark.createDataFrame([("a", 1)],
                                                  "k string, v int"))
    v2 = S.snap_overwrite(spark, t, spark.createDataFrame(
        [("z", 9)], "k string, v int"))
    assert v2 == 2
    assert [(r.k, r.v) for r in S.read_snapshot(spark, t).collect()] \
        == [("z", 9)]
    assert [(r.k, r.v) for r in
            S.read_snapshot(spark, t, version=1).collect()] == [("a", 1)]


def test_snap_apply_cdc_key_moving_partitions_reads_back_once(spark, tmp_path):
    """A CDC update that moves a key to another partition value leaves
    no copy behind: the equality delete matches the key wherever its
    old row lives, including a partition the batch does not touch."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "cdc")
    S.snap_append(spark, t, spark.createDataFrame(
        [("d1", 1, 10.0), ("d2", 2, 20.0)], "dt string, k int, v double"),
        partition_by=("dt",))
    _cdc_commit(spark, S, t, spark.createDataFrame(
        [("U", "d2", 1, 11.0)], "op string, dt string, k int, v double"),
        "k")
    got = sorted((r.dt, r.k, r.v) for r in S.read_snapshot(spark, t).collect())
    assert got == [("d2", 1, 11.0), ("d2", 2, 20.0)]
    assert S.snap_scan(spark, t, [("dt", "=", "d1")]).count() == 0


def test_snapshot_manifest_stats_prune_files(spark, tmp_path):
    """Manifest-level file skipping: per-commit min/max/null stats let
    snap_scan drop whole files at PLANNING time (driver dict walk, no
    I/O), while the residual filter keeps results exact. Files from
    commits without stats are conservatively kept."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "stattab")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id"),
        F.concat(F.lit("u"), F.col("id")).alias("s"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 7)
        .alias("maybe")).repartition(1)

    S.snap_append(spark, t, mk(0, 100), stat_cols=("id", "maybe"))
    S.snap_append(spark, t, mk(100, 200), stat_cols=("id", "maybe"))
    S.snap_append(spark, t, mk(200, 300), stat_cols=("id", "maybe"))
    m = S.read_manifest(spark, t)
    assert len(m["files"]) == 3 and set(m["stats"]) == set(m["files"])

    # range predicate: only the first file's window can satisfy id < 50
    assert len(S.prune_files(m, [("id", "<", 50)])) == 1
    assert len(S.prune_files(m, [("id", ">=", 150)])) == 2
    assert len(S.prune_files(m, [("id", "=", 250)])) == 1
    got = sorted(r["id"] for r in S.snap_scan(
        spark, t, [("id", "<", 50)]).collect())
    assert got == list(range(50))

    # every file has some NULLs in maybe -> is_null keeps all; a column
    # with zero nulls prunes everything for is_null
    assert len(S.prune_files(m, [("maybe", "is_null")])) == 3
    assert len(S.prune_files(m, [("id", "is_null")])) == 0
    assert S.snap_scan(spark, t, [("id", "is_null")]).count() == 0

    # empty-result predicate: no file survives, scan returns 0 rows
    assert S.snap_scan(spark, t, [("id", ">=", 1000)]).count() == 0

    # a statless commit is conservatively kept by every predicate
    S.snap_append(spark, t, mk(300, 400))          # no stat_cols
    m2 = S.read_manifest(spark, t)
    assert len(S.prune_files(m2, [("id", "<", 50)])) == 2
    got2 = sorted(r["id"] for r in S.snap_scan(
        spark, t, [("id", "<", 50)]).collect())
    assert got2 == list(range(50))                  # still exact


def test_snapshot_stats_survive_overwrite_and_replace_where(spark, tmp_path):
    """Overwrite/replace_where commits rebuild stats for their new
    files; replace_where keeps pruning correct after the rewrite."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "stattab2")
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10).alias("bucket")) \
        .repartitionByRange(4, "id")
    S.snap_overwrite(spark, t, base, stat_cols=("id",))
    m = S.read_manifest(spark, t)
    assert len(m["files"]) == 4
    assert len(S.prune_files(m, [("id", "<", 10)])) < 4

    upd = spark.range(0, 5).select(
        F.col("id"), F.lit(99).alias("bucket")).repartition(1)
    S.snap_replace_where(spark, t, upd, "id < 5", stat_cols=("id",))
    m2 = S.read_manifest(spark, t)
    assert set(m2["stats"]) == set(m2["files"])     # fresh stats, no strays
    got = sorted((r["id"], r["bucket"]) for r in S.snap_scan(
        spark, t, [("id", "<", 5)]).collect())
    assert got == [(i, 99) for i in range(5)]


def test_snapshot_compact_occ_and_time_travel(spark, tmp_path):
    """snap_compact bin-packs the head into N files as an OCC-pinned
    commit: identical rows, fewer files, old versions still readable;
    a head moved between read and commit raises CommitConflict instead
    of dropping the racer's rows."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "compacttab")
    for i in range(4):
        S.snap_append(spark, t,
                      spark.range(i * 10, (i + 1) * 10).repartition(1),
                      stat_cols=("id",))
    assert len(S.read_manifest(spark, t)["files"]) == 4

    v = S.snap_compact(spark, t, target_files=1, stat_cols=("id",))
    m = S.read_manifest(spark, t)
    assert v == 5 and len(m["files"]) == 1
    assert set(m["stats"]) == set(m["files"])        # stats rebuilt
    assert sorted(r.id for r in S.read_snapshot(spark, t).collect()) == \
        list(range(40))
    assert len(S.read_manifest(spark, t, version=4)["files"]) == 4  # travel

    # OCC: a commit that lands after the compactor derived its input
    # must surface as a conflict (simulated by pinning a stale parent)
    new, stats = S._write_data_files(spark.range(100, 101), t)
    with pytest.raises(S.CommitConflict):
        S._commit(spark, t, new, "stale-compact", expected_parent=4)


def test_snapshot_changes_feed_appends_only(spark, tmp_path):
    """snap_changes returns exactly the rows landed in (from, to]; a
    rewriting commit in the range makes the feed refuse (undefined)."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "cdftab")
    S.snap_append(spark, t, spark.range(0, 10).repartition(1))      # v1
    S.snap_append(spark, t, spark.range(10, 25).repartition(1))     # v2
    S.snap_append(spark, t, spark.range(25, 30).repartition(1))     # v3

    assert sorted(r.id for r in S.snap_changes(spark, t, 1).collect()) == \
        list(range(10, 30))
    assert sorted(r.id for r in
                  S.snap_changes(spark, t, 1, 2).collect()) == \
        list(range(10, 25))
    assert S.snap_changes(spark, t, 3).count() == 0                 # caught up

    S.snap_compact(spark, t, target_files=1)                        # v4 rewrites
    with pytest.raises(ValueError, match="non-append"):
        S.snap_changes(spark, t, 3)
    # a feed window that STARTS after the rewrite is well-defined again
    S.snap_append(spark, t, spark.range(30, 33).repartition(1))     # v5
    assert sorted(r.id for r in S.snap_changes(spark, t, 4).collect()) == \
        [30, 31, 32]


def test_snapshot_schema_evolution_on_read(spark, tmp_path):
    """A later commit may add columns; merge_schema=True unions file
    schemas and NULL-fills the old files — reads without it keep the
    cheap single-footer path."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "evolvetab")
    S.snap_append(spark, t, spark.createDataFrame(
        [(1, "a")], "id long, s string").repartition(1))
    S.snap_append(spark, t, spark.createDataFrame(
        [(2, "b", 7.5)], "id long, s string, score double").repartition(1))

    ev = S.read_snapshot(spark, t, merge_schema=True)
    assert set(ev.columns) == {"id", "s", "score"}
    got = {r.id: r.score for r in ev.collect()}
    assert got[1] is None and got[2] == 7.5

    # pruned scan honors merge_schema too
    sc = S.snap_scan(spark, t, [("id", ">=", 2)], merge_schema=True)
    assert set(sc.columns) == {"id", "s", "score"}


def test_snap_append_survives_concurrent_commit(spark, tmp_path, monkeypatch):
    """A commit landing between snap_append's manifest read and its OCC
    create must surface as CommitConflict and retry — not be silently
    dropped from the new file list (lost update). Interleave by
    committing a racer inside the victim's manifest read; the final
    table must contain BOTH writers' rows."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    t = str(tmp_path / "racetab")
    S.snap_append(spark, t,
                  spark.createDataFrame([("a", 1)], "k string, v int"))

    real = S._read_raw_manifest
    state = {"raced": False}

    def racing_read(spark_, table, version=None):
        m = real(spark_, table, version)
        if not state["raced"] and version is None:
            state["raced"] = True
            S.snap_append(spark_, table, spark_.createDataFrame(
                [("r", 9)], "k string, v int"), note="racer")
        return m                       # stale: read BEFORE the racer won

    monkeypatch.setattr(S, "_read_raw_manifest", racing_read)
    S.snap_append(spark, t,
                  spark.createDataFrame([("b", 2)], "k string, v int"))
    monkeypatch.setattr(S, "_read_raw_manifest", real)

    got = sorted((r.k, r.v) for r in S.read_snapshot(spark, t).collect())
    assert got == [("a", 1), ("b", 2), ("r", 9)]
    assert S.current_version(spark, t) == 3


def test_snap_apply_cdc_on_timestamp_partitions(spark, tmp_path):
    """CDC over a timestamp-partitioned table whose partition values
    render differently in Python (fractional seconds): deleting the only
    row of one partition value leaves the other, with ``dt`` still a
    timestamp."""
    from datetime import datetime

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "tscdc")
    t1 = datetime(2023, 1, 1, 0, 0, 0, 500000)   # str() -> ...00.500000
    t2 = datetime(2023, 1, 2, 12, 30, 0)
    S.snap_append(spark, t, spark.createDataFrame(
        [(t1, 1, 10.0), (t2, 2, 20.0)], "dt timestamp, k int, v double"),
        partition_by=("dt",))

    _cdc_commit(spark, S, t, spark.createDataFrame(
        [("D", t1, 1, None)], "op string, dt timestamp, k int, v double"),
        "k")
    back = S.read_snapshot(spark, t)
    assert dict(back.dtypes)["dt"] == "timestamp"
    assert [(r.dt, r.k, r.v) for r in back.collect()] == [(t2, 2, 20.0)]


def test_timestamp_partitions_read_typed_and_prune(spark, tmp_path):
    """A timestamp partition column reads back as ``timestamp`` with the
    values written (Spark's own inference for these paths), its path
    stats compare in the same form as a datetime predicate, so
    ``prune_files``/``snap_scan`` keep the matching file for ``=`` and
    range predicates; the arrow twin types it as a timestamp too."""
    from datetime import datetime

    import pyarrow as pa

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import pyds
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "tspart")
    t1 = datetime(2023, 1, 1, 0, 0, 0, 500000)
    t2 = datetime(2023, 1, 2, 12, 30, 0)
    S.snap_append(spark, t, spark.createDataFrame(
        [(t1, 1), (t2, 2)], "dt timestamp, k int"), partition_by=("dt",))
    back = S.read_snapshot(spark, t)
    assert dict(back.dtypes)["dt"] == "timestamp"
    assert sorted((r.dt, r.k) for r in back.collect()) == [(t1, 1), (t2, 2)]
    assert dict(spark.read.parquet(f"{t}/data").dtypes)["dt"] == "timestamp"

    m = S.read_manifest(spark, t)
    assert len(m["files"]) == 2
    assert len(S.prune_files(m, [("dt", "=", t1)])) == 1
    for preds, want in [([("dt", "=", t1)], [1]),
                        ([("dt", "<", t2)], [1]),
                        ([("dt", ">=", t1)], [1, 2]),
                        ([("dt", ">", t1)], [2]),
                        ([("dt", "<=", datetime(2023, 1, 1))], [])]:
        got = sorted(r.k for r in S.snap_scan(spark, t, preds).collect())
        assert got == want, preds

    pv = S.partition_values_of
    assert pv("data/c-x/dt=2023-01-01 00%3A00%3A00.5/f.parquet") == {"dt": t1}
    # an impossible calendar value is no timestamp (the JVM cast
    # rejects it too) and stays a string
    assert pv("data/c-x/dt=2023-02-30 00%3A00%3A00/f.parquet") == \
        {"dt": "2023-02-30 00:00:00"}
    assert pa.types.is_timestamp(pyds._infer_partition_type([t1, t2]))


def test_snap_append_commit_payload_is_o_delta(spark, tmp_path):
    """Manifest-list indirection: after many appends the newest VERSION
    file must stay O(segments) bytes — naming segment manifests, never
    the full file list — and the newest SEGMENT must list only the last
    commit's files. All reads (head, time travel, pruning, change feed)
    still resolve the full set."""
    import json as _json

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    t = str(tmp_path / "bigtab")
    n_commits = 12
    for i in range(n_commits):
        d = spark.createDataFrame([(i, i * 10)], "k int, v int") \
            .coalesce(1)                          # exactly 1 file/commit
        S.snap_append(spark, t, d, stat_cols=("k",))

    head = S.current_version(spark, t)
    assert head == n_commits
    raw = S._read_raw_manifest(spark, t, head)
    assert "files" not in raw                     # no inline file list
    assert len(raw["segments"]) == n_commits
    last_seg = S._read_segment(spark, t, raw["segments"][-1])
    assert len(last_seg["files"]) == 1            # O(delta), not O(table)
    # version-file byte size must not scale with table size: it names
    # segments (fixed-width tokens) plus one data-sequence entry per
    # segment — both O(segments), never O(files)
    vtext = open(f"{t}/_manifests/v{head:08d}.json").read()
    assert len(vtext) < 200 + 130 * n_commits

    resolved = S.read_manifest(spark, t)
    assert len(resolved["files"]) == n_commits
    assert len(resolved["stats"]) == n_commits
    assert S.read_snapshot(spark, t).count() == n_commits
    assert S.read_snapshot(spark, t, version=3).count() == 3
    # stats-based pruning still works through segments
    pruned = S.prune_files(resolved, [("k", "=", 5)])
    assert len(pruned) == 1
    # change feed over the last two commits reads only their files
    feed = S.snap_changes(spark, t, from_version=head - 2)
    assert sorted(r.k for r in feed.collect()) == [n_commits - 2,
                                                   n_commits - 1]
    _json.loads(vtext)                            # well-formed commit


def test_snap_segment_list_coalesces_at_cap(spark, tmp_path, monkeypatch):
    """Past _MAX_SEGMENTS the append path merges parent segments into
    one — resolution cost stays bounded by the cap, not commit count."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    monkeypatch.setattr(S, "_MAX_SEGMENTS", 4)
    t = str(tmp_path / "captab")
    for i in range(7):
        S.snap_append(spark, t,
                      spark.createDataFrame([(i,)], "k int"))
    raw = S._read_raw_manifest(spark, t)
    assert len(raw["segments"]) <= 4
    assert sorted(r.k for r in S.read_snapshot(spark, t).collect()) == \
        list(range(7))


def test_snap_merge_on_read_deletes(spark, tmp_path):
    """Equality-delete commits (snap_delete_keys): rows disappear from
    head reads WITHOUT rewriting data files (O(keys) commit payload),
    time travel still shows them, appends carry the delete list
    forward, snap_scan applies them after pruning, compaction
    MATERIALIZES them (delete list cleared, rows physically gone), and
    the change feed refuses a range containing a delete commit."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    t = str(tmp_path / "mordtab")
    d1 = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 20.0), ("c", 3, 30.0)],
        "k string, i int, v double")
    S.snap_append(spark, t, d1, stat_cols=("i",))            # v1
    files_v1 = set(S.read_manifest(spark, t)["files"])

    dels = spark.createDataFrame([("b", 99)], "k string, junk int")
    assert S.snap_delete_keys(spark, t, dels, ["k"]) == 2    # v2

    def rows(df):
        return sorted((r.k, r.i) for r in df.collect())

    # head hides 'b'; the v1 data files are untouched on disk
    assert rows(S.read_snapshot(spark, t)) == [("a", 1), ("c", 3)]
    assert files_v1 <= set(S.read_manifest(spark, t)["files"]) \
        or files_v1 == set(S.read_manifest(spark, t)["files"])
    assert rows(S.read_snapshot(spark, t, version=1)) == \
        [("a", 1), ("b", 2), ("c", 3)]                       # time travel

    # append carries the delete list forward
    S.snap_append(spark, t, spark.createDataFrame(
        [("d", 4, 40.0)], "k string, i int, v double"), stat_cols=("i",))
    assert rows(S.read_snapshot(spark, t)) == \
        [("a", 1), ("c", 3), ("d", 4)]

    # snap_scan: pruning + residual + deletes compose
    got = S.snap_scan(spark, t, [("i", ">=", 2)])
    assert rows(got) == [("c", 3), ("d", 4)]

    # a second delete with a DIFFERENT key set stacks
    S.snap_delete_keys(spark, t, spark.createDataFrame(
        [(4,)], "i int"), ["i"])
    assert rows(S.read_snapshot(spark, t)) == [("a", 1), ("c", 3)]

    # change feed across the delete commit refuses
    with pytest.raises(ValueError, match="delete"):
        S.snap_changes(spark, t, from_version=1)

    # compaction materializes: rows gone, delete list cleared
    S.snap_compact(spark, t, target_files=1, stat_cols=("i",))
    m = S.read_manifest(spark, t)
    assert not m.get("deletes")
    assert rows(S.read_snapshot(spark, t)) == [("a", 1), ("c", 3)]

    # vacuum at horizon 1 keeps the compacted snapshot readable
    S.vacuum(spark, t, keep_versions=1, retention_ms=0)
    assert rows(S.read_snapshot(spark, t)) == [("a", 1), ("c", 3)]


def test_snap_merge_keys_single_commit_sequencing(spark, tmp_path):
    """snap_merge_keys: ONE atomic commit both equality-deletes the
    batch's keys and appends its rows, and stays readable because the
    delete carries a data-sequence number (Iceberg-v2 rule: it applies
    only to files sequenced strictly BEFORE it, never to the
    replacement rows committed with it). Also proves: a later append of
    a merged-away key is NOT retro-deleted; a later merge's delete DOES
    reach earlier merge output; time travel sees the pre-merge state;
    snap_scan composes; compaction materializes; a clone of a table
    with pending sequenced deletes reads identically; and _commit
    rejects a malformed files payload at write time."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    def rows(df):
        return sorted((r.k, r.v) for r in df.collect())

    t = str(tmp_path / "mrg")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"), stat_cols=("v",))
    v0 = S.current_version(spark, t)

    # upsert: replace 'a', insert 'c' — exactly one new version
    up = spark.createDataFrame([("a", 99), ("c", 3)], "k string, v int")
    v1 = S.snap_merge_keys(spark, t, up, ["k"], stat_cols=("v",))
    assert v1 == v0 + 1
    assert rows(S.read_snapshot(spark, t)) == \
        [("a", 99), ("b", 2), ("c", 3)]
    assert rows(S.read_snapshot(spark, t, version=v0)) == \
        [("a", 1), ("b", 2)]                             # time travel

    # sequencing forward: re-appending a merged key must survive the
    # OLDER delete (its seq is below the new file's)
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 7)], "k string, v int"), stat_cols=("v",))
    assert rows(S.read_snapshot(spark, t)) == \
        [("a", 7), ("a", 99), ("b", 2), ("c", 3)]

    # sequencing backward: a NEWER merge's delete reaches both earlier
    # 'a' files (seqs below it) but not its own replacement row
    S.snap_merge_keys(spark, t, spark.createDataFrame(
        [("a", 111)], "k string, v int"), ["k"], stat_cols=("v",))
    assert rows(S.read_snapshot(spark, t)) == \
        [("a", 111), ("b", 2), ("c", 3)]

    # snap_scan: stats pruning + residual + sequenced deletes compose
    assert rows(S.snap_scan(spark, t, [("v", ">=", 3)])) == \
        [("a", 111), ("c", 3)]

    # clone carries the pending sequenced deletes AND the file
    # sequences — identical read, divergent history
    dst = str(tmp_path / "mrgclone")
    S.snap_clone(spark, t, dst)
    assert rows(S.read_snapshot(spark, dst)) == \
        [("a", 111), ("b", 2), ("c", 3)]

    # compaction materializes: delete list cleared, rows physically gone
    S.snap_compact(spark, t, target_files=1, stat_cols=("v",))
    m = S.read_manifest(spark, t)
    assert not m.get("deletes")
    assert rows(S.read_snapshot(spark, t)) == \
        [("a", 111), ("b", 2), ("c", 3)]

    # malformed manifests die at WRITE time: the raw (names, stats)
    # tuple from _write_data_files is not a list of str names
    bad = S._write_data_files(spark.createDataFrame(
        [("x", 1)], "k string, v int"), t)
    with pytest.raises(TypeError, match="list of str"):
        S._commit(spark, t, bad, "malformed")


def _merge_history_table(spark, tmp_path, name="seqsrc"):
    """Source table whose file/delete sequences reach v4: append, then
    three merges — head = [(a,99), (b,22), (c,33)] with pending deletes
    at seqs 2, 3, 4 and live files at seqs 2, 3, 4."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    t = str(tmp_path / name)
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"))
    S.snap_merge_keys(spark, t, spark.createDataFrame(
        [("a", 99), ("c", 3)], "k string, v int"), ["k"])
    S.snap_merge_keys(spark, t, spark.createDataFrame(
        [("b", 22)], "k string, v int"), ["k"])
    S.snap_merge_keys(spark, t, spark.createDataFrame(
        [("c", 33)], "k string, v int"), ["k"])
    return t


def test_snap_clone_renormalizes_sequences(spark, tmp_path):
    """A clone's carried sequence space must not collide with the
    destination's RESTARTED version counter: seqs renormalize
    order-preservingly into (0, 1] at clone time, so every post-clone
    commit (version >= 2) sequences strictly after all carried files
    and deletes. Pre-fix repros (r10 ADVICE): (a) a post-clone delete
    silently skipped cloned files with source seq >= 2; (b) a
    post-clone append was retro-deleted by carried deletes with higher
    source seqs."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    def rows(table):
        return sorted((r.k, r.v)
                      for r in S.read_snapshot(spark, table).collect())

    t = _merge_history_table(spark, tmp_path)
    assert rows(t) == [("a", 99), ("b", 22), ("c", 33)]

    d1 = str(tmp_path / "clone1")
    S.snap_clone(spark, t, d1)
    raw = S._read_raw_manifest(spark, d1)
    assert raw["format"] == 2            # sequenced deletes -> stamped
    assert raw["file_seqs"] and all(0 < s <= 1
                                    for s in raw["file_seqs"].values())
    assert all(0 < d["seq"] <= 1 for d in raw["deletes"]
               if d.get("seq") is not None)
    assert rows(d1) == [("a", 99), ("b", 22), ("c", 33)]

    # (a) post-clone deletes reach EVERY cloned file, including the
    # highest-sequenced one (c came from source seq 4)
    S.snap_delete_keys(spark, d1, spark.createDataFrame(
        [("a",)], "k string"), ["k"])
    assert rows(d1) == [("b", 22), ("c", 33)]
    S.snap_delete_keys(spark, d1, spark.createDataFrame(
        [("c",)], "k string"), ["k"])
    assert rows(d1) == [("b", 22)]

    # (b) post-clone append of a key the carried deletes once covered
    # is NOT retro-deleted; a post-clone merge then composes on top
    d2 = str(tmp_path / "clone2")
    S.snap_clone(spark, t, d2)
    S.snap_append(spark, d2, spark.createDataFrame(
        [("c", 7)], "k string, v int"))
    assert rows(d2) == [("a", 99), ("b", 22), ("c", 7), ("c", 33)]
    S.snap_merge_keys(spark, d2, spark.createDataFrame(
        [("c", 5)], "k string, v int"), ["k"])
    assert rows(d2) == [("a", 99), ("b", 22), ("c", 5)]
    # the source never moved
    assert rows(t) == [("a", 99), ("b", 22), ("c", 33)]


def test_manifest_format_version_gate(spark, tmp_path):
    """Manifests that RELY on sequence semantics carry ``format: 2``;
    both readers refuse a NEWER format instead of misreading it (a
    pre-sequence reader applying every delete to every file would
    silently drop a MERGE's replacement rows). Plain appends stay
    unstamped — readable by every build — and an append that carries
    sequenced deletes forward keeps the stamp, whichever writer made it."""
    import json

    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        pyds,
        snapshots as S,
    )

    pyds.register_python_sources(spark)
    t = str(tmp_path / "fmt")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1)], "k string, v int"))
    assert "format" not in S._read_raw_manifest(spark, t)
    S.snap_merge_keys(spark, t, spark.createDataFrame(
        [("a", 2)], "k string, v int"), ["k"])
    assert S._read_raw_manifest(spark, t)["format"] == 2
    spark.createDataFrame([("b", 3)], "k string, v int") \
        .write.format("snaptable").mode("append").save(t)
    raw = S._read_raw_manifest(spark, t)
    assert raw["note"] == "pyds append" and raw["format"] == 2

    # hand-write a FUTURE-format head: both readers must refuse
    doctored = dict(raw, format=3, version=raw["version"] + 1,
                    parent=raw["version"])
    S._write_text_atomic(spark, S._manifest_path(t, raw["version"] + 1),
                         json.dumps(doctored))
    with pytest.raises(ValueError, match="format 3"):
        S.read_manifest(spark, t)
    with pytest.raises(Exception, match="format 3"):
        spark.read.format("snaptable").load(t).collect()


def test_snap_merge_keys_duplicate_batch_guard(spark, tmp_path):
    """A batch with several rows per key would append all of them and
    delete none (the delete only covers files sequenced BEFORE the
    commit) — a silent multi-row 'upsert'. Default errors like
    Iceberg's MERGE; on_duplicate='keep_all' is the documented opt-in
    for replace-group-by-key."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    def rows(table):
        return sorted((r.k, r.v)
                      for r in S.read_snapshot(spark, table).collect())

    t = str(tmp_path / "dup")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"))
    dup = spark.createDataFrame([("a", 2), ("a", 3)], "k string, v int")
    with pytest.raises(ValueError, match="multiple rows"):
        S.snap_merge_keys(spark, t, dup, ["k"])
    assert rows(t) == [("a", 1), ("b", 2)]    # nothing half-committed
    S.snap_merge_keys(spark, t, dup, ["k"], on_duplicate="keep_all")
    assert rows(t) == [("a", 2), ("a", 3), ("b", 2)]
    with pytest.raises(ValueError, match="on_duplicate"):
        S.snap_merge_keys(spark, t, dup, ["k"], on_duplicate="nope")


def test_snap_compact_preserves_sequenced_deletes(spark, tmp_path):
    """delete -> re-append -> compact: compaction materializes exactly
    the sequence-correct view (the old delete neither resurrects the
    deleted row nor kills the re-appended one), clears the delete list,
    and post-compact deletes work on the rewritten files."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    def rows(table):
        return sorted((r.k, r.v)
                      for r in S.read_snapshot(spark, table).collect())

    t = str(tmp_path / "cps")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"))
    S.snap_delete_keys(spark, t, spark.createDataFrame(
        [("a",)], "k string"), ["k"])
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 7)], "k string, v int"))
    assert rows(t) == [("a", 7), ("b", 2)]
    S.snap_compact(spark, t, target_files=1)
    m = S.read_manifest(spark, t)
    assert not m.get("deletes") and len(m["files"]) == 1
    assert rows(t) == [("a", 7), ("b", 2)]
    S.snap_delete_keys(spark, t, spark.createDataFrame(
        [("b",)], "k string"), ["k"])
    assert rows(t) == [("a", 7)]


def test_snap_replace_where_prunes_untouched_files(spark, tmp_path):
    """With prune_predicates, replace_where rewrites ONLY files whose
    stats windows can contain matching rows: untouched files keep their
    exact names (bytes never read), their stats carry forward, and the
    result equals a full rewrite."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    t = str(tmp_path / "rwtab")
    # three commits = three files with disjoint k ranges and stats
    for lo in (0, 100, 200):
        d = spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(5)],
            "k int, s string").coalesce(1)
        S.snap_append(spark, t, d, stat_cols=("k",))
    m0 = S.read_manifest(spark, t)
    assert len(m0["files"]) == 3

    upd = spark.createDataFrame([(102, "NEW")], "k int, s string")
    S.snap_replace_where(spark, t, upd, "k >= 100 AND k < 200",
                         stat_cols=("k",),
                         prune_predicates=[("k", ">=", 100),
                                           ("k", "<", 200)])
    m1 = S.read_manifest(spark, t)
    survivors = set(m0["files"]) & set(m1["files"])
    assert len(survivors) == 2          # the 0- and 200-range files
    for f in survivors:
        assert m1["stats"][f] == m0["stats"][f]   # stats carried

    rows = sorted((r.k, r.s) for r in S.read_snapshot(spark, t).collect())
    assert (102, "NEW") in rows
    assert len(rows) == 11              # 5 + 1 + 5
    assert all(not (100 <= k < 200) or (k, s) == (102, "NEW")
               for k, s in rows)

    # pending merge-on-read deletes force the full-rewrite fallback
    S.snap_delete_keys(spark, t, spark.createDataFrame([(0,)], "k int"),
                       ["k"])
    S.snap_replace_where(spark, t, spark.createDataFrame(
        [(300, "X")], "k int, s string"), "k >= 300",
        stat_cols=("k",), prune_predicates=[("k", ">=", 300)])
    m2 = S.read_manifest(spark, t)
    assert not m2.get("deletes")        # materialized by the rewrite
    rows2 = sorted(r.k for r in S.read_snapshot(spark, t).collect())
    assert 0 not in rows2 and 300 in rows2 and len(rows2) == 11


def test_snap_value_set_stats_prune_categoricals(spark, tmp_path):
    """Opt-in value_cols record each file's distinct categorical set
    (capped) so an equality predicate prunes files whose [min,max]
    window would keep them: files spanning {'a','z'} but not containing
    'm' drop. Over-cap columns record no set (min/max only)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    t = str(tmp_path / "vstab")
    # file 1 holds types {a, z}; file 2 holds {m}; both windows span 'm'
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("z", 2)], "ty string, v int").coalesce(1),
        stat_cols=("ty",), value_cols=("ty",))
    S.snap_append(spark, t, spark.createDataFrame(
        [("m", 3)], "ty string, v int").coalesce(1),
        stat_cols=("ty",), value_cols=("ty",))

    m = S.read_manifest(spark, t)
    pruned = S.prune_files(m, [("ty", "=", "m")])
    assert len(pruned) == 1                    # min/max alone keeps both
    assert [r.v for r in S.snap_scan(spark, t, [("ty", "=", "m")])
            .collect()] == [3]

    # range predicates still use the window (values don't regress them)
    assert len(S.prune_files(m, [("ty", ">=", "n")])) == 1

    # over-cap column: no value set recorded, still min/max-prunable
    wide = spark.createDataFrame(
        [(f"k{i:03d}", i) for i in range(200)],
        "ty string, v int").coalesce(1)
    t2 = str(tmp_path / "widetab")
    S.snap_append(spark, t2, wide, stat_cols=("ty",), value_cols=("ty",))
    st = next(iter(S.read_manifest(spark, t2)["stats"].values()))
    assert "values" not in st["cols"]["ty"]
    assert st["cols"]["ty"]["min"] == "k000"


def test_snap_clone_is_independent_byte_copy(spark, tmp_path):
    """snap_clone: the clone reads identically to the source snapshot
    (including pending merge-on-read deletes), histories diverge from
    then on, and vacuuming the source cannot break the clone."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    src = str(tmp_path / "srctab")
    S.snap_append(spark, src, spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v int").coalesce(1),
        stat_cols=("v",))
    S.snap_delete_keys(spark, src, spark.createDataFrame(
        [("b",)], "k string"), ["k"])

    dst = str(tmp_path / "clonetab")
    assert S.snap_clone(spark, src, dst) == 1

    def rows(t, **kw):
        return sorted((r.k, r.v) for r in
                      S.read_snapshot(spark, t, **kw).collect())

    assert rows(dst) == [("a", 1), ("c", 3)]          # deletes carried
    # stats carried -> pruning works on the clone
    assert S.prune_files(S.read_manifest(spark, dst), [("v", ">", 99)]) == []

    # divergence: append to the clone, source unchanged
    S.snap_append(spark, dst, spark.createDataFrame(
        [("d", 4)], "k string, v int"))
    assert rows(dst) == [("a", 1), ("c", 3), ("d", 4)]
    assert rows(src) == [("a", 1), ("c", 3)]

    # compact + vacuum the SOURCE to fresh files; clone still reads
    S.snap_compact(spark, src, target_files=1)
    S.vacuum(spark, src, keep_versions=1, retention_ms=0)
    assert rows(dst) == [("a", 1), ("c", 3), ("d", 4)]

    import pytest
    with pytest.raises(ValueError, match="not empty"):
        S.snap_clone(spark, src, dst)


def test_snap_partitioned_commit_prunes_from_path(spark, tmp_path):
    """partition_by commits: files land in hive col=value directories,
    each file's partition value becomes an exact min=max stats entry
    parsed from the PATH (no stats job), equality/range predicates on
    the partition column prune at planning time, and every read path
    recovers the partition column (basePath) with exact results. NULL
    partition values round-trip through __HIVE_DEFAULT_PARTITION__."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "ptab")
    df = spark.range(0, 90).select(
        F.col("id"),
        (F.col("id") % 3).alias("bucket"),
        F.when(F.col("id") % 30 == 0, None)
        .otherwise(F.concat(F.lit("s"), F.col("id") % 2)).alias("src"))
    S.snap_append(spark, t, df.repartition(1), partition_by=("bucket",))
    m = S.read_manifest(spark, t)
    assert m.get("partition_by") == ["bucket"]
    assert len(m["files"]) == 3                     # one per bucket value
    assert all("bucket=" in f for f in m["files"])

    # path-derived stats prune exactly: one file per equality value
    assert len(S.prune_files(m, [("bucket", "=", 1)])) == 1
    assert len(S.prune_files(m, [("bucket", ">=", 1)])) == 2
    assert len(S.prune_files(m, [("bucket", "is_null")])) == 0

    got = sorted(r["id"] for r in S.snap_scan(
        spark, t, [("bucket", "=", 2)]).collect())
    assert got == [i for i in range(90) if i % 3 == 2]
    # full read recovers the partition column with correct values
    full = S.read_snapshot(spark, t)
    assert sorted((r["id"], r["bucket"]) for r in full.collect()) == \
        [(i, i % 3) for i in range(90)]

    # appends carry the layout forward; a string partition col with
    # NULLs takes the hive default-partition directory and still reads
    t2 = str(tmp_path / "ptab2")
    S.snap_append(spark, t2, df.repartition(1), partition_by=("src",))
    m2 = S.read_manifest(spark, t2)
    assert len(S.prune_files(m2, [("src", "is_null")])) == 1
    assert len(S.prune_files(m2, [("src", "=", "s1")])) == 1
    rows = S.read_snapshot(spark, t2).collect()
    assert sorted((r["id"], r["src"]) for r in rows) == sorted(
        (i, None if i % 30 == 0 else f"s{i % 2}") for i in range(90))
    nulls = S.snap_scan(spark, t2, [("src", "is_null")]).collect()
    assert sorted(r["id"] for r in nulls) == [0, 30, 60]


def test_snap_partitioned_mixed_with_stats_and_replace_where(spark, tmp_path):
    """Partition path stats merge with a stat_cols job on the same
    commit, and replace_where keeps partition pruning usable as its
    prune_predicates (the one-partition rewrite production pattern)."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "ptab")
    df = spark.range(0, 60).select(
        F.col("id"), (F.col("id") % 2).alias("p"))
    S.snap_append(spark, t, df.repartition(1), partition_by=("p",),
                  stat_cols=("id",))
    m = S.read_manifest(spark, t)
    # both pruning indexes live on the same files
    assert len(S.prune_files(m, [("p", "=", 0)])) == 1
    assert len(S.prune_files(m, [("id", "<", 0)])) == 0
    assert len(S.prune_files(m, [("p", "=", 1), ("id", ">=", 0)])) == 1

    # rewrite ONLY partition p=1, carrying p=0 untouched
    repl = spark.range(100, 110).select(
        F.col("id"), F.lit(1).alias("p"))
    S.snap_replace_where(spark, t, repl, "p = 1",
                         prune_predicates=[("p", "=", 1)])
    m2 = S.read_manifest(spark, t)
    untouched = [f for f in m2["files"] if "p=0" in f]
    assert untouched and set(untouched) <= set(m["files"])
    got = sorted(r["id"] for r in S.read_snapshot(spark, t).collect())
    assert got == [i for i in range(60) if i % 2 == 0] + \
        list(range(100, 110))


def test_partition_value_inference_is_jvm_strict(spark, tmp_path):
    """Path-partition value inference must accept EXACTLY what Spark's
    JVM partition discovery parses as numeric — Python's looser
    int()/float() (underscores, inf/nan, exponents) would record an int
    stat for a value Spark keeps as a string, and the global cast in
    _read_files would NULL the column (silent corruption) while
    prune_files raised TypeError on int-vs-string comparison."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    pv = S.partition_values_of
    assert pv("data/c-x/k=5/f.parquet") == {"k": 5}
    assert pv("data/c-x/k=-12/f.parquet") == {"k": -12}
    assert pv("data/c-x/k=+5/f.parquet") == {"k": 5}
    assert pv("data/c-x/k=3.50/f.parquet") == {"k": 3.5}
    # JVM-numeric exponent/point forms parse numeric (measured: Spark
    # infers x=1e5 as decimal(7,0)=100000, x=5. as decimal, x=Infinity
    # as double) — keeping them strings would put "1e5" in the manifest
    # stat while the rebuilt column reads 100000.0, so an equality
    # predicate could prune a file that holds matching rows
    assert pv("data/c-x/k=1e5/f.parquet") == {"k": 100000.0}
    assert pv("data/c-x/k=1.5e3/f.parquet") == {"k": 1500.0}
    assert pv("data/c-x/k=5./f.parquet") == {"k": 5.0}
    assert pv("data/c-x/k=.5/f.parquet") == {"k": 0.5}
    assert pv("data/c-x/k=Infinity/f.parquet") == {"k": float("inf")}
    assert pv("data/c-x/k=-Infinity/f.parquet") == {"k": float("-inf")}
    got_nan = pv("data/c-x/k=NaN/f.parquet")["k"]
    assert isinstance(got_nan, float) and got_nan != got_nan
    # Python-numeric-but-JVM-string forms stay strings (the JVM is
    # case-sensitive about its special tokens and rejects separators)
    for raw in ("2024_01", "1_0", "inf", "-inf", "nan", "0x1f", "e5",
                ".", "1e", "1e5.5"):
        assert pv(f"data/c-x/k={raw}/f.parquet") == {"k": raw}, raw

    # end-to-end: a string partition value int() would mangle survives
    # the full commit -> stats -> read -> prune cycle verbatim
    t = str(tmp_path / "months")
    df = spark.createDataFrame(
        [(1, "2024_01"), (2, "2024_01"), (3, "2024_02")], "id int, m string")
    S.snap_append(spark, t, df.repartition(1), partition_by=("m",))
    m = S.read_manifest(spark, t)
    assert len(m["files"]) == 2
    got = sorted((r["id"], r["m"])
                 for r in S.read_snapshot(spark, t).collect())
    assert got == [(1, "2024_01"), (2, "2024_01"), (3, "2024_02")]
    assert len(S.prune_files(m, [("m", "=", "2024_02")])) == 1
    rows = S.snap_scan(spark, t, [("m", "=", "2024_01")]).collect()
    assert sorted(r["id"] for r in rows) == [1, 2]


def test_partition_exponent_form_prunes_consistently(spark, tmp_path):
    """End-to-end pruning over exponent-form partition paths (k=1e5):
    the path value, the manifest stat, the rebuilt column, and the
    predicate must all live in ONE numeric space — the pre-fix string
    stat ('1e5') vs double column (100000.0) mismatch made an equality
    predicate prune the very file that held the matching rows."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "expo")
    df = spark.createDataFrame(
        [(1, "1e5"), (2, "1e5"), (3, "2e6")], "id int, k string")
    S.snap_append(spark, t, df.repartition(1), partition_by=("k",))
    m = S.read_manifest(spark, t)
    assert len(m["files"]) == 2
    # the rebuilt column is numeric (Spark's own inference for these
    # paths: decimal -> engine-cast double), never the raw string
    got = sorted((r["id"], r["k"])
                 for r in S.read_snapshot(spark, t).collect())
    assert got == [(1, 100000.0), (2, 100000.0), (3, 2000000.0)]
    # pruning + residual filter agree with the data under a NUMERIC
    # predicate — exactly one file survives, rows come back
    assert len(S.prune_files(m, [("k", "=", 100000.0)])) == 1
    rows = S.snap_scan(spark, t, [("k", "=", 100000.0)]).collect()
    assert sorted(r["id"] for r in rows) == [1, 2]
    rows = S.snap_scan(spark, t, [("k", ">", 500000.0)]).collect()
    assert [r["id"] for r in rows] == [3]
    # NaN stat windows keep (never drop) their file under any range
    # predicate — every NaN comparison reads False, which unguarded
    # would prune a live file
    mm = {"files": ["f1"], "stats": {"f1": {"rows": 1, "cols": {
        "k": {"min": float("nan"), "max": float("nan"), "nulls": 0}}}}}
    assert S.prune_files(mm, [("k", ">", 0.0)]) == ["f1"]


def test_snap_stats_survive_table_path_containing_data(spark, tmp_path):
    """A table rooted under a path that itself contains '/data/' must
    still map input_file_name URIs back to manifest names (rsplit on
    the LAST '/data/') — otherwise every stat silently drops and
    pruning degrades to keep-everything."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "data" / "lake" / "tab")
    df = spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 4).alias("b"))
    S.snap_append(spark, t, df.repartition(2, "b"), stat_cols=("id", "b"))
    m = S.read_manifest(spark, t)
    # stats were collected for every file (the regression dropped all)
    assert set(m["stats"].keys()) == set(m["files"])
    assert all("id" in e["cols"] for e in m["stats"].values())
    assert len(S.prune_files(m, [("id", ">", 1000)])) == 0
    got = sorted(r["id"] for r in S.snap_scan(
        spark, t, [("id", "<", 5)]).collect())
    assert got == [0, 1, 2, 3, 4]


def test_snap_changes_resolves_layout_per_source_version(spark, tmp_path):
    """Change-feed reads across a mid-range layout change: files added
    by an unpartitioned-era commit read under THEIR layout (column from
    data) while files from a partitioned-era commit rebuild the column
    from the path — resolving only the HEAD manifest's partition_by
    would misread or NULL the earlier group. History is hand-crafted
    (manifest JSON is the public format) because the commit API itself
    refuses to mix layouts among live files of one snapshot."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "tab")
    os.makedirs(f"{t}/_manifests")

    def _files_under(sub):
        out = []
        for root, _, names in os.walk(f"{t}/{sub}"):
            rel = os.path.relpath(root, t)
            out += [f"{rel}/{n}" for n in names
                    if n.endswith(".parquet")]
        return sorted(out)

    df1 = spark.createDataFrame([(1, "x"), (2, "y")], "id int, p string")
    df1.repartition(1).write.parquet(f"{t}/data/c-era1")
    f1 = _files_under("data/c-era1")
    df2 = spark.createDataFrame([(3, "x"), (4, "z")], "id int, p string")
    df2.repartition(1).write.partitionBy("p").parquet(f"{t}/data/c-era2")
    f2 = _files_under("data/c-era2")
    assert f1 and f2 and all("p=" in f for f in f2)

    with open(f"{t}/_manifests/v00000001.json", "w") as fh:
        _json.dump({"version": 1, "parent": None, "note": "era1",
                    "files": f1}, fh)
    with open(f"{t}/_manifests/v00000002.json", "w") as fh:
        _json.dump({"version": 2, "parent": 1, "note": "era2",
                    "files": f1 + f2, "partition_by": ["p"]}, fh)

    feed = S.snap_changes(spark, t, from_version=0)
    assert sorted((r["id"], r["p"]) for r in feed.collect()) == \
        [(1, "x"), (2, "y"), (3, "x"), (4, "z")]
    # narrower range: only the partitioned era's files
    feed2 = S.snap_changes(spark, t, from_version=1)
    assert sorted((r["id"], r["p"]) for r in feed2.collect()) == \
        [(3, "x"), (4, "z")]


def test_snap_compact_cluster_by_tightens_pruning(spark, tmp_path):
    """Range-clustered compaction: after compact(cluster_by=...), each
    file covers a narrow non-overlapping key slice, so a point/range
    predicate prunes to O(1) files — before it, round-robin layout
    makes every file span the whole key range and nothing prunes."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    t = str(tmp_path / "clus")
    # shuffled keys so every pre-compact file spans ~the full range
    df = (spark.range(0, 4000)
          .select((F.col("id") * 2654435761 % 4000).alias("k"),
                  F.col("id").alias("v"))
          .repartition(8))
    S.snap_append(spark, t, df, stat_cols=("k",))
    m0 = S.read_manifest(spark, t)
    assert len(m0["files"]) == 8
    # pre-compact: a narrow range keeps (almost) every file
    kept0 = S.prune_files(m0, [("k", ">=", 100), ("k", "<", 140)])
    assert len(kept0) >= 7

    S.snap_compact(spark, t, target_files=8, cluster_by=("k",))
    m1 = S.read_manifest(spark, t)
    assert len(m1["files"]) == 8
    # same predicate now prunes to a sliver (1-2 boundary-straddling files)
    kept1 = S.prune_files(m1, [("k", ">=", 100), ("k", "<", 140)])
    assert len(kept1) <= 2
    # rows identical through the rewrite, and the scan stays exact
    got = sorted(r.k for r in S.snap_scan(
        spark, t, [("k", ">=", 100), ("k", "<", 140)]).collect())
    assert got == list(range(100, 140))
    assert S.read_snapshot(spark, t).count() == 4000


def test_snap_restore_rolls_back_as_new_commit(spark, tmp_path):
    """snap_restore: head returns to an old snapshot's exact state as a
    NEW commit — no data copied, intermediate history still
    time-travels, post-restore commits sequence correctly on top (incl.
    restored merge-on-read deletes)."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    def rows(v=None):
        return sorted((r.k, r.x)
                      for r in S.read_snapshot(spark, t, version=v).collect())

    t = str(tmp_path / "rst")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, x int"))           # v1
    S.snap_merge_keys(spark, t, spark.createDataFrame(
        [("a", 99), ("c", 3)], "k string, x int"), ["k"])   # v2 (deletes)
    S.snap_append(spark, t, spark.createDataFrame(
        [("d", 4)], "k string, x int"))                     # v3
    assert rows() == [("a", 99), ("b", 2), ("c", 3), ("d", 4)]

    v4 = S.snap_restore(spark, t, 2)
    assert v4 == 4
    assert rows() == [("a", 99), ("b", 2), ("c", 3)]        # v2 state
    assert rows(3) == [("a", 99), ("b", 2), ("c", 3), ("d", 4)]  # history
    # restored sequenced deletes still respect later appends
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 7)], "k string, x int"))
    assert rows() == [("a", 7), ("a", 99), ("b", 2), ("c", 3)]
    # restore of v1 (pre-merge) then merge again — full cycle
    S.snap_restore(spark, t, 1)
    assert rows() == [("a", 1), ("b", 2)]
    with pytest.raises(ValueError, match="cannot restore"):
        S.snap_restore(spark, t, 99)
