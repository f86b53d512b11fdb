"""Spark 4 Python DataSource bindings (sources/pyds.py): batch
``snaptable`` reads match the native snapshot reader (time travel,
merge-on-read deletes included), pushed filters prune file partitions
at planning time while staying residual-exact, and the ``snapfeed``
stream delivers appended rows exactly once with Spark-checkpointed
version offsets."""

from __future__ import annotations

import pytest

from airflow_pipelines_from_mongo_to_postgres_spark.sources import pyds
from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S


@pytest.fixture()
def registered(spark):
    pyds.register_python_sources(spark)
    return spark


def _rows(df, cols=("k", "v")):
    return sorted((tuple(r[c] for c in cols)) for r in df.collect())


def test_snaptable_reads_match_native_reader(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "tab")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"))
    S.snap_append(spark, t, spark.createDataFrame(
        [("c", 3)], "k string, v int"))

    got = spark.read.format("snaptable").load(t)
    assert got.schema == S.read_snapshot(spark, t).schema
    assert _rows(got) == _rows(S.read_snapshot(spark, t))
    # time travel via option
    v1 = spark.read.format("snaptable").option("version", 1).load(t)
    assert _rows(v1) == [("a", 1), ("b", 2)]


def test_snaptable_applies_equality_deletes(registered, tmp_path):
    spark = registered
    t = str(tmp_path / "tab")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v int"))
    S.snap_delete_keys(spark, t,
                       spark.createDataFrame([("b",)], "k string"), ["k"])
    got = spark.read.format("snaptable").load(t)
    assert _rows(got) == [("a", 1), ("c", 3)]
    assert _rows(got) == _rows(S.read_snapshot(spark, t))


def test_snaptable_applies_sequenced_merge_deletes(registered, tmp_path):
    """Python-reader parity for data-sequence numbers: after a
    single-commit MERGE (delete keys + replacement rows, one version),
    the snaptable DataSource must apply the delete only to files
    sequenced BEFORE it — same rows as the native reader, replacement
    rows intact."""
    spark = registered
    t = str(tmp_path / "tab")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"))
    S.snap_merge_keys(spark, t, spark.createDataFrame(
        [("a", 99), ("c", 3)], "k string, v int"), ["k"])
    # and a post-merge re-append of a merged key: survives the older
    # delete in BOTH readers
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 7)], "k string, v int"))
    got = spark.read.format("snaptable").load(t)
    assert _rows(got) == [("a", 7), ("a", 99), ("b", 2), ("c", 3)]
    assert _rows(got) == _rows(S.read_snapshot(spark, t))


def test_snaptable_reads_clone_with_deletes(registered, tmp_path):
    """Clone-with-pending-deletes roundtrip through the Python
    DataSource: the renormalized (fractional) carried sequences read
    identically to the native reader, both right after the clone and
    after post-clone delete + append commits layer on top."""
    spark = registered
    src = str(tmp_path / "src")
    S.snap_append(spark, src, spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"))
    S.snap_merge_keys(spark, src, spark.createDataFrame(
        [("a", 99), ("c", 3)], "k string, v int"), ["k"])
    S.snap_merge_keys(spark, src, spark.createDataFrame(
        [("b", 22)], "k string, v int"), ["k"])

    dst = str(tmp_path / "dst")
    S.snap_clone(spark, src, dst)
    got = spark.read.format("snaptable").load(dst)
    assert _rows(got) == [("a", 99), ("b", 22), ("c", 3)]
    assert _rows(got) == _rows(S.read_snapshot(spark, dst))

    # post-clone commits sequence after ALL carried state in BOTH readers
    S.snap_delete_keys(spark, dst, spark.createDataFrame(
        [("a",)], "k string"), ["k"])
    S.snap_append(spark, dst, spark.createDataFrame(
        [("c", 7)], "k string, v int"))
    got = spark.read.format("snaptable").load(dst)
    assert _rows(got) == [("b", 22), ("c", 3), ("c", 7)]
    assert _rows(got) == _rows(S.read_snapshot(spark, dst))


def test_snaptable_filter_pushdown_prunes_partitions(registered, tmp_path):
    """Planning-time proof: with per-file stats in the manifest, the
    reader's partitions() drops files a pushed range/equality filter
    excludes — and the query result is still exact because every filter
    is returned residual."""
    spark = registered
    t = str(tmp_path / "tab")
    for lo in (0, 100, 200):
        S.snap_append(
            spark, t,
            spark.createDataFrame([(lo + i, f"s{lo}") for i in range(10)],
                                  "v int, src string").coalesce(1),
            stat_cols=("v",), value_cols=("src",))

    # unit level: reader sees 1 of 3 files for v >= 200
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    r = pyds._SnapTableReader(
        spark.read.format("snaptable").load(t).schema, {"path": t})
    assert len(r.partitions()) == 3
    residual = list(r.pushFilters([GreaterThanOrEqual(("v",), 200)]))
    assert len(residual) == 1              # everything stays residual
    assert len(r.partitions()) == 1
    # categorical value-set pruning through EqualTo on src
    r2 = pyds._SnapTableReader(
        spark.read.format("snaptable").load(t).schema, {"path": t})
    r2.pushFilters([EqualTo(("src",), "s100")])
    assert len(r2.partitions()) == 1

    # end to end: filtered result exact
    got = (spark.read.format("snaptable").load(t)
           .filter("v >= 200 or v < 5"))
    assert got.count() == 15


def test_snapfeed_streams_appends_exactly_once(registered, tmp_path):
    """The stream's offset is the snapshot version: an availableNow run
    drains history from startingVersion, a later run from the SAME
    checkpoint delivers only commits that landed in between, tagged
    with _commit_version."""
    spark = registered
    t = str(tmp_path / "tab")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"))

    def drain():
        q = (spark.readStream.format("snapfeed")
             .option("startingVersion", 0).load(t)
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    drain()
    got1 = _rows(spark.read.parquet(out), ("k", "v", "_commit_version"))
    assert got1 == [("a", 1, 1), ("b", 2, 1)]

    S.snap_append(spark, t, spark.createDataFrame(
        [("c", 3)], "k string, v int"))
    drain()
    got2 = _rows(spark.read.parquet(out), ("k", "v", "_commit_version"))
    # exactly-once: no re-delivery of v1's rows
    assert got2 == [("a", 1, 1), ("b", 2, 1), ("c", 3, 2)]


def test_snaptable_writer_interops_with_native_api(registered, tmp_path):
    """df.write.format('snaptable') commits are real snapshot commits:
    the native reader sees them, versions stack with JVM-side
    snap_append commits, and overwrite keeps history (time travel)."""
    spark = registered
    t = str(tmp_path / "tab")
    d = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    d.write.format("snaptable").mode("append").save(t)           # v1
    assert _rows(S.read_snapshot(spark, t)) == [("a", 1), ("b", 2)]
    S.snap_append(spark, t, spark.createDataFrame(                # v2 (JVM)
        [("c", 3)], "k string, v int"))
    spark.createDataFrame([("d", 4)], "k string, v int") \
        .write.format("snaptable").mode("append").save(t)         # v3
    assert _rows(S.read_snapshot(spark, t)) == \
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)]
    assert _rows(spark.read.format("snaptable").load(t)) == \
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)]

    spark.createDataFrame([("z", 9)], "k string, v int") \
        .write.format("snaptable").mode("overwrite").save(t)      # v4
    assert _rows(S.read_snapshot(spark, t)) == [("z", 9)]
    assert _rows(S.read_snapshot(spark, t, version=3)) == \
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)]


def test_snaptable_writer_stats_enable_pruning(registered, tmp_path):
    """statCols stats are computed task-side from the Arrow batches (no
    extra data pass) and land in the manifest where both the native
    snap_scan and the DS reader prune on them."""
    spark = registered
    t = str(tmp_path / "tab")
    for lo in (0, 100):
        (spark.createDataFrame([(lo + i,) for i in range(10)], "v int")
         .coalesce(1).write.format("snaptable").mode("append")
         .option("statCols", "v").save(t))
    m = S.read_manifest(spark, t)
    assert len(m["files"]) == 2 and len(m["stats"]) == 2
    assert len(S.prune_files(m, [("v", ">=", 100)])) == 1
    r = pyds._SnapTableReader(
        spark.read.format("snaptable").load(t).schema, {"path": t})
    from pyspark.sql.datasource import GreaterThanOrEqual
    r.pushFilters([GreaterThanOrEqual(("v",), 100)])
    assert len(r.partitions()) == 1


@pytest.mark.parametrize("rewrite", ["overwrite", "merge_keys",
                                     "delete_keys"])
def test_snapfeed_refuses_rewrites(registered, tmp_path, rewrite):
    """The feed is append-only like snap_changes: a commit that removes
    files or changes the delete list raises instead of delivering a
    merge's replacement rows as appends (the old row never retracted)."""
    spark = registered
    t = str(tmp_path / "tab")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1)], "k string, v int"))
    if rewrite == "overwrite":
        S.snap_overwrite(spark, t, spark.createDataFrame(
            [("z", 9)], "k string, v int"))
    elif rewrite == "merge_keys":
        S.snap_merge_keys(spark, t, spark.createDataFrame(
            [("a", 9)], "k string, v int"), ["k"])
    else:
        S.snap_delete_keys(spark, t, spark.createDataFrame(
            [("a",)], "k string"), ["k"])
    rdr = pyds._SnapFeedStreamReader(
        spark.read.format("snaptable").load(t).schema,
        {"path": t, "startingversion": "0"})
    with pytest.raises(ValueError, match="append-only"):
        rdr.partitions({"version": 0}, {"version": 2})
    with pytest.raises(ValueError):
        S.snap_changes(spark, t, 0, 2)


def test_one_manifest_implementation():
    """sources/snapshots.py is the only module that knows the manifest
    layout: no other package module names the ``_manifests/`` directory
    (the DataSource runs the snapshots.py helpers over its byte I/O)."""
    import pathlib

    import airflow_pipelines_from_mongo_to_postgres_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    naming = sorted(str(p.relative_to(root)) for p in root.rglob("*.py")
                    if "_manifests/" in p.read_text(encoding="utf-8"))
    assert naming == ["sources/snapshots.py"], naming


def test_snaptable_nonlocal_scheme_roundtrip(registered, tmp_path):
    """The non-local-scheme io route end-to-end on ``mock://`` (the
    disk-backed stand-in for _FsspecIO, same routing and pickling):
    write via the DataSource (task files + OCC manifest commit through
    the io object), batch-read it back with executor-side parquet reads
    through the same seam, version time travel, and a two-drain
    snapfeed stream with no re-delivery. A scheme'd path with no
    backend still fails with the documented NotImplementedError."""
    spark = registered
    root = str(tmp_path / "bucketroot")
    t = "mock://bucket/tab"

    d = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    d.write.format("snaptable").mode("append") \
        .option("mockroot", root).save(t)                          # v1
    spark.createDataFrame([("c", 3)], "k string, v int") \
        .write.format("snaptable").mode("append") \
        .option("mockroot", root).save(t)                          # v2

    got = spark.read.format("snaptable").option("mockroot", root).load(t)
    assert _rows(got) == [("a", 1), ("b", 2), ("c", 3)]
    v1 = (spark.read.format("snaptable").option("mockroot", root)
          .option("version", 1).load(t))
    assert _rows(v1) == [("a", 1), ("b", 2)]

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (spark.readStream.format("snapfeed")
             .option("startingVersion", 0).option("mockroot", root).load(t)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    drain()
    spark.createDataFrame([("d", 4)], "k string, v int") \
        .write.format("snaptable").mode("append") \
        .option("mockroot", root).save(t)                          # v3
    drain()
    assert _rows(spark.read.parquet(out), ("k", "v", "_commit_version")) == \
        [("a", 1, 1), ("b", 2, 1), ("c", 3, 2), ("d", 4, 3)]

    # fsspec route engages for any other scheme; absent backend -> the
    # documented error, not a silent local-path fallback. Message is
    # ours ("fsspec") when fsspec is absent, fsspec's own ("Install
    # s3fs") when fsspec exists but the s3 backend doesn't.
    with pytest.raises(Exception, match=r"fsspec|s3fs|s3"):
        spark.read.format("snaptable").load("s3://nope/tab").collect()


def test_snaptable_reads_hive_partitioned_snapshots(registered, tmp_path):
    """A partition_by snapshot reads identically through the Python
    DataSource: partition columns rebuilt from the path (schema
    appended partition-cols-last, types matching the JVM reader), a
    pushed equality filter on the partition column prunes to that
    partition's files with zero stats job, and the append-writer
    refuses to break the layout."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    spark = registered
    t = str(tmp_path / "ptab")
    df = spark.range(0, 30).select(
        F.col("id"), (F.col("id") % 3).alias("b"))
    S.snap_append(spark, t, df.repartition(1), partition_by=("b",))

    native = S.read_snapshot(spark, t)
    got = spark.read.format("snaptable").load(t)
    # names + types match (nullability differs: the arrow footer keeps
    # spark.range's REQUIRED id, the JVM reader relaxes to nullable)
    assert [(f.name, f.dataType) for f in got.schema.fields] == \
        [(f.name, f.dataType) for f in native.schema.fields]
    assert _rows(got, ("id", "b")) == _rows(native, ("id", "b")) == \
        sorted((i, i % 3) for i in range(30))

    # planning-time pruning on the partition column: 1 of 3 files
    r = pyds._SnapTableReader(got.schema, {"path": t})
    r.pushFilters([EqualTo(("b",), 1)])
    assert len(r.partitions()) == 1
    assert _rows(got.filter("b = 1"), ("id", "b")) == \
        sorted((i, 1) for i in range(30) if i % 3 == 1)

    with pytest.raises(Exception, match="partitioned"):
        df.limit(1).write.format("snaptable").mode("append").save(t)


class _CountingIO(pyds._LocalIO):
    """Local byte store that counts what the manifest helpers and the
    reader ask of it."""

    def __init__(self):
        import collections

        self.calls = collections.Counter()

    def read_text(self, path):
        name = path.rsplit("/", 1)[-1]
        kind = ("head" if name == "HEAD" else
                "version" if name.startswith("v") and name.endswith(".json")
                else "other")
        self.calls[f"read_{kind}"] += 1
        return super().read_text(path)

    def exists(self, path):
        self.calls["exists"] += 1
        return super().exists(path)

    def parquet_read(self, path, columns=None):
        self.calls[path] += 1
        return super().parquet_read(path, columns=columns)


def test_append_commit_reads_the_head_twice(tmp_path):
    """One append over a byte store (layout resolve + segment write +
    commit on head, the DataSource append path): the commit trusts the
    parent it was pinned to — the fail-if-exists create is the OCC gate
    — so the head is read once by the layout check and once by the
    commit, never re-probed inside ``_commit``."""
    io, t = _CountingIO(), str(tmp_path / "tab")

    def append(name):
        layout = S._resolve_layout(io, t, ())
        seg = S._write_segment(io, t, [name], {})
        return S._commit_on_head(io, t, "append", "append", new_seg=seg,
                                 partition_by=layout)

    assert append("data/a.parquet") == 1
    io.calls.clear()
    assert append("data/b.parquet") == 2
    assert (io.calls["read_head"], io.calls["exists"],
            io.calls["read_version"]) == (2, 2, 2)
    assert S.read_manifest(io, t)["files"] == ["data/a.parquet",
                                               "data/b.parquet"]


def test_snaptable_reads_each_delete_file_once_per_scan(spark, tmp_path):
    """Merge-on-read deletes are loaded once per scan when the reader
    plans its partitions, not once per data file: 4 data files under 3
    delete commits cost 3 delete-file reads, and the rows match the
    native reader."""
    t = str(tmp_path / "tab")
    for i in range(4):
        S.snap_append(spark, t, spark.createDataFrame(
            [(f"k{i}{j}", i * 10 + j) for j in range(3)],
            "k string, v int").coalesce(1))
    for i in range(3):
        S.snap_delete_keys(spark, t, spark.createDataFrame(
            [(f"k{i}{i}",)], "k string"), ["k"])

    native = S.read_snapshot(spark, t)
    r = pyds._SnapTableReader(native.schema, {"path": t})
    r.io = _CountingIO()
    got = sorted((row["k"], row["v"]) for p in r.partitions()
                 for b in r.read(p) for row in b.to_pylist())

    data = r.manifest["files"]
    deletes = [f"{t}/{d['file']}" for d in r.manifest["deletes"]]
    assert len(data) == 4 and len(deletes) == 3
    assert {f: r.io.calls[f] for f in deletes} == {f: 1 for f in deletes}
    assert {f: r.io.calls[f"{t}/{f}"] for f in data} == {f: 1 for f in data}
    assert got == _rows(native) and len(got) == 4 * 3 - 3
