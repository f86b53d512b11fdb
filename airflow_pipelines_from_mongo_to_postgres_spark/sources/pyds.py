"""Spark 4 Python DataSource bindings for the snapshot-table format:
``spark.read.format("snaptable")`` and
``spark.readStream.format("snapfeed")``.

Why this layer exists when ``read_snapshot``/``snap_scan``
(sources/snapshots.py) already read the format: a DataSource makes the
table a FIRST-CLASS Spark source — usable from SQL (``CREATE TABLE ...
USING snaptable``), from ``readStream`` with Spark-managed offsets
(checkpointed exactly-once progress instead of the caller tracking
versions), and from any tool that only speaks ``spark.read.format``.
It is the public Spark 4 extension point for exactly this job
(pyspark.sql.datasource, added 4.0; filter pushdown 4.1) — the
idiomatic replacement for the reference's hand-rolled readers (ref
``dags/includes/user_table.py:25-53`` pulls whole collections through a
driver-side loop; here planning is manifest-driven and reads are
Arrow-batched per file).

Scale notes (the 100-TB view):
- ``partitions()`` returns one input partition per LIVE DATA FILE of
  the resolved snapshot, planned from the manifest on the driver with
  NO directory listing, after manifest-stats pruning against the
  filters Spark pushes down (``pushFilters``) — planning cost is
  O(files), read cost O(surviving files).
- Every pushed filter is also RETURNED as residual, so Spark re-applies
  it after the scan: pruning can be conservative (statless files kept)
  without ever being wrong.
- ``read()`` streams pyarrow record batches (Arrow pages back to the
  JVM, no per-row Python), applying the snapshot's equality-delete keys
  (merge-on-read) as a per-batch anti-filter; delete files are
  key-sized, read once per scan by ``partitions()`` on the driver and
  shipped with the file partitions.
- The stream reader's offset IS the snapshot version: Spark's
  checkpoint makes re-delivery impossible (a micro-batch is the files
  appended in ``(start, end]`` — immutable by construction), the same
  exactly-once argument as the change feed (``snap_changes``).

The manifest logic — HEAD probe, format gate, segment resolution,
the OCC commit, the change-feed walk and the delete rule — lives in
sources/snapshots.py; this module runs those helpers over its own byte
I/O and keeps only what it alone does: filter translation, Arrow reads
and task-side Arrow stats. The I/O runs in plain Python processes
(driver AND executors run outside any SparkSession — a DataSource
cannot use the JVM FS), routed through a small picklable io object per
path scheme: local / ``file:`` paths take the plain-``open`` fast path,
``scheme://`` paths route through fsspec (``_FsspecIO`` — s3/gs/az/...
with the scheme's backend installed), and ``mock://`` (with a
``mockroot`` option) is a disk-backed test double that exercises the
identical non-local code path where fsspec isn't available.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
    CommitConflict,
    _added_files,
    _commit,
    _commit_on_head,
    _delete_applies,
    _resolve_layout,
    _stat_json,
    _write_segment,
    current_version,
    partition_values_of,
    prune_files,
    read_manifest,
)


# --- pluggable filesystem I/O (no SparkSession / JVM FS available) ----------
# A DataSource's reader/writer runs in plain Python worker processes, so
# every byte of manifest + parquet I/O goes through one of these small,
# PICKLABLE io objects — the byte stores the snapshots.py manifest
# helpers take (the instance ships to executors with the
# reader/writer): local paths take the plain-open fast path, any
# ``scheme://`` path routes through fsspec, and the ``mock://`` scheme
# (activated by a ``mockroot`` option) is a disk-backed stand-in that
# exercises the exact non-local code path in environments without fsspec.
def _local(p: str) -> str:
    if p.startswith("file://"):
        return p[len("file://"):]
    if p.startswith("file:"):
        return p[len("file:"):]
    return p


class _LocalIO:
    """Plain-``open`` I/O for local / ``file:`` paths."""

    def resolve(self, p: str) -> str:
        return _local(p)

    def read_text(self, path: str) -> str | None:
        try:
            with open(self.resolve(path), encoding="utf-8") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def exists(self, path: str) -> bool:
        return os.path.exists(self.resolve(path))

    def write_text_atomic(self, path: str, text: str) -> None:
        import uuid as _uuid

        p = self.resolve(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(text)
        os.replace(tmp, p)
        # the JVM side (snapshots.py) runs on Hadoop's ChecksumFileSystem,
        # which keeps a .<name>.crc sidecar — overwriting the file from raw
        # Python leaves a stale checksum that fails the next JVM read
        crc = os.path.join(os.path.dirname(p),
                           f".{os.path.basename(p)}.crc")
        try:
            os.remove(crc)
        except FileNotFoundError:
            pass

    def create_text_exclusive(self, path: str, text: str) -> None:
        """Fail-if-exists create — the OCC commit gate."""
        p = self.resolve(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "x", encoding="utf-8") as fh:
            fh.write(text)

    def remove(self, path: str) -> None:
        try:
            os.remove(self.resolve(path))
        except FileNotFoundError:
            pass

    def parquet_read(self, path: str, columns=None):
        import pyarrow.parquet as pq

        return pq.read_table(self.resolve(path), columns=columns)

    def parquet_read_schema(self, path: str):
        import pyarrow.parquet as pq

        return pq.read_schema(self.resolve(path))

    def parquet_write(self, path: str, table) -> None:
        import pyarrow.parquet as pq

        p = self.resolve(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(table, p)


class _MockIO(_LocalIO):
    """``mock://bucket/...`` mapped onto a local root directory: a test
    double for the non-local-scheme route (scheme parsing, io-object
    pickling to executors, every read/write through the seam) that runs
    where fsspec isn't installed. Production object-store schemes take
    ``_FsspecIO``."""

    def __init__(self, root: str):
        self.root = root

    def resolve(self, p: str) -> str:
        rest = p.split("://", 1)[1] if "://" in p else p
        return os.path.join(self.root, rest)


class _FsspecIO:
    """Object-store I/O via fsspec (``s3://``, ``gs://``, ``az://``,
    ``memory://``, ...). Only the scheme travels to executors; the
    filesystem handle is constructed lazily per process. Text writes are
    single whole-object puts (atomic per object on every object store —
    the local tmp+rename dance is a POSIX idiom, not needed here).
    The OCC gate uses mode ``"x"``; a backend without conditional
    create (plain S3 before If-None-Match puts) degrades to
    last-writer-wins and should front commits with an external lock."""

    def __init__(self, scheme: str):
        self.scheme = scheme
        self._fs = None

    def __getstate__(self):
        return {"scheme": self.scheme}

    def __setstate__(self, state):
        self.scheme = state["scheme"]
        self._fs = None

    @property
    def fs(self):
        if self._fs is None:
            try:
                import fsspec
            except ImportError as exc:
                raise NotImplementedError(
                    f"snaptable on {self.scheme}:// paths needs fsspec "
                    "(pip install fsspec + the scheme's backend)") from exc
            self._fs = fsspec.filesystem(self.scheme)
        return self._fs

    def read_text(self, path: str) -> str | None:
        try:
            with self.fs.open(path, "r", encoding="utf-8") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def exists(self, path: str) -> bool:
        return self.fs.exists(path)

    def write_text_atomic(self, path: str, text: str) -> None:
        with self.fs.open(path, "w", encoding="utf-8") as fh:
            fh.write(text)

    def create_text_exclusive(self, path: str, text: str) -> None:
        # ADVISORY gate on object stores: fsspec mode="x" is a true
        # conditional create only where the backend supports it (local,
        # some stores' If-None-Match); many implement it as a non-atomic
        # exists-then-write, so two racing committers can both "win".
        # The explicit exists() pre-check below narrows (not closes)
        # that window; deployments needing hard OCC on such stores must
        # front the commit with a backend-native conditional put or an
        # external lock (DynamoDB-style, as Delta-on-S3 does).
        if self.fs.exists(path):
            raise FileExistsError(path)
        with self.fs.open(path, "x", encoding="utf-8") as fh:
            fh.write(text)

    def remove(self, path: str) -> None:
        try:
            self.fs.rm_file(path)
        except FileNotFoundError:
            pass

    def parquet_read(self, path: str, columns=None):
        import pyarrow.parquet as pq

        with self.fs.open(path, "rb") as fh:
            return pq.read_table(fh, columns=columns)

    def parquet_read_schema(self, path: str):
        import pyarrow.parquet as pq

        with self.fs.open(path, "rb") as fh:
            return pq.read_schema(fh)

    def parquet_write(self, path: str, table) -> None:
        import pyarrow.parquet as pq

        with self.fs.open(path, "wb") as fh:
            pq.write_table(table, fh)


def _io_for(path: str, options=None):
    scheme = path.split("://", 1)[0] if "://" in path else None
    if scheme in (None, "file"):
        return _LocalIO()
    if scheme == "mock":
        root = (options or {}).get("mockroot", (options or {}).get("mockRoot"))
        if not root:
            raise NotImplementedError(
                "mock:// paths need .option('mockroot', <local dir>)")
        return _MockIO(root)
    return _FsspecIO(scheme)


def _infer_partition_type(values: list):
    """Arrow twin of snapshots.partition_spark_type — ONE inference
    rule shared across the JVM and Python readers."""
    import pyarrow as pa

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        partition_spark_type,
    )

    return {"int": pa.int32(), "bigint": pa.int64(),
            "double": pa.float64(), "date": pa.date32(),
            "timestamp": pa.timestamp("us", tz="UTC"),
            "string": pa.string()}[partition_spark_type(values)]


def _arrow_schema_of(io, table: str, manifest: dict):
    import pyarrow as pa

    if not manifest["files"]:
        raise ValueError(
            f"snaptable: {table} is empty at v{manifest['version']} — "
            "pass an explicit .schema(...)")
    schema = io.parquet_read_schema(f"{table}/{manifest['files'][0]}")
    # hive-partitioned snapshot: partition columns live in the PATH,
    # not the footer — append them (partition-cols-last, Spark's order)
    for c in manifest.get("partition_by") or []:
        if c in schema.names:
            continue
        vals = [partition_values_of(f).get(c) for f in manifest["files"]]
        schema = schema.append(pa.field(c, _infer_partition_type(vals)))
    return schema


@dataclass
class _FilePartition(InputPartition):
    file: str
    deletes: dict      # {key cols: key set} applying to ``file``


# --- filter translation: Spark pushed filters -> prune predicates -----------
def _to_prune_predicates(filters) -> tuple[list, list]:
    """(predicates for snapshots.prune_files, 'In' filters handled as
    OR-of-equality). Only top-level column references translate; every
    filter is STILL evaluated by Spark afterwards (we yield them all
    back), so partial translation is safe."""
    preds, ins = [], []
    for f in filters:
        col = f.attribute[-1] if len(f.attribute) == 1 else None
        if col is None:
            continue
        if isinstance(f, EqualTo):
            preds.append((col, "=", f.value))
        elif isinstance(f, GreaterThan):
            preds.append((col, ">", f.value))
        elif isinstance(f, GreaterThanOrEqual):
            preds.append((col, ">=", f.value))
        elif isinstance(f, LessThan):
            preds.append((col, "<", f.value))
        elif isinstance(f, LessThanOrEqual):
            preds.append((col, "<=", f.value))
        elif isinstance(f, IsNull):
            preds.append((col, "is_null"))
        elif isinstance(f, IsNotNull):
            preds.append((col, "is_not_null"))
        elif isinstance(f, In):
            ins.append((col, list(f.value)))
    return preds, ins


def _prune_with_ins(manifest: dict, preds: list, ins: list) -> list:
    """Conjunction pruning with IN disjunctions: a file survives an IN
    if ANY member value's equality window keeps it."""
    kept = prune_files(manifest, preds)
    for col, values in ins:
        kept = [f for f in kept
                if any(f in set(prune_files(
                    {"files": [f], "stats": manifest.get("stats", {})},
                    [(col, "=", v)])) for v in values)]
    return kept


# --- batch reader ------------------------------------------------------------
class _SnapTableReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.table = options["path"].rstrip("/")
        self.io = _io_for(self.table, options)
        v = options.get("version")
        self.manifest = read_manifest(self.io, self.table,
                                      None if v is None else int(v))
        self.preds: list = []
        self.ins: list = []

    def pushFilters(self, filters):
        self.preds, self.ins = _to_prune_predicates(filters)
        # prune-only pushdown: Spark must still evaluate every filter
        # (manifests can lack stats), so all filters come back residual
        return filters

    def partitions(self):
        """One partition per surviving file, carrying the keys of the
        merge-on-read deletes that apply to it (snapshots.
        _delete_applies). Each delete file is read once per scan here,
        and files with the same applicable deletes share one key dict."""
        files = _prune_with_ins(self.manifest, self.preds, self.ins)
        dels = self.manifest.get("deletes") or []
        fseqs = self.manifest.get("file_seqs") or {}
        keys: dict = {}        # delete index -> key set
        shared: dict = {}      # applicable delete indices -> {cols: keys}
        parts = []
        for f in files:
            applicable = tuple(i for i, d in enumerate(dels)
                               if _delete_applies(d, fseqs.get(f, 0)))
            if applicable not in shared:
                merged: dict = {}
                for i in applicable:
                    cols = tuple(dels[i]["cols"])
                    if i not in keys:
                        t = self.io.parquet_read(
                            f"{self.table}/{dels[i]['file']}",
                            columns=list(cols))
                        keys[i] = set(zip(*[t.column(c).to_pylist()
                                            for c in cols]))
                    merged.setdefault(cols, set()).update(keys[i])
                shared[applicable] = merged
            parts.append(_FilePartition(f, shared[applicable]))
        return parts

    def read(self, partition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        names = [f.name for f in target]
        pcols = [c for c in (self.manifest.get("partition_by") or [])
                 if c in names]
        table = self.io.parquet_read(
            f"{self.table}/{partition.file}",
            columns=[n for n in names if n not in pcols])
        # hive partition columns: one constant per file, parsed from the
        # path and cast to the resolved schema's type
        pvals = partition_values_of(partition.file) if pcols else {}
        for c in pcols:
            ft = target.field(c).type
            v = pvals.get(c)
            col = (pa.nulls(table.num_rows, ft) if v is None else
                   pa.array([v] * table.num_rows).cast(ft))
            table = table.append_column(c, col)
        for cols, keys in partition.deletes.items():
            if not set(cols) <= set(table.column_names):
                continue
            mask = [t not in keys for t in
                    zip(*[table.column(c).to_pylist() for c in cols])]
            table = table.filter(pa.array(mask, type=pa.bool_()))
        # exact schema contract with the JVM: order + arrow types
        table = table.select(names).cast(target)
        yield from table.to_batches()


# --- write path: task-parallel files, one OCC manifest commit ---------------
@dataclass
class _WriteMessage(WriterCommitMessage):
    file: str | None
    rows: int
    stats: dict


class _SnapTableWriter(DataSourceArrowWriter):
    """Each task writes ONE immutable parquet file into this commit's
    unique data/ subdirectory and ships back (name, rows, per-column
    min/max/null stats computed from the Arrow table — no second pass
    over the data, unlike the JVM path's stats job). commit() then runs
    snap_overwrite's and snap_append's own manifest commit over this
    writer's io object: an overwrite is one inline ``_commit``; an
    append writes one O(delta) segment and commits it with
    ``_commit_on_head`` (OCC gate, bounded retries)."""

    def __init__(self, schema: StructType, options, overwrite: bool):
        import uuid as _uuid

        self.schema = schema
        self.table = options["path"].rstrip("/")
        self.io = _io_for(self.table, options)
        self.overwrite = overwrite
        self.sub = f"data/c-{_uuid.uuid4().hex}"
        sc = options.get("statcols", options.get("statCols", ""))
        self.stat_cols = tuple(c for c in sc.split(",") if c)

    def _file_stats(self, t) -> dict:
        import pyarrow.compute as pc

        cols = {}
        for c in self.stat_cols:
            if c not in t.column_names:
                continue
            arr = t.column(c)
            nulls = arr.null_count
            if t.num_rows > nulls:
                mm = pc.min_max(arr)
                mn = _stat_json(mm["min"].as_py())
                mx = _stat_json(mm["max"].as_py())
            else:
                mn = mx = None
            cols[c] = {"min": mn, "max": mx, "nulls": nulls}
        return {"rows": t.num_rows, "cols": cols}

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa

        batches = list(iterator)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return _WriteMessage(None, 0, {})
        t = pa.Table.from_batches(batches)
        name = f"{self.sub}/part-{_uuid.uuid4().hex}.parquet"
        self.io.parquet_write(f"{self.table}/{name}", t)
        return _WriteMessage(name, t.num_rows,
                             self._file_stats(t) if self.stat_cols else {})

    def _cleanup(self, messages):
        for m in messages:
            if m and m.file:
                self.io.remove(f"{self.table}/{m.file}")

    def abort(self, messages):
        self._cleanup([m for m in messages if m])

    def commit(self, messages):
        files = sorted(m.file for m in messages if m and m.file)
        stats = {m.file: m.stats for m in messages
                 if m and m.file and m.stats}
        if not files and not self.overwrite:
            return                       # empty append: no-op, no commit
        if not self.overwrite:
            layout = _resolve_layout(self.io, self.table, ())
            if layout:
                self._cleanup(messages)
                raise ValueError(
                    f"{self.table} is hive-partitioned by {list(layout)}; "
                    "the snaptable Python writer appends unpartitioned "
                    "files — append with snap_append(partition_by=...) or "
                    "reset the layout with mode('overwrite')")
        try:
            if self.overwrite:
                _commit(self.io, self.table, files, "pyds overwrite",
                        stats=stats)
            else:
                _commit_on_head(
                    self.io, self.table, "pyds append", "append",
                    new_seg=_write_segment(self.io, self.table, files,
                                           stats))
        except CommitConflict:
            self._cleanup(messages)
            raise


class SnapTableDataSource(DataSource):
    """``spark.read.format("snaptable").option("version", n).load(path)``
    — batch reads of one snapshot, manifest-planned and stats-pruned;
    ``df.write.format("snaptable").mode("append"|"overwrite")
    .option("statCols", "a,b").save(path)`` — task-parallel immutable
    files + one OCC manifest commit, interoperable with
    snap_append/read_snapshot.

    Register once per session::

        spark.dataSource.register(SnapTableDataSource)
    """

    @classmethod
    def name(cls):
        return "snaptable"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        table = self.options["path"].rstrip("/")
        io = _io_for(table, self.options)
        v = self.options.get("version")
        m = read_manifest(io, table, None if v is None else int(v))
        return from_arrow_schema(_arrow_schema_of(io, table, m))

    def reader(self, schema: StructType):
        return _SnapTableReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return _SnapTableWriter(schema, self.options, overwrite)


# --- streaming change-feed reader -------------------------------------------
@dataclass
class _FeedPartition(InputPartition):
    file: str
    version: int


class _SnapFeedStreamReader(DataSourceStreamReader):
    """Offsets are snapshot VERSIONS; a micro-batch is the data files
    appended in ``(start, end]``. Append-only by contract (the
    change-feed rule snap_changes enforces): a version that REMOVES
    files (overwrite/replace/compact) raises — downstreams of a feed
    must not silently miss rewrites. Same walk as snap_changes
    (snapshots._added_files), so a commit that changes the delete list
    (delete or merge keys) raises too."""

    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.table = options["path"].rstrip("/")
        self.io = _io_for(self.table, options)
        self.start_version = int(options.get("startingversion",
                                             options.get("startingVersion",
                                                         0)))

    def initialOffset(self):
        return {"version": self.start_version}

    def latestOffset(self):
        return {"version": current_version(self.io, self.table)}

    def partitions(self, start: dict, end: dict):
        parts = [_FeedPartition(f, v) for v, f, _ in _added_files(
            self.io, self.table, start["version"], end["version"])]
        return parts or [_FeedPartition("", end["version"])]

    def read(self, partition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        if not partition.file:          # empty-range placeholder batch
            yield from pa.table(
                {f.name: pa.array([], type=f.type) for f in target}
            ).to_batches()
            return
        pvals = partition_values_of(partition.file)
        data_names = [f.name for f in target
                      if f.name != "_commit_version" and f.name not in pvals]
        t = self.io.parquet_read(f"{self.table}/{partition.file}",
                                 columns=data_names)
        for c, v in pvals.items():      # hive partition cols from the path
            if c not in target.names:
                continue
            ft = target.field(c).type
            t = t.append_column(c, pa.nulls(t.num_rows, ft) if v is None
                                else pa.array([v] * t.num_rows).cast(ft))
        t = t.append_column(
            "_commit_version",
            pa.array([partition.version] * t.num_rows, type=pa.int64()))
        yield from t.select([f.name for f in target]).cast(target).to_batches()

    def commit(self, end):
        pass

    def stop(self):
        pass


class SnapChangeFeedDataSource(DataSource):
    """``spark.readStream.format("snapfeed").load(path)`` — the snapshot
    table's append change feed as a REAL streaming source: Spark
    checkpoints the version offset, so every appended row is delivered
    exactly once across restarts with no caller-side bookkeeping
    (``option("startingVersion", 0)`` replays history first). Schema =
    table schema + ``_commit_version`` long."""

    @classmethod
    def name(cls):
        return "snapfeed"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        table = self.options["path"].rstrip("/")
        io = _io_for(table, self.options)
        m = read_manifest(io, table)
        base = from_arrow_schema(_arrow_schema_of(io, table, m))
        return StructType(base.fields).add("_commit_version", "long")

    def streamReader(self, schema: StructType):
        return _SnapFeedStreamReader(schema, self.options)


def register_python_sources(spark) -> None:
    """Idempotent per-session registration of both formats. Also turns
    on Python-source filter pushdown (off by default in 4.1) — without
    it Spark refuses any reader that implements ``pushFilters``."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapTableDataSource)
    spark.dataSource.register(SnapChangeFeedDataSource)
