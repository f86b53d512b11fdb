"""Minimal manifest-based snapshot table: atomic commits, snapshot
isolation, and time travel over plain parquet — the table-format layer
(what Delta/Iceberg provide) built from two primitives every
hadoop-compatible store has: append-only data files with unique names,
and an atomic single-file rename.

Why this exists: it is the package's one commit protocol for tables it
owns — the pipeline warehouse (plans/pipeline.py), ``$out``/``$merge``
snap targets, CDC application (``snap_apply_cdc``, batch and
streaming) and the streaming exactly-once appends (the NDV, DQ and
VARIANT-ingest ledgers, and the curation and SemDeDup state ledgers of
streaming/curation.py) all commit here.
It is also the only code that reads or writes ``_manifests/``: the
manifest helpers (``current_version``, ``read_manifest``, ``_commit``,
``_commit_on_head``, ...) take a SparkSession or a byte store
(``_store``). A SparkSession's Hadoop FileSystem is one store; the
``snaptable``/``snapfeed`` DataSource (sources/pyds.py) is a second
byte store over the same code, its Python-process io objects. Data
files are IMMUTABLE and a commit is one manifest rename: readers resolve a manifest once and see a
consistent file set forever (snapshot isolation); a crashed writer
leaves only orphan data files that ``vacuum`` reclaims — no recovery
step, nothing a reader can ever observe half-done.

Layout::

    <table>/data/part-...parquet       immutable, uniquely named
    <table>/_manifests/seg-<hex>.json  {"files": [...], "stats": {...}}
                                       one commit's DELTA (immutable)
    <table>/_manifests/v00000001.json  {"version", "segments": [names],
                                        "parent", "note",
                                        "deletes": [{file, cols}],
                                        "txns": {app_id: last_epoch}}
                                       (appends / merge-on-read deletes)
                                       or inline {"files", "stats"}
                                       (overwrite/replace/compact —
                                       these MATERIALIZE any deletes);
                                       every commit carries "txns"
                                       forward (snap_append_txn)
    <table>/_manifests/HEAD            text: current version number

At 100 TB the manifest layer lists file names, not data — and the
manifest-LIST indirection (Iceberg's shape) keeps each append commit
O(files added): the version file holds segment names only, the new
segment holds just this commit's files + stats, and parent segments are
referenced untouched. Every _MAX_SEGMENTS appends the list coalesces
into one segment (amortized O(table/_MAX_SEGMENTS) maintenance). Reads
plan from the resolved explicit file list so NO directory listing of
the data tree ever happens (the classic object-store listing
bottleneck). The reference has no table layer at
all (it truncates/reloads Postgres tables, ref ``utils.py``/DDL in
``dags/includes``); this is the engine-side replacement.
"""

from __future__ import annotations

import json
import re
import uuid
from datetime import datetime
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession


def _jvm_classes(spark) -> SimpleNamespace:
    """The JVM classes this module calls, resolved once per py4j gateway.
    Every hop of a ``jvm.org.apache.hadoop.fs.Path`` chain is its own
    reflection round trip, so the handles are cached on the gateway
    object: a restarted gateway starts without them and never reuses a
    dead client's handles. (Read through ``__dict__`` — JavaGateway
    forwards unknown attributes to the JVM.)"""
    gw = spark.sparkContext._gateway
    classes = gw.__dict__.get("_snapshot_classes")
    if classes is None:
        jvm = gw.jvm
        classes = gw._snapshot_classes = SimpleNamespace(
            Path=jvm.org.apache.hadoop.fs.Path,
            FileUtil=jvm.org.apache.hadoop.fs.FileUtil,
            IOUtils=jvm.org.apache.commons.io.IOUtils,
            System=jvm.java.lang.System,
            URI=jvm.java.net.URI)
    return classes


def _jvm_fs(spark, p: str):
    """``(FileSystem, Path)`` for ``p``."""
    jp = _jvm_classes(spark).Path(p)
    return jp.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jp


def _write_text_atomic(spark, p: str, text: str) -> None:
    """Write via temp file + rename — the single atomic primitive the
    whole commit protocol rests on (atomic on HDFS/local; on S3 use a
    conditional PUT or a commit service, same one-object contract)."""
    fs, dst = _jvm_fs(spark, p)
    tmp = _jvm_classes(spark).Path(f"{p}.tmp-{uuid.uuid4().hex}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise IOError(f"atomic rename failed for {p}")


class _JvmStore:
    """The byte store the manifest helpers run on inside a SparkSession:
    the session JVM's Hadoop FileSystem. ``sources/pyds.py``'s io
    objects are the Python-process stores with the same four methods
    (``read_text``, ``exists``, ``write_text_atomic``,
    ``create_text_exclusive`` — the last raises ``FileExistsError``)."""

    def __init__(self, spark):
        self.spark = spark

    def read_text(self, p: str) -> str | None:
        fs, jp = _jvm_fs(self.spark, p)
        if not fs.exists(jp):
            return None
        stream = fs.open(jp)
        try:
            # one JVM call for the whole file (a byte-at-a-time .read()
            # loop would be one py4j round trip per byte)
            return _jvm_classes(self.spark).IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def exists(self, p: str) -> bool:
        fs, jp = _jvm_fs(self.spark, p)
        return fs.exists(jp)

    def write_text_atomic(self, p: str, text: str) -> None:
        _write_text_atomic(self.spark, p, text)

    def create_text_exclusive(self, p: str, text: str) -> None:
        fs, jp = _jvm_fs(self.spark, p)
        try:
            out = fs.create(jp, False)          # fail-if-exists
        except Exception as exc:
            raise FileExistsError(p) from exc
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()


def _store(spark):
    """The byte store behind a manifest helper's first argument: a
    SparkSession is wrapped in a ``_JvmStore``; a store (the pyds io
    objects) is used as given. Helpers pass their argument on
    unwrapped, so patching a helper sees what its caller passed."""
    return _JvmStore(spark) if isinstance(spark, SparkSession) else spark


#: Highest manifest format this reader understands. Format 2 = data-
#: sequenced equality deletes (Iceberg-v2 rule: a delete applies only
#: to files sequenced strictly before it). A manifest that RELIES on
#: sequence semantics stamps ``"format": 2`` so a pre-sequence reader
#: (older library build) REFUSES it instead of applying every delete to
#: every file and silently dropping a MERGE's replacement rows.
#: Manifests without sequenced deletes stay unstamped (format 1) —
#: readable by every build.
_FORMAT_VERSION = 2


def _check_format(m: dict, table: str) -> dict:
    if m.get("format", 1) > _FORMAT_VERSION:
        raise ValueError(
            f"{table}: manifest format {m['format']} is newer than this "
            f"reader (supports <= {_FORMAT_VERSION}) — upgrade the "
            "library; reading anyway could silently corrupt results")
    return m


def _manifest_path(table: str, version: int) -> str:
    return f"{table}/_manifests/v{version:08d}.json"


def current_version(spark, table: str) -> int:
    """HEAD, self-healing forward: a writer that crashed between its
    manifest create and the HEAD update leaves HEAD one behind — probe
    for newer manifests so the next reader/writer adopts (and re-pins)
    the true head instead of conflicting forever."""
    store = _store(spark)
    head = store.read_text(f"{table}/_manifests/HEAD")
    v = int(head.strip()) if head else 0
    while store.exists(_manifest_path(table, v + 1)):
        v += 1
    return v


def _read_raw_manifest(store, table: str,
                       version: int | None = None) -> dict:
    """The version file EXACTLY as committed — segment refs unresolved.
    Writers use this to reuse the parent's segment list at O(refs) cost."""
    v = current_version(store, table) if version is None else version
    if v == 0:
        return {"version": 0, "files": [], "parent": None, "note": "empty"}
    text = _store(store).read_text(_manifest_path(table, v))
    if text is None:
        raise FileNotFoundError(f"no snapshot v{v} at {table}")
    return _check_format(json.loads(text), table)


def _segment_path(table: str, name: str) -> str:
    return f"{table}/_manifests/{name}"


def _write_segment(store, table: str, files: list,
                   stats: dict, file_seqs: dict | None = None) -> str:
    """One immutable segment manifest: the (files, per-file stats) of a
    single commit's delta. Uniquely named, so no OCC needed — only the
    version file that REFERENCES it is contended. ``file_seqs`` (only
    for segments whose files come from SEVERAL commits — inline-manifest
    lifts and coalesces) bakes per-file data-sequence numbers into the
    body; ordinary one-commit segments get their sequence from the
    version file's ``segment_seqs`` at commit time instead (the number
    isn't known until the OCC race is won)."""
    name = f"seg-{uuid.uuid4().hex}.json"
    body = {"files": list(files),
            "stats": {k: v for k, v in (stats or {}).items()
                      if k in set(files)}}
    if file_seqs:
        body["file_seqs"] = {k: v for k, v in file_seqs.items()
                             if k in set(files)}
    _store(store).write_text_atomic(_segment_path(table, name),
                                    json.dumps(body, indent=1))
    return name


def _read_segment(store, table: str, name: str) -> dict:
    text = _store(store).read_text(_segment_path(table, name))
    if text is None:
        raise FileNotFoundError(f"missing segment {name} at {table}")
    return json.loads(text)


def _resolve_segments(store, table: str, segs: list,
                      seg_seqs: dict) -> tuple:
    """``(files, stats, file_seqs)`` over segment manifests ``segs``.
    A multi-commit segment (lift/coalesce) carries per-file sequences
    in its body; a one-commit segment takes its sequence from the
    version file's ``segment_seqs``, and a legacy segment without one
    reads as 0 (oldest: every delete applies — the pre-sequence
    behavior)."""
    files: list = []
    stats: dict = {}
    seqs: dict = {}
    for name in segs:
        seg = _read_segment(store, table, name)
        files += seg["files"]
        stats.update(seg.get("stats", {}))
        if "file_seqs" in seg:
            seqs.update({f: seg["file_seqs"].get(f, 0)
                         for f in seg["files"]})
        else:
            seqs.update({f: seg_seqs.get(name, 0) for f in seg["files"]})
    return files, stats, seqs


def read_manifest(spark, table: str, version: int | None = None) -> dict:
    """Resolved manifest: always carries the FULL ``files`` list and
    merged ``stats``, whether the version file inlines them (legacy /
    bootstrap) or references segment manifests (the append path — each
    commit writes only its O(delta) segment; the version file lists
    segment names, Iceberg's manifest-list shape)."""
    m = _read_raw_manifest(spark, table, version)
    if "segments" not in m:
        # inline manifest (overwrite/replace/compact): those commits
        # MATERIALIZE deletes, so every listed file is at least as new
        # as any surviving delete — its own version is a safe sequence.
        # snap_clone inlines an EXPLICIT file_seqs map instead (it
        # carries the source's deletes, so relative order must survive).
        out = dict(m)
        if "file_seqs" not in out:
            out["file_seqs"] = {f: m["version"]
                                for f in m.get("files", [])}
        return out
    files, stats, seqs = _resolve_segments(
        spark, table, m["segments"], m.get("segment_seqs") or {})
    out = dict(m)
    out["files"] = files
    out["file_seqs"] = seqs
    if stats:
        out["stats"] = stats
    return out


# Strict numeric forms mirroring the JVM's parse rules (what Spark's
# own path-partition inference accepts). Python's bare int()/float()
# take MORE — int("2024_01")=202401, float("1_0.5"), float("inf"
# case-insensitively) — so an unguarded cast here would call a value
# numeric that Spark's _read_files inference keeps as a string, and the
# global cast in _read_files would then NULL it out (silent corruption),
# or prune_files would compare int stat vs string predicate (TypeError).
# The float grammar is JavaBigDecimal's (digits with optional point
# anywhere, optional exponent) — measured against the JVM: x=1e5 infers
# decimal(7,0)=100000, x=1. infers decimal(1,0)=1, x=Infinity infers
# double — so these forms MUST parse numeric here or the manifest stat
# ("1e5") and the rebuilt column value (100000.0) would disagree and an
# equality predicate could prune a file that holds matching rows.
_PART_INT_RE = re.compile(r"[+-]?\d+\Z")
_PART_FLOAT_RE = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?\Z")
#: exact JVM Double.parseDouble special tokens (case-sensitive — the
#: JVM rejects "inf"/"nan", and so must we)
_PART_SPECIALS = {"Infinity": float("inf"), "+Infinity": float("inf"),
                  "-Infinity": float("-inf"), "NaN": float("nan")}
#: Spark's partition timestamp form (``yyyy-MM-dd HH:mm:ss[.S]``, the
#: rendering a timestamp partition directory gets): parsed to a
#: datetime so its stat is the same ISO string ``_stat_json`` makes of
#: a datetime predicate literal; an impossible date stays a string
#: (the JVM's cast rejects it too)
_PART_TS_RE = re.compile(
    r"(\d{4})-(\d{2})-(\d{2}) (\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,9}))?\Z")


def _partition_timestamp(v: str):
    m = _PART_TS_RE.match(v)
    if m is None:
        return v
    *parts, frac = m.groups()
    try:
        return datetime(*map(int, parts), int((frac or "0").ljust(6, "0")[:6]))
    except ValueError:
        return v


def partition_values_of(name: str) -> dict:
    """``col=value`` path segments of a table-relative file name →
    {col: python value or None}, undoing Hive's percent-escaping and
    ``__HIVE_DEFAULT_PARTITION__`` null sentinel, with Spark's scalar
    inference (int, then float, then timestamp, else string — dates
    stay ISO strings, which order lexicographically for pruning;
    timestamps become datetimes, see _PART_TS_RE). Numeric casts are
    regex-gated to the JVM grammar: exponent forms, bare-point decimals
    and the exact Infinity/NaN tokens parse numeric (the JVM types them
    numeric too — see _PART_FLOAT_RE's note), while underscore
    separators, hex, and lowercase inf/nan stay strings, exactly as the
    JVM partition inference treats them."""
    from urllib.parse import unquote

    out = {}
    for seg in name.split("/")[:-1]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        v = unquote(v)
        if v == "__HIVE_DEFAULT_PARTITION__":
            out[k] = None
        elif _PART_INT_RE.match(v):
            out[k] = int(v)
        elif v in _PART_SPECIALS:
            out[k] = _PART_SPECIALS[v]
        elif _PART_FLOAT_RE.match(v):
            out[k] = float(v)
        else:
            out[k] = _partition_timestamp(v)
    return out


def _partition_stats(names: list, partition_by: tuple) -> dict:
    """Per-file stats entries derived from the PATH, no data scan: a
    hive-partitioned file holds exactly one value per partition column,
    so min = max = the directory's value — a perfect pruning window for
    free. The synthetic rows=1/nulls∈{0,1} pair encodes all-null vs
    no-null exactly (one value per file), which is all is_null /
    is_not_null pruning reads."""
    stats = {}
    for n in names:
        vals = partition_values_of(n)
        cols = {}
        for c in partition_by:
            if c not in vals:
                continue
            v = _stat_json(vals[c])
            cols[c] = {"min": v, "max": v,
                       "nulls": 1 if v is None else 0}
        if cols:
            stats[n] = {"rows": 1, "cols": cols}
    return stats


def partition_spark_type(values: list) -> str:
    """Spark SQL type for a hive partition column from its path-parsed
    values, mirroring Spark's own partition inference order (int →
    bigint → double → date → timestamp → string) so every reader
    agrees."""
    vs = [v for v in values if v is not None]
    if not vs:
        return "string"
    if all(isinstance(v, int) and not isinstance(v, bool) for v in vs):
        return ("int" if all(-2**31 <= v < 2**31 for v in vs)
                else "bigint")
    if all(isinstance(v, (int, float)) for v in vs):
        return "double"
    if all(isinstance(v, datetime) for v in vs):
        return "timestamp"
    if all(isinstance(v, str)
           and re.fullmatch(r"\d{4}-\d{2}-\d{2}", v) for v in vs):
        return "date"
    return "string"


def _read_files(spark: SparkSession, table: str, files: list,
                partition_by: list | None,
                merge_schema: bool = False) -> DataFrame:
    """DataFrame over an explicit snapshot file list. Unpartitioned
    tables are ONE parquet relation. Hive-partitioned snapshots read
    per COMMIT directory (Spark's partition inference requires a
    uniform directory structure under the base path, and
    ``data/c-<hex>/col=v`` prefixes differ per commit), partition
    columns cast to one globally-inferred type, then unionByName — the
    group count is bounded by live commit dirs (compaction collapses
    them), and each group is still a plain multi-file parquet scan."""
    from pyspark.sql import functions as F

    if not partition_by:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*[f"{table}/{f}" for f in files])
    types = {c: partition_spark_type(
        [partition_values_of(f).get(c) for f in files])
        for c in partition_by}
    groups: dict = {}
    for f in files:
        groups.setdefault("/".join(f.split("/")[:2]), []).append(f)
    out = None
    for _, fs in sorted(groups.items()):
        reader = spark.read.option("basePath", table)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*[f"{table}/{f}" for f in fs])
        for c, t in types.items():
            if c in df.columns:
                df = df.withColumn(c, F.col(c).cast(t))
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=merge_schema)
    return out


def _write_data_files(df: DataFrame, table: str,
                      stat_cols: tuple = (),
                      value_cols: tuple = (),
                      partition_by: tuple = ()) -> tuple:
    """Materialize ``df`` as new immutable files under ``data/`` and
    return ``(table-relative names, per-file column stats)``. Each
    commit writes to its own unique subdirectory (Spark's writer owns
    naming inside it), so concurrent/crashed writers can never collide;
    files are referenced individually by manifests, the directory is
    just a namespace. With ``stat_cols``, one extra Spark job over the
    JUST-WRITTEN files (batch-sized, never the table) collects per-file
    min/max/null-count — the manifest-level pruning index. With
    ``partition_by``, files land in hive-style ``col=value``
    subdirectories and each file's partition values become exact
    min=max stats entries parsed from the PATH (zero extra I/O) — the
    partition fast path every production table format keeps."""
    sub = f"data/c-{uuid.uuid4().hex}"
    w = df.write.mode("error")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{table}/{sub}")
    fs, root = _jvm_fs(df.sparkSession, f"{table}/{sub}")
    names = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        p = it.next().getPath().toString()
        if p.endswith(".parquet"):
            # table-relative name: sub + the path below the commit dir
            names.append(f"{sub}/{p.split('/' + sub + '/', 1)[1]}")
    names = sorted(names)
    stats = (_collect_file_stats(df.sparkSession, table, names, stat_cols,
                                 value_cols)
             if (stat_cols or value_cols) and names else {})
    if partition_by and names:
        pstats = _partition_stats(names, tuple(partition_by))
        for n, entry in pstats.items():
            if n in stats:
                stats[n]["cols"].update(entry["cols"])
            else:
                stats[n] = entry
    return names, stats


def _stat_json(v):
    """JSON-encodable stat value. ISO-8601 keeps timestamps/dates
    ordered lexicographically, so pruning compares strings directly."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


#: distinct-value sets above this size are dropped from the manifest —
#: a "values" list is a pruning index for LOW-cardinality (categorical)
#: columns, not a copy of the data.
_VALUE_SET_CAP = 32


def _collect_file_stats(spark: SparkSession, table: str, names: list,
                        stat_cols: tuple,
                        value_cols: tuple = ()) -> dict:
    """name -> {"rows": n, "cols": {col: {"min","max","nulls"[,"values"]}}}
    via one groupBy(input_file_name()) aggregate over the new files only.
    ``value_cols`` (opt-in, declare only LOW-cardinality columns like
    event_type/source) additionally records each file's distinct value
    set when it fits _VALUE_SET_CAP — min/max windows are useless for
    equality pruning on categoricals (every file spans 'a'..'z'), a
    value set prunes exactly."""
    from pyspark.sql import functions as F

    df = spark.read.option("basePath", table) \
        .parquet(*[f"{table}/{n}" for n in names])
    present = [c for c in stat_cols if c in df.columns]
    vcols = [c for c in value_cols if c in df.columns]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in set(present) | set(vcols):
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}"),
                 F.sum(F.col(c).isNull().cast("long")).alias(f"__nl_{c}")]
    for c in vcols:
        # capped BEFORE collect: slice keeps cap+1 so an over-cap set is
        # detectable (and dropped) without shipping the full set
        aggs.append(F.slice(F.sort_array(F.collect_set(c)), 1,
                            _VALUE_SET_CAP + 1).alias(f"__vs_{c}"))
    rows = df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
    # input_file_name is an absolute URI; manifests key by the unique
    # table-relative tail (data/c-<hex>/[k=v/...]<part>.parquet) — split
    # on the LAST /data/ occurrence so a table that itself lives under a
    # path containing /data/ (e.g. /data/lake/tab) still maps; partition
    # path segments can't contain '/' (hive escapes it), so the table's
    # own data dir is always the last match
    by_tail = {}
    for r in rows:
        tail = "data/" + r["__f"].rsplit("/data/", 1)[1] \
            if "/data/" in r["__f"] else "/".join(r["__f"].split("/")[-3:])
        by_tail[tail] = r
    out = {}
    for n in names:
        r = by_tail.get(n)
        if r is None:
            continue
        cols = {}
        for c in set(present) | set(vcols):
            cols[c] = {"min": _stat_json(r[f"__mn_{c}"]),
                       "max": _stat_json(r[f"__mx_{c}"]),
                       "nulls": r[f"__nl_{c}"]}
        for c in vcols:
            vs = r[f"__vs_{c}"]
            if vs is not None and len(vs) <= _VALUE_SET_CAP:
                cols[c]["values"] = sorted(_stat_json(v) for v in vs)
        out[n] = {"rows": r["__rows"], "cols": cols}
    return out


_PRUNE_OPS = ("<", "<=", ">", ">=", "=", "is_null", "is_not_null")


def prune_files(manifest: dict, predicates: list) -> list:
    """Manifest-level file pruning: return the subset of the snapshot's
    files whose [min, max]/null-count window can still satisfy EVERY
    predicate (conjunction). Conservative by construction — a file with
    no stats, or no stats for the predicate's column, is always kept;
    only a window that PROVABLY excludes all rows drops. Predicates:
    ``(col, op, value)`` with op in <, <=, >, >=, = and
    ``(col, "is_null"/"is_not_null")``. Runs on the driver over the
    manifest dict — zero I/O, O(files × predicates)."""
    stats = manifest.get("stats", {})
    kept = []
    for name in manifest["files"]:
        st = stats.get(name)
        keep = True
        for p in (predicates or []):
            col, op = p[0], p[1]
            if op not in _PRUNE_OPS:
                raise ValueError(f"unsupported prune op: {op!r}")
            if st is None or col not in st.get("cols", {}):
                continue                      # no stats → can't exclude
            cs = st["cols"][col]
            mn, mx, nulls, rows = cs["min"], cs["max"], cs["nulls"], st["rows"]
            if op == "is_null":
                keep = nulls > 0
            elif op == "is_not_null":
                keep = rows > nulls
            else:
                if mn is None or mx is None:  # all-NULL file: no value
                    keep = False              # can match a comparison
                else:
                    v = _stat_json(p[2])
                    if any(isinstance(x, float) and x != x
                           for x in (mn, mx, v)):
                        continue  # NaN window or predicate: every
                        # comparison below would read False and drop a
                        # file that may hold rows — keep (conservative)
                    keep = {"<": mn < v, "<=": mn <= v,
                            ">": mx > v, ">=": mx >= v,
                            "=": mn <= v <= mx}[op]
                    if op == "=" and keep and "values" in cs:
                        # categorical value set: exact membership beats
                        # the [min, max] window
                        keep = v in cs["values"]
            if not keep:
                break
        if keep:
            kept.append(name)
    return kept


def snap_scan(spark: SparkSession, table: str, predicates: list = (),
              version: int | None = None,
              merge_schema: bool = False) -> DataFrame:
    """Read one snapshot with manifest-level file skipping: files whose
    stats windows exclude the predicates never reach the Spark plan (at
    100 TB this is the difference between planning 40 files and 40,000
    — parquet footer skipping still applies WITHIN the survivors). The
    same predicates are re-applied as a residual filter, so the result
    is exact regardless of how coarse the stats are."""
    from pyspark.sql import functions as F

    m = read_manifest(spark, table, version)
    files = prune_files(m, list(predicates))
    if not files:
        base = read_snapshot(spark, table, version,
                             merge_schema=merge_schema)  # schema-only path
        return base.limit(0)
    df = _read_with_deletes(spark, table, files, m, merge_schema)
    for p in (predicates or []):
        col, op = p[0], p[1]
        if op == "is_null":
            df = df.filter(F.col(col).isNull())
        elif op == "is_not_null":
            df = df.filter(F.col(col).isNotNull())
        else:
            c, v = F.col(col), F.lit(p[2])
            df = df.filter({"<": c < v, "<=": c <= v, ">": c > v,
                            ">=": c >= v, "=": c == v}[op])
    return df


class CommitConflict(Exception):
    """Another writer committed between this writer's snapshot read and
    its commit attempt. Retry: re-read, re-derive, re-commit."""


def _commit(store, table: str, files: list | None,
            note: str, expected_parent: int | None = None,
            txns: dict | None = None, stats: dict | None = None,
            segments: list | None = None,
            deletes: list | None = None,
            partition_by: list | None = None,
            segment_seqs: dict | None = None,
            file_seqs: dict | None = None) -> int:
    """Optimistic concurrency: the manifest file for version v is
    created with create(overwrite=False) — on a store with atomic
    create-if-absent, two writers racing to the same parent see exactly
    one winner; the loser gets CommitConflict and retries against the
    new head. ``expected_parent`` additionally pins the snapshot the
    writer DERIVED its files from (a lost-update guard for
    read-modify-write commits like replace_where; append-only commits
    can leave it None). A pinned parent is trusted without re-probing
    HEAD: the fail-if-exists create of v(parent+1) is already the gate,
    so a stale pin surfaces as CommitConflict and the caller's retry
    re-reads the (self-healed) head. ``txns`` are the per-stream epoch
    marks the new version records (``snap_append_txn``); None carries
    the parent's forward, at the cost of one parent version-file read."""
    # malformed manifests must die at write time, not at a later read:
    # a files list that isn't flat strings (e.g. the (names, stats)
    # tuple _write_data_files returns, passed un-unpacked) would
    # serialize fine and corrupt every downstream resolution
    for seq_name, seq_val in (("files", files), ("segments", segments)):
        if seq_val is not None and (not isinstance(seq_val, (list, tuple))
                                    or any(not isinstance(x, str)
                                           for x in seq_val)):
            raise TypeError(
                f"_commit: {seq_name} must be a list of str names, got "
                f"{type(seq_val).__name__} of "
                f"{[type(x).__name__ for x in seq_val][:3]}")
    parent = (current_version(store, table) if expected_parent is None
              else expected_parent)
    if txns is None:
        txns = _read_raw_manifest(store, table, parent).get("txns")
    v = parent + 1
    manifest = {"version": v, "parent": parent or None, "note": note}
    if segments is not None:
        # manifest-list shape: the version file carries only segment
        # NAMES — O(segments) bytes regardless of live file count
        manifest["segments"] = list(segments)
        if segment_seqs:
            # data-sequence numbers (Iceberg v2): which COMMIT's data a
            # segment carries, so equality deletes apply only to files
            # SEQUENCED BEFORE them — the invariant that makes a
            # single-commit MERGE (delete old + add new) readable
            manifest["segment_seqs"] = {
                k: v2 for k, v2 in segment_seqs.items() if k in set(segments)}
    else:
        manifest["files"] = files
        if stats:
            # only stats for files this manifest actually lists (carried
            # forward from the parent for retained files, fresh for new)
            manifest["stats"] = {k: v2 for k, v2 in stats.items()
                                 if k in set(files)}
        if file_seqs:
            # explicit per-file sequences for an INLINE commit that
            # carries deletes forward (snap_clone): relative data/delete
            # order must survive the copy
            manifest["file_seqs"] = {k: v2 for k, v2 in file_seqs.items()
                                     if k in set(files)}
    if deletes:
        # merge-on-read equality deletes: {"file": <key parquet>,
        # "cols": [...]} entries readers anti-join; compaction/overwrite
        # materializes them (their commits simply omit the key)
        manifest["deletes"] = list(deletes)
        if any(d.get("seq") is not None for d in deletes):
            # sequence semantics are load-bearing: a pre-sequence reader
            # would apply these deletes to EVERY file and drop a MERGE's
            # replacement rows — make it refuse instead (_check_format)
            manifest["format"] = _FORMAT_VERSION
    if txns:
        manifest["txns"] = dict(txns)
    if partition_by:
        # informational + the pyds reader's cue to rebuild hive
        # partition columns; pruning needs nothing extra (partition
        # values are already per-file min=max stats entries)
        manifest["partition_by"] = list(partition_by)
    try:
        # fail-if-exists create: the OCC gate
        _store(store).create_text_exclusive(_manifest_path(table, v),
                                            json.dumps(manifest, indent=1))
    except FileExistsError as exc:
        raise CommitConflict(
            f"{table}: head moved — v{v} already committed by another "
            "writer; re-read and retry") from exc
    _store(store).write_text_atomic(f"{table}/_manifests/HEAD", str(v))
    return v


_APPEND_RETRIES = 5
_MAX_SEGMENTS = 64


def _parent_segments(store, table: str, raw: dict) -> tuple:
    """``(segment refs, segment_seqs)`` for the parent snapshot. A
    legacy inline manifest (or the replace/compact paths, which commit
    inline) is lifted into one segment so the child append stays
    O(delta) forever after — the lifted segment bakes per-file
    sequences into its body (inline commits materialize deletes, so the
    manifest's own version is each file's safe sequence, unless the
    inline commit pinned explicit seqs — the clone path)."""
    if raw["version"] == 0 or not (raw.get("files") or raw.get("segments")):
        return [], {}
    if "segments" in raw:
        return list(raw["segments"]), dict(raw.get("segment_seqs") or {})
    fseqs = raw.get("file_seqs") or {f: raw["version"]
                                     for f in raw["files"]}
    return [_write_segment(store, table, raw["files"],
                           raw.get("stats", {}), file_seqs=fseqs)], {}


def _coalesce_segments(store, table: str, segs: list, seg_seqs: dict) -> str:
    """Merge many segment manifests into one — amortized maintenance
    (every _MAX_SEGMENTS appends) that keeps read-side resolution
    O(_MAX_SEGMENTS) small reads instead of O(commits). The merged
    segment spans many commits, so per-file sequences (from each source
    segment's body or the version file's ``segment_seqs``) are baked
    into its body."""
    files, stats, fseqs = _resolve_segments(store, table, segs, seg_seqs)
    return _write_segment(store, table, files, stats, file_seqs=fseqs)


def _resolve_layout(store, table: str, partition_by: tuple) -> tuple:
    """The ONE hive layout a snapshot's live files may use: mixing
    partitioned and unpartitioned files (or two different partition
    specs) in one manifest would fail Spark's partition discovery at
    read time, so appends inherit the table's recorded layout when none
    is given and REFUSE a conflicting explicit one (relayout goes
    through snap_overwrite, which resets it)."""
    cur = _read_raw_manifest(store, table)
    recorded = tuple(cur.get("partition_by") or ())
    if not partition_by:
        return recorded
    if cur["version"] and recorded != tuple(partition_by):
        raise ValueError(
            f"{table}: partition_by={tuple(partition_by)} conflicts with "
            f"the table's layout {recorded or '(unpartitioned)'} — "
            "change layout with snap_overwrite")
    return tuple(partition_by)


def _commit_on_head(store, table: str, note: str, op: str,
                    new_seg: str | None = None, key_files: list = (),
                    key_cols: list = (), partition_by: tuple | None = None,
                    app_id: str | None = None,
                    epoch: int | None = None) -> int | None:
    """Commit ``new_seg`` (appended rows) and/or equality deletes over
    ``key_files`` on top of the current head, pinned to it by
    ``expected_parent``: a commit landing between the manifest read and
    the OCC create would otherwise be silently dropped (lost update). On
    conflict only the version-file read + commit retry; data files and
    segments are written once. The new segment and the deletes take the
    version this commit will get as their data sequence. ``partition_by``
    None keeps the head's layout. The head's epoch marks carry forward;
    with ``app_id``, a mark at or past ``epoch`` (possibly set by the
    racer this commit lost to) makes it a no-op, else it advances to
    ``epoch``."""
    for _ in range(_APPEND_RETRIES):
        raw = _read_raw_manifest(store, table)
        txns = dict(raw.get("txns") or {})
        if app_id is not None:
            if txns.get(app_id, -1) >= epoch:
                return None
            txns[app_id] = epoch
        segs, seg_seqs = _parent_segments(store, table, raw)
        v = raw["version"] + 1
        if new_seg is not None:
            segs, seg_seqs = segs + [new_seg], {**seg_seqs, new_seg: v}
        if len(segs) > _MAX_SEGMENTS:
            segs = [_coalesce_segments(store, table, segs, seg_seqs)]
            seg_seqs = {}
        dels = list(raw.get("deletes") or []) + [
            {"file": n, "cols": list(key_cols), "seq": v} for n in key_files]
        try:
            return _commit(store, table, None, note, txns=txns,
                           expected_parent=raw["version"], segments=segs,
                           deletes=dels or None,
                           partition_by=(raw.get("partition_by")
                                         if partition_by is None
                                         else list(partition_by) or None),
                           segment_seqs=seg_seqs or None)
        except CommitConflict:
            continue
    raise CommitConflict(
        f"{table}: {op} lost the commit race {_APPEND_RETRIES} times")


def snap_append(spark: SparkSession, table: str, df: DataFrame,
                note: str = "append", stat_cols: tuple = (),
                value_cols: tuple = (),
                partition_by: tuple = ()) -> int:
    """Append commit: ONE new segment manifest listing just this
    commit's files (+ stats), referenced by a version file that carries
    the parent's segment names plus the new one — commit payload is
    O(files added), never O(table), so a 10^6-file table appends at the
    same driver cost as a 10-file one. Every _MAX_SEGMENTS appends the
    segment list coalesces into one (amortized O(table/_MAX_SEGMENTS)).
    ``stat_cols`` enables manifest-level pruning stats for the new
    files; parent segments carry forward untouched (files are
    immutable, so their stats are too). OCC and retries: see
    _commit_on_head. ``value_cols`` opt-in per-file distinct-value sets
    for categorical equality pruning (see _collect_file_stats)."""
    partition_by = _resolve_layout(spark, table, partition_by)
    new, stats = _write_data_files(df, table, stat_cols, value_cols,
                                   partition_by)
    return _commit_on_head(spark, table, note, "append",
                           new_seg=_write_segment(spark, table, new, stats),
                           partition_by=partition_by)


def snap_overwrite(spark: SparkSession, table: str, df: DataFrame,
                   note: str = "overwrite", stat_cols: tuple = (),
                   value_cols: tuple = (),
                   partition_by: tuple = ()) -> int:
    """Full-table overwrite commit: the manifest simply stops listing
    the old files — they stay on disk for time travel until vacuum.
    ``partition_by`` lays the new files out hive-style with path-derived
    per-file pruning stats (see _write_data_files)."""
    new, stats = _write_data_files(df, table, stat_cols, value_cols,
                                   partition_by)
    return _commit(spark, table, new, note, stats=stats,
                   partition_by=list(partition_by) or None)


def snap_replace_where(spark: SparkSession, table: str, df: DataFrame,
                       predicate: str,
                       note: str = "replace_where",
                       stat_cols: tuple = (),
                       prune_predicates: list | None = None) -> int:
    """Partition-overwrite equivalent without directories: rows of the
    current snapshot NOT matching ``predicate`` are carried alongside
    ``df`` (which must match it); replaced files drop out of the
    manifest.

    ``prune_predicates`` (the ``snap_scan`` tuple form — it must be a
    conservative SUPERSET of ``predicate``, e.g. the partition-key
    range the predicate touches) turns the rewrite from O(table) into
    O(files that can contain matching rows): files whose stats windows
    provably exclude every prune predicate are CARRIED UNTOUCHED —
    name + stats re-listed, bytes never read — and only the candidate
    files are filtered and rewritten. At 100 TB that is the difference
    between rewriting one day's files and the whole table. Without it
    the whole snapshot rewrites (the always-correct fallback, also
    used when merge-on-read deletes are pending — carrying untouched
    files while dropping the delete list would resurrect their deleted
    rows)."""
    base = current_version(spark, table)
    if base == 0:
        # empty table: nothing to carry — the commit is just the new
        # slice (Delta's replaceWhere bootstraps the same way)
        new, stats = _write_data_files(df, table, stat_cols)
        return _commit(spark, table, new, note, expected_parent=0,
                       stats=stats)
    m = read_manifest(spark, table, base)
    layout = tuple(m.get("partition_by") or ())
    untouched: list = []
    if prune_predicates and not m.get("deletes"):
        candidates = set(prune_files(m, list(prune_predicates)))
        untouched = [f for f in m["files"] if f not in candidates]
    else:
        candidates = set(m["files"])
    if candidates:
        cur = _read_with_deletes(spark, table, sorted(candidates), m)
        keep = cur.filter(f"NOT ({predicate})")
        new, stats = _write_data_files(keep.unionByName(df), table,
                                       stat_cols, partition_by=layout)
    else:
        new, stats = _write_data_files(df, table, stat_cols,
                                       partition_by=layout)
    carried = {k: v for k, v in m.get("stats", {}).items() if k in
               set(untouched)}
    # read-modify-write: pin the snapshot the rewrite derived from, so
    # a concurrent commit surfaces as CommitConflict, not a lost update
    return _commit(spark, table, untouched + new, note,
                   expected_parent=base, stats={**carried, **stats},
                   partition_by=list(layout) or None)


def snap_delete_keys(spark: SparkSession, table: str, keys: DataFrame,
                     key_cols: list, note: str = "delete") -> int:
    """MERGE-ON-READ row deletion (Iceberg equality-delete shape): the
    commit writes only the DELETE-KEY parquet (distinct ``key_cols``
    rows of ``keys``) and records it in the manifest's ``deletes`` list
    — no data file is rewritten, so deleting 1k rows from a 10^6-file
    table costs O(keys), not O(table). Readers anti-join the
    accumulated delete keys (``read_snapshot``/``snap_scan``); the next
    ``snap_compact``/``snap_overwrite``/``snap_replace_where``
    MATERIALIZES them (rewritten files exclude the rows, the new commit
    carries no delete list). Same OCC/retry discipline as append. The
    reference deletes row-by-row over JDBC (ref
    ``dags/includes/utils.py``); this is the table-format answer."""
    if current_version(spark, table) == 0:
        raise FileNotFoundError(f"nothing to delete at {table}")
    new, _ = _write_data_files(keys.select(*key_cols).distinct(), table)
    # the delete's sequence = this commit's version: it applies only to
    # files sequenced BEFORE it (Iceberg-v2 equality-delete rule), so a
    # later append of the same key is NOT retro-deleted
    return _commit_on_head(spark, table, note, "delete", key_files=new,
                           key_cols=key_cols)


def snap_merge_keys(spark: SparkSession, table: str, df: DataFrame,
                    key_cols: list, note: str = "merge",
                    stat_cols: tuple = (),
                    value_cols: tuple = (),
                    on_duplicate: str = "error") -> int:
    """Single-commit MERGE (upsert) into a snapshot table: ONE atomic
    commit that both equality-deletes ``df``'s keys and appends ``df``'s
    rows — whole-row upsert with merge-on-read cost (O(batch) writes, no
    data-file rewrite; Iceberg-v2 MERGE shape). Readers stay correct
    because the delete carries this commit's data-sequence number and
    the new files are sequenced AT it: the delete applies only to files
    sequenced strictly before, so the replacement rows it ships with are
    never self-deleted. Snapshot isolation means a reader sees the old
    rows or the new rows, never a mix. The next compact/overwrite
    materializes the deletes as usual. The reference upserts row-by-row
    over JDBC (ref ``dags/includes/user_table.py:105-121``); this is
    the table-format answer at lake scale.

    ``on_duplicate`` guards the upsert contract against a batch holding
    SEVERAL rows per key: the equality delete applies only to files
    sequenced before this commit, so all duplicates would land and none
    delete — a silent multi-row "upsert". ``"error"`` (default, one
    batch-sized agg; Iceberg's MERGE errors on multiple matches too)
    raises; ``"keep_all"`` documents that the caller WANTS every row
    appended under one delete (an intentional replace-group-by-key)."""
    if on_duplicate not in ("error", "keep_all"):
        raise ValueError(
            f"on_duplicate must be 'error' or 'keep_all', got "
            f"{on_duplicate!r}")
    if on_duplicate == "error":
        from pyspark.sql import functions as F

        dup = (df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n"))
               .filter("__n > 1").limit(1).collect())
        if dup:
            key_desc = {c: dup[0][c] for c in key_cols}
            raise ValueError(
                f"snap_merge_keys: batch has multiple rows for key "
                f"{key_desc} — an upsert needs at most one row per key "
                "(dedupe upstream, or pass on_duplicate='keep_all' to "
                "append all rows for a key as a group replace)")
    if current_version(spark, table) == 0:
        # bootstrap: a merge into an empty table is just an append
        return snap_append(spark, table, df, note=note,
                           stat_cols=stat_cols, value_cols=value_cols)
    return _merge_commit(spark, table, df, df.select(*key_cols).distinct(),
                         key_cols, note, stat_cols, value_cols)


def _merge_commit(spark: SparkSession, table: str, rows: DataFrame,
                  keys: DataFrame, key_cols: list, note: str,
                  stat_cols: tuple = (), value_cols: tuple = ()) -> int:
    """The one merge commit: ``rows`` as new data files in the head's
    layout plus an equality-delete key file of ``keys``, both sequenced
    at the new version, so the delete removes the keys' older rows
    wherever they live and never the rows it ships with."""
    layout = _resolve_layout(spark, table, ())
    new, stats = _write_data_files(rows, table, stat_cols, value_cols,
                                   partition_by=layout)
    new_seg = _write_segment(spark, table, new, stats)
    keyf, _ = _write_data_files(keys, table)
    return _commit_on_head(spark, table, note, "merge", new_seg=new_seg,
                           key_files=keyf, key_cols=key_cols,
                           partition_by=layout)


def snap_apply_cdc(spark: SparkSession, table: str, changes: DataFrame,
                   key: str | list, op_col: str = "op",
                   ts_col: str | None = None) -> int:
    """Apply a change-data-capture batch (``op_col`` ∈ {'I','U','D'})
    to an existing snapshot table as ONE merge commit: every change key
    (D rows included) goes into the equality-delete key file, and the
    I/U rows, projected to the table's columns, are the new data. I/U
    rows replace the key's row wholesale (CDC images are full rows); D
    removes it. The delete matches on the key alone, so a key whose
    partition value changed leaves no copy in its old partition.

    ``ts_col`` compacts a multi-op batch first: the LATEST op per key
    wins (ledger order), so U→D deletes and D→U resurrects, matching a
    replayed ledger (property-tested in tests/test_properties.py). It
    must totally order each key's ops (CDC sources emit per-key
    monotone LSNs). Without it, several I/U rows for one key all land.
    Re-applying a batch converges: it deletes and re-adds the same
    rows. A table with no files (never committed) raises
    ``FileNotFoundError``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cols = read_snapshot(spark, table).columns
    keys = [key] if isinstance(key, str) else list(key)
    if ts_col is not None:
        w = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
        changes = (changes.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).drop("__rn"))
    upserts = changes.filter(F.col(op_col) != "D").select(*cols)
    return _merge_commit(spark, table, upserts,
                         changes.select(*keys).distinct(), keys, "cdc")


def _apply_delete_entries(spark: SparkSession, table: str, df: DataFrame,
                          dels: list) -> DataFrame:
    """Anti-join equality-delete keys onto ``df``, one join per distinct
    key-column set (delete files sharing a key set read as ONE parquet
    scan). Unhinted: AQE broadcasts small key sets from observed sizes;
    a huge delete backlog degrades to SMJ instead of OOMing the driver —
    and is the signal to run snap_compact."""
    groups: dict = {}
    for d in dels:
        groups.setdefault(tuple(d["cols"]), []).append(d["file"])
    for cols, files in groups.items():
        keys = spark.read.parquet(*[f"{table}/{f}" for f in files])             .select(*cols).dropDuplicates(list(cols))
        df = df.join(keys, list(cols), "left_anti")
    return df


def _delete_applies(d: dict, file_seq) -> bool:
    """The data-sequence rule (Iceberg v2), for every reader: a delete
    with sequence s applies only to files sequenced strictly BEFORE s;
    a legacy delete without ``seq`` applies to every file."""
    return d.get("seq") is None or d["seq"] > file_seq


def _read_with_deletes(spark: SparkSession, table: str, files: list,
                       manifest: dict,
                       merge_schema: bool = False) -> DataFrame:
    """Read ``files`` applying the snapshot's merge-on-read equality
    deletes under the DATA-SEQUENCE rule (Iceberg v2): a delete with
    sequence s applies only to files sequenced strictly BEFORE s —
    the invariant that makes a single-commit MERGE (delete old keys +
    add replacement rows) readable, and that keeps a later re-append of
    a deleted key alive. Files are grouped by their applicable-delete
    set (group count ≤ distinct sequences, itself ≤ segments — bounded,
    and 1 for the common all-legacy case, identical plan to before);
    each group is one parquet scan + its anti-joins, unioned. Legacy
    delete entries without ``seq`` apply to everything (pre-sequence
    behavior, unchanged)."""
    dels = manifest.get("deletes") or []
    if not dels:
        return _read_files(spark, table, files, manifest.get("partition_by"),
                           merge_schema)
    fseqs = manifest.get("file_seqs") or {}
    groups: dict = {}
    for f in files:
        key = tuple(i for i, d in enumerate(dels)
                    if _delete_applies(d, fseqs.get(f, 0)))
        groups.setdefault(key, []).append(f)
    out = None
    for key in sorted(groups):
        df = _read_files(spark, table, groups[key],
                         manifest.get("partition_by"), merge_schema)
        df = _apply_delete_entries(spark, table, df,
                                   [dels[i] for i in key])
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=merge_schema)
    return out


def committed_epoch(spark, table: str, app_id: str) -> int:
    """The last epoch ``snap_append_txn`` committed for ``app_id`` (the
    head manifest's mark), or -1 when the app has none. One head read,
    whatever the history length."""
    return (_read_raw_manifest(spark, table).get("txns") or {}).get(app_id, -1)


def snap_append_txn(spark: SparkSession, table: str, df: DataFrame,
                    app_id: str, epoch: int, note: str = "append",
                    stat_cols: tuple = ()) -> int | None:
    """EXACTLY-ONCE append for one stream: the commit advances
    ``app_id``'s epoch mark (the version file's ``"txns"``) to
    ``epoch``, and a head whose mark is already at or past ``epoch``
    makes the call a NO-OP (returns None). This is the
    ``foreachBatch(df, epoch_id)`` sink contract (Delta's
    ``SetTransaction``): batch ids are monotone per checkpoint and a
    restart replays only the epochs after its last checkpoint commit,
    so "epoch <= mark" means "already committed" — one head read,
    however long the history. (Files written by a failed first attempt
    become vacuumable orphans; the manifest never saw them.)"""
    head = _read_raw_manifest(spark, table)
    if (head.get("txns") or {}).get(app_id, -1) >= epoch:
        return None
    layout = tuple(head.get("partition_by") or ())
    new, stats = _write_data_files(df, table, stat_cols,
                                   partition_by=layout)
    # _commit_on_head re-checks the mark before every attempt: the racer
    # we lost to may have BEEN this epoch (two replaying workers)
    return _commit_on_head(spark, table, note, "txn append",
                           new_seg=_write_segment(spark, table, new, stats),
                           partition_by=layout, app_id=app_id, epoch=epoch)


def read_snapshot(spark: SparkSession, table: str,
                  version: int | None = None,
                  merge_schema: bool = False) -> DataFrame:
    """DataFrame over one snapshot's EXPLICIT file list — no directory
    listing, no visibility of in-flight commits; pass ``version`` for
    time travel. An empty table yields an empty error upstream — commit
    first. ``merge_schema=True`` unions the schemas of every listed
    file (columns added by later commits come back NULL-filled for old
    files) — schema evolution on read, at the cost of a footer read per
    file, so leave it off for fixed-schema tables."""
    m = read_manifest(spark, table, version)
    if not m["files"]:
        raise FileNotFoundError(f"snapshot v{m['version']} is empty")
    return _read_with_deletes(spark, table, m["files"], m, merge_schema)


def snap_compact(spark: SparkSession, table: str,
                 target_files: int = 1,
                 stat_cols: tuple = (),
                 cluster_by: tuple = ()) -> int:
    """Bin-pack the current snapshot into ``target_files`` files —
    identical rows, new layout — as ONE OCC-pinned commit: the compactor
    derives from the head it read, so a concurrent append surfaces as
    ``CommitConflict`` (retry against the new head) instead of silently
    dropping the racer's rows. Old files stay for time travel until
    vacuum. This is the table-format answer to the small-files problem
    streaming appends create: run it on a schedule, readers never
    notice (snapshot isolation), and per-file stats are rebuilt so
    pruning IMPROVES as data coalesces.

    ``cluster_by`` additionally RANGE-CLUSTERS the rewrite on those
    columns (repartitionByRange + sortWithinPartitions — Delta's
    OPTIMIZE ZORDER intent for the single-key/prefix case): each output
    file then covers a narrow, non-overlapping slice of the cluster
    key, so its manifest min/max window is tight and a point/range
    predicate prunes to O(1) files instead of all of them. At 100 TB
    this is the difference between scanning one file and scanning the
    table for a key lookup; pair it with ``stat_cols`` covering the
    cluster key (they are added automatically)."""
    base = current_version(spark, table)
    if base == 0:
        raise FileNotFoundError(f"nothing to compact at {table}")
    cur = read_snapshot(spark, table, version=base)
    if cluster_by:
        cols = [c for c in cluster_by]
        packed = (cur.repartitionByRange(target_files, *cols)
                  .sortWithinPartitions(*cols))
        stat_cols = tuple(dict.fromkeys(tuple(stat_cols) + tuple(cols)))
        note = f"compact({target_files}, cluster_by={cols})"
    else:
        packed = cur.repartition(target_files)
        note = f"compact({target_files})"
    layout = _resolve_layout(spark, table, ())
    new, stats = _write_data_files(packed, table, stat_cols,
                                   partition_by=layout)
    if not new:
        # every row is deleted and the hive writer made no file: a
        # commit listing none would be unreadable, while the head still
        # reads as 0 rows with its schema
        return base
    return _commit(spark, table, new, note,
                   expected_parent=base, stats=stats,
                   partition_by=list(layout) or None)


def snap_restore(spark: SparkSession, table: str, version: int,
                 note: str | None = None) -> int:
    """Roll the table back (or forward) to ``version``'s EXACT state as
    a NEW commit — time travel made durable (Delta's RESTORE / Iceberg's
    rollback). No data moves: the new manifest re-lists the old
    snapshot's files, stats, deletes and data sequences verbatim, so
    the restore is O(manifest) regardless of table size, and the
    intermediate history stays readable for time travel until vacuum.
    Sequence safety needs no renormalization (unlike snap_clone): the
    version counter never restarts, so every future commit's sequence
    is strictly above everything restored."""
    head = current_version(spark, table)
    if version > head or version < 1:
        raise ValueError(f"{table}: cannot restore v{version} "
                         f"(head is v{head})")
    m = read_manifest(spark, table, version)
    dels = m.get("deletes")
    return _commit(
        spark, table, list(m["files"]),
        note or f"restore(v{version})",
        expected_parent=head, stats=m.get("stats"),
        deletes=dels,
        partition_by=m.get("partition_by"),
        file_seqs=m.get("file_seqs") if dels else None)


def _added_files(spark, table: str, from_version: int,
                 to_version: int) -> list:
    """``[(version, file, partition_by)]`` for the data files each commit
    in ``(from_version, to_version]`` ADDED, in commit order — the one
    walk behind both change feeds (``snap_changes`` here, ``snapfeed``
    in sources/pyds.py), with ``partition_by`` from the commit that
    added the file. Append-only by contract (Delta's CDF rule for
    non-append commits): a commit that REMOVED files (overwrite/
    replace_where/compact) or changed the delete list (delete or merge
    keys) raises, since added files then no longer mean added rows."""
    base = read_manifest(spark, table, from_version)
    prev = set(base["files"])
    prev_dels = [d["file"] for d in base.get("deletes", [])]
    added: list = []
    for v in range(from_version + 1, to_version + 1):
        m = read_manifest(spark, table, v)
        cur = set(m["files"])
        cur_dels = [d["file"] for d in m.get("deletes", [])]
        if prev - cur:
            raise ValueError(
                f"{table} v{v} removed files (non-append commit) — the "
                "append-only change feed is undefined; re-read the "
                "snapshot")
        if cur_dels != prev_dels:
            raise ValueError(
                f"{table} v{v} changed the delete list (merge-on-read "
                "delete, merge or compaction) — added files no longer "
                "mean added rows, so the append-only change feed is "
                "undefined; re-read the snapshot")
        pb = tuple(m.get("partition_by") or ())
        added += [(v, f, pb) for f in sorted(cur - prev)]
        prev, prev_dels = cur, cur_dels
    return added


def snap_changes(spark: SparkSession, table: str,
                 from_version: int, to_version: int | None = None) -> DataFrame:
    """Change feed for append-style tables: rows in files ADDED by
    commits in (from_version, to_version] — the incremental-consumer
    contract (\"give me what landed since v\"). Cost is a read of only
    the added files, never the table. Raises if any commit in the range
    removed files or changed the delete list (``_added_files``);
    consumers must re-read the snapshot instead.
    """
    to_v = current_version(spark, table) if to_version is None else to_version
    if to_v < from_version:
        raise ValueError(f"to_version {to_v} < from_version {from_version}")
    added = _added_files(spark, table, from_version, to_v)
    if not added:
        return read_snapshot(spark, table, version=to_v).limit(0)
    # partition_by is resolved PER SOURCE VERSION, not from HEAD: if the
    # layout changed mid-range (e.g. relayout of an empty table followed
    # by partitioned appends), each file group reads under the layout it
    # was written with; unionByName reconciles column order, and a true
    # schema divergence surfaces as its clear error rather than NULLed
    # partition columns.
    groups: dict = {}
    for _, f, pb in added:
        groups.setdefault(pb, []).append(f)
    out = None
    for pb in sorted(groups):
        df = _read_files(spark, table, groups[pb], list(pb) or None)
        out = df if out is None else out.unionByName(df)
    return out


def snap_history(spark: SparkSession, table: str) -> list:
    """[(version, note, n_files), ...] newest first."""
    out = []
    v = current_version(spark, table)
    while v:
        m = read_manifest(spark, table, v)
        out.append((m["version"], m["note"], len(m["files"])))
        v = m["parent"] or 0
    return out


def vacuum(spark: SparkSession, table: str,
           keep_versions: int = 1,
           retention_ms: int = 3_600_000) -> list:
    """Delete data files referenced ONLY by snapshots older than the
    newest ``keep_versions`` (plus orphans from crashed commits — files
    no manifest references at all). Time travel works up to the vacuum
    horizon, exactly the Delta/Iceberg contract. Returns deleted names.

    ``retention_ms`` (default 1 h) skips files younger than the window
    regardless of references: a concurrent appender writes its data
    files BEFORE its commit, so a zero-window vacuum racing it would
    delete the not-yet-referenced files and let the append commit a
    manifest pointing at nothing — the Delta/Iceberg retention
    convention closes that race. Tests pass ``retention_ms=0`` for
    deterministic single-writer cleanup."""
    head = current_version(spark, table)
    keep = set()
    v = head
    for _ in range(keep_versions):
        if not v:
            break
        m = read_manifest(spark, table, v)
        keep.update(m["files"])
        keep.update(d["file"] for d in m.get("deletes", []))
        v = m["parent"] or 0
    fs, root = _jvm_fs(spark, f"{table}/data")
    deleted = []
    if not fs.exists(root):
        return deleted
    now_ms = _jvm_classes(spark).System.currentTimeMillis()
    for sub in fs.listStatus(root):
        for st in fs.listStatus(sub.getPath()):
            rel = f"data/{sub.getPath().getName()}/{st.getPath().getName()}"
            young = now_ms - st.getModificationTime() < retention_ms
            if rel not in keep and not young:
                fs.delete(st.getPath(), False)
                deleted.append(rel)
        if len(fs.listStatus(sub.getPath())) == 0:
            fs.delete(sub.getPath(), False)
    return sorted(deleted)


def snap_clone(spark: SparkSession, src_table: str, dst_table: str,
               version: int | None = None,
               note: str | None = None) -> int:
    """Byte-level snapshot clone: copy EXACTLY the files the chosen
    snapshot references (data files + merge-on-read delete keys, same
    relative names so stats keys carry unchanged) into a fresh table
    directory and commit them as its v1 — the backup / environment-
    promotion primitive (prod table → staging clone, divergent
    histories from then on; a later vacuum of the source cannot touch
    the clone). The copy loop is driver-side over the manifest's file
    LIST (names, not data — the bytes move FS-to-FS via FileUtil.copy);
    for a 10^6-file table distribute the copy with a files-list job and
    commit the same manifest afterwards, same contract."""
    m = read_manifest(spark, src_table, version)
    if current_version(spark, dst_table) != 0:
        raise ValueError(f"snap_clone: {dst_table} is not empty")
    fs, _ = _jvm_fs(spark, src_table)
    dfs, _ = _jvm_fs(spark, dst_table)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    jc = _jvm_classes(spark)
    to_copy = list(m["files"]) + [d["file"] for d in m.get("deletes", [])]
    for rel in to_copy:
        src_p, dst_p = jc.Path(f"{src_table}/{rel}"), jc.Path(f"{dst_table}/{rel}")
        dfs.mkdirs(dst_p.getParent())
        if not jc.FileUtil.copy(fs, src_p, dfs, dst_p, False, True, conf):
            raise IOError(f"snap_clone: copy failed for {rel}")
    # Deletes travel with their seq fields, so the clone must pin the
    # source's file sequences too — an inline default of "everything is
    # v1" would put every file BELOW carried deletes and re-delete rows
    # a source-side MERGE had just written. But the source seqs CANNOT
    # carry verbatim either: the clone commits at v1 and the dst's
    # version counter restarts, so a post-clone delete at seq 2 would
    # skip cloned files whose source seq is >= 2, and a post-clone
    # append at seq 2-3 would be retro-deleted by carried deletes with
    # higher source seqs. Renormalize ORDER-PRESERVINGLY into (0, 1]:
    # seqs are only ever compared (delete.seq > file.seq, strict), so
    # fractional ranks keep every carried relation intact while every
    # future dst commit (version >= 2) sequences strictly after ALL
    # carried files and deletes.
    dels = m.get("deletes") or []
    fseqs = None
    if dels:
        src_fseqs = m.get("file_seqs") or {}
        all_seqs = sorted({src_fseqs.get(f, 0) for f in m["files"]} |
                          {d["seq"] for d in dels
                           if d.get("seq") is not None})
        rank = {s: (i + 1) / len(all_seqs)
                for i, s in enumerate(all_seqs)}
        fseqs = {f: rank[src_fseqs.get(f, 0)] for f in m["files"]}
        dels = [{**d, "seq": rank[d["seq"]]}
                if d.get("seq") is not None else dict(d) for d in dels]
    return _commit(
        spark, dst_table, list(m["files"]),
        note or f"clone of {src_table}@v{m['version']}",
        expected_parent=0, stats=m.get("stats"),
        deletes=dels or None, file_seqs=fseqs)
