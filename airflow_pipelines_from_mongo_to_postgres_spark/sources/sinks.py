"""Sinks: parquet/CSV/JSON writers and the JDBC/Postgres merge sink.

The reference writes row-at-a-time with a commit per row
(ref dags/includes/user_table.py:105-121; ~100–1,000 rows/s analytic bound,
BASELINE.md). The Spark-first replacement is set-based end to end:

* append/overwrite → ``df.write.jdbc`` with ``batchsize`` (one INSERT per
  batch, one txn per partition);
* merge/upsert (M1–M13) → write the batch to a STAGING table via the same
  batched path, then execute ONE server-side set-based statement::

      INSERT INTO target (cols) SELECT cols FROM staging
      ON CONFLICT (key) DO UPDATE SET m = EXCLUDED.m, ...   -- or DO NOTHING

  so the per-row network round trips and per-row commits disappear.

The merge statement executes through the session JVM's DriverManager
(``jvm_execute``), so no Python DBAPI driver is ever required — the JDBC
jar Spark needs for the staging write is the only dependency. Embedded
Derby (shipped in Spark's jars) exercises the full staging + MERGE round
trip live in tests/test_connectors.py via the ``ansi`` dialect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import _jvm_classes, _jvm_fs


def _hive_unescape(name: str) -> str:
    """Invert Hive's partition-directory escaping (space -> %20, '/' ->
    %2F, ...). Mirrors
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    .unescapePathName: every %XX with two hex digits decodes; malformed
    sequences pass through literally."""
    import string

    out = []
    i, n = 0, len(name)
    while i < n:
        c = name[i]
        if c == "%" and i + 3 <= n:
            hx = name[i + 1:i + 3]
            # strict two-hex-digit rule like the Java implementation —
            # int(hx, 16) alone would also accept '+5' or ' f'
            if all(ch in string.hexdigits for ch in hx):
                out.append(chr(int(hx, 16)))
                i += 3
                continue
        out.append(c)
        i += 1
    return "".join(out)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: Sequence[str] = ()) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_partitioned(df: DataFrame, path: str,
                      partition_by: Sequence[str],
                      files_per_partition: int = 1,
                      dynamic: bool = True) -> None:
    """Lake-layout writer: hive-partitioned parquet with dynamic
    partition overwrite and small-file control.

    * **Dynamic overwrite** (``partitionOverwriteMode=dynamic``, set as a
      per-write option so the session default is untouched): an
      incremental batch replaces ONLY the partition directories it
      contains. This is what makes a daily re-run idempotent at 100 TB —
      static overwrite mode would truncate the whole lake to write one
      day.
    * **Small-file control**: rows are repartitioned by the partition
      columns (plus a bounded file-bucket salt when
      ``files_per_partition > 1``) before the write, so each partition
      directory gets ~``files_per_partition`` parquet files instead of
      one tiny file per shuffle task — the classic small-files bomb
      (tasks × partitions files) that kills a 1000-executor scan with
      open/seek overhead.

    Readers prune on the partition columns for free (PartitionFilters in
    the scan, asserted in tests/test_sinks.py).
    """
    keys = [F.col(c) for c in partition_by]
    if files_per_partition > 1:
        salted = df.withColumn(
            "__file_bucket",
            F.pmod(F.spark_partition_id(), F.lit(files_per_partition)))
        salted = salted.repartition(*keys, F.col("__file_bucket")) \
            .drop("__file_bucket")
    else:
        salted = df.repartition(*keys)
    w = salted.write.mode("overwrite").partitionBy(*partition_by)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.parquet(path)


def lake_merge(spark, path: str, updates: DataFrame,
               key: str | Sequence[str], partition_col: str,
               mutable: Sequence[str],
               files_per_partition: int = 1) -> list:
    """MERGE (upsert with partial-column update) into a hive-partitioned
    parquet lake, rewriting ONLY the partitions the update batch touches —
    the table-format-free equivalent of a Delta/Iceberg ``MERGE INTO``.

    Plan: the batch's distinct partition values are collected (bounded by
    the batch's partition spread — a daily batch touches a handful of
    days, never the lake), the lake is read WITH a static ``isin`` filter
    on those values (partition pruning: untouched directories are never
    opened), ``operators.merge.merge_upsert`` runs the set-based merge,
    and ``write_partitioned``'s dynamic overwrite replaces exactly the
    touched directories. Untouched partitions keep their files
    byte-for-byte (asserted in tests/test_sinks.py).

    Constraint: ``partition_col`` must be immutable per key (the standard
    date-partitioned-fact contract) — a key that moves partitions would
    leave its old row in an untouched directory.

    **Crash safety**: dynamic partition overwrite is
    not atomic across the touched directories — a crash inside the
    commit window can leave a partition deleted-but-not-repopulated, and
    a naive re-run would then read the DAMAGED state as "current" and
    lose the rows that weren't in the batch. So before overwriting, the
    touched partitions' pre-state is staged to ``<path>/_pending/<id>``
    (underscore-prefixed → invisible to every Spark reader; cost is one
    extra read+write of just the touched partitions, bounded by the
    batch's partition spread, never the lake). The staging dir is
    removed after a successful overwrite; ``lake_recover`` restores any
    committed-but-unapplied staging on restart, after which the
    idempotent batch simply re-runs.

    Returns the list of touched partition values.
    """
    from airflow_pipelines_from_mongo_to_postgres_spark.operators.merge import merge_upsert

    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    current = spark.read.parquet(path) \
        .filter(F.col(partition_col).isin(touched))
    merged = merge_upsert(current, updates, key, mutable)
    _overwrite_staged(spark, path, current, merged, partition_col,
                      files_per_partition)
    return touched


def _overwrite_staged(spark, path: str, current: DataFrame,
                      result: DataFrame, partition_col: str,
                      files_per_partition: int,
                      drop_dirs: Sequence[str] = ()) -> None:
    """Dynamic-overwrite ``result`` over the touched partitions under the
    lake's crash protocol: stage ``current`` (their pre-state) to
    ``_pending``, overwrite, delete ``drop_dirs`` (URI-encoded partition
    directories the overwrite cannot empty) still inside the crash
    window, then mark ``_COMMITTED`` and drop the staging.

    A drop that leaves the lake with no partition directory at all
    keeps the first dropped directory holding one zero-row parquet
    file: Spark cannot infer a schema from a lake without data files,
    so an all-deleted lake would otherwise be unreadable."""
    pending = _stage_pre_state(spark, path, current)
    write_partitioned(result, path, [partition_col], files_per_partition)
    if drop_dirs:
        fs, root = _jvm_fs(spark, path)
        classes = _jvm_classes(spark)
        for d in drop_dirs:
            # input_file_name() yields URI-ENCODED paths (space -> %20,
            # the hive escape's own % -> %25); go through java.net.URI
            # so the JVM decodes them into the on-disk directory name
            fs.delete(classes.Path(classes.URI(d)), True)
        if not any(st.isDirectory() and st.getPath().getName()
                   .startswith(f"{partition_col}=")
                   for st in fs.listStatus(root)):
            keep = classes.Path(classes.URI(drop_dirs[0])).toString()
            spark.createDataFrame([], current.drop(partition_col).schema) \
                .write.mode("overwrite").parquet(keep)
    _mark_committed(spark, pending)
    _delete_dir(spark, pending)


def _stage_pre_state(spark, path: str, current: DataFrame) -> str:
    """Write the touched partitions' pre-merge rows to
    ``<path>/_pending/<id>/data`` with Spark's own _SUCCESS marker.
    The id is derived from the JVM clock (monotonic enough for one lake's
    sequential batches)."""
    ts = _jvm_classes(spark).System.currentTimeMillis()
    pending = f"{path}/_pending/{ts}"
    current.write.mode("overwrite").parquet(f"{pending}/data")
    return pending


def _mark_committed(spark, pending: str) -> None:
    """Zero-byte ``<pending>/_COMMITTED`` written BETWEEN the dynamic
    overwrite and the staging cleanup: a crash in that gap then leaves a
    staging dir that ``lake_recover`` can tell apart from a torn
    overwrite — the commit landed, so restoring the pre-state would
    ROLL BACK committed data. One tiny create per overwrite."""
    fs, jp = _jvm_fs(spark, f"{pending}/_COMMITTED")
    fs.create(jp, True).close()


def _delete_dir(spark, p: str) -> None:
    fs, jp = _jvm_fs(spark, p)
    fs.delete(jp, True)
    parent = jp.getParent()
    if (parent.getName() == "_pending" and fs.exists(parent)
            and len(fs.listStatus(parent)) == 0):
        fs.delete(parent, False)


def lake_recover(spark, path: str, partition_col: str,
                 files_per_partition: int = 1) -> list:
    """Restore a lake after a crashed ``lake_merge``/``compact_lake``,
    distinguishing the three crash positions by the staging markers:

    * ``_COMMITTED`` present — the dynamic overwrite fully landed and
      only the cleanup was lost: restoring would ROLL BACK committed
      data, so the staging dir is just deleted (nothing restored, the
      batch must NOT re-run).
    * ``data/_SUCCESS`` present, no ``_COMMITTED`` — the crash was
      inside the overwrite commit window (torn): the staged pre-state
      is rewritten back (dynamic overwrite → exactly the staged
      directories), newest last so the most recent pre-state wins, and
      the idempotent batch re-runs.
    * neither — the crash was during backup, the lake itself was never
      touched; the partial staging is deleted.

    Returns the restored partition values. No-op (returns []) on a
    clean lake — safe to call unconditionally at job start."""
    fs, root = _jvm_fs(spark, f"{path}/_pending")
    if not fs.exists(root):
        return []
    restored = []
    entries = sorted((st.getPath().getName() for st in fs.listStatus(root)
                      if st.isDirectory()), key=str)
    Path = _jvm_classes(spark).Path
    for name in entries:
        data = f"{path}/_pending/{name}/data"
        committed = fs.exists(Path(f"{path}/_pending/{name}/_COMMITTED"))
        if not committed and fs.exists(Path(f"{data}/_SUCCESS")):
            pre = spark.read.parquet(data)
            write_partitioned(pre, path, [partition_col],
                              files_per_partition)
            restored += [r[0] for r in
                         pre.select(partition_col).distinct().collect()]
        _delete_dir(spark, f"{path}/_pending/{name}")
    return restored


def check_partition_immutability(spark, path: str, batch: DataFrame,
                                 key: str | Sequence[str],
                                 partition_col: str,
                                 sample: int = 5) -> None:
    """Enforce the lake-merge family's contract: ``partition_col`` must
    be immutable per key. A batch row whose key already lives in a
    DIFFERENT partition would leave its old row stranded in an
    untouched directory (a silent duplicate), so violation RAISES with
    a bounded sample instead. Cost: one semi-style join of the batch
    against ONLY its own touched partitions' (key, partition) pairs —
    partition pruning keeps the read batch-sized, the collect is capped
    at ``sample`` rows. Call before ``lake_merge``/``lake_apply_cdc``
    when the upstream cannot guarantee the invariant."""
    keys = [key] if isinstance(key, str) else list(key)
    b = batch.select(*keys, F.col(partition_col).alias("__new_part")) \
        .distinct()
    # the old row can live in ANY partition, so this check scans the
    # key+partition columns of the whole lake — column-pruned to two
    # columns, no data columns read; run it when ingest can't vouch
    cur = spark.read.parquet(path) \
        .select(*keys, F.col(partition_col).alias("__old_part"))
    moved = (cur.join(b, keys)
             .filter(F.col("__old_part") != F.col("__new_part"))
             .limit(sample).collect())
    if moved:
        bad = [(tuple(r[k] for k in keys), r["__old_part"], r["__new_part"])
               for r in moved]
        raise ValueError(
            "partition-immutability violated: batch moves key(s) across "
            f"partitions (key, old, new): {bad} — merging would strand "
            "the old rows in untouched directories; route these through "
            "a delete+insert CDC batch instead")


def lake_apply_cdc(spark, path: str, changes: DataFrame,
                   key: str | Sequence[str], partition_col: str,
                   op_col: str = "op", ts_col: str | None = None,
                   files_per_partition: int = 1) -> list:
    """Apply a change-data-capture batch (insert / update / DELETE rows)
    to the partitioned lake — the hard-delete path ``lake_merge`` (an
    upsert) cannot express. ``changes`` carries ``op_col`` ∈ {'I','U',
    'D'}: I/U rows replace the target row wholesale (CDC images are
    full rows, unlike the merge path's partial-column policies), D rows
    remove the key. ``ts_col`` compacts multi-op batches first — the
    LATEST op per key wins (op-ledger order, the q54/q76 semantics), so
    U→D deletes and D→U resurrects, matching a replayed ledger
    (property-tested against a dict replay in tests/test_properties.py).
    Contract: ``ts_col`` must totally order each key's ops — a tie
    within a key makes "latest" undefined and the compaction pick
    nondeterministic (CDC sources emit per-key-monotone LSNs; pass that
    column).

    Scale shape: identical to ``lake_merge`` — touched partition values
    collected (bounded by the batch's spread), static ``isin`` partition
    pruning on the read, one anti join (deletes ∪ replaced keys) + one
    union, dynamic overwrite of exactly the touched directories, with
    the same ``_pending`` staging / ``_COMMITTED`` marker crash
    protocol. Same contract: ``partition_col`` immutable per key, and a
    D row must name the partition its key lives in.

    Returns the touched partition values."""
    keys = [key] if isinstance(key, str) else list(key)
    if ts_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
        changes = (changes.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).drop("__rn"))
    touched = [r[0] for r in
               changes.select(partition_col).distinct().collect()]
    current = spark.read.parquet(path) \
        .filter(F.col(partition_col).isin(touched))
    batch_keys = changes.select(*keys).distinct()
    survivors = current.join(batch_keys, keys, "left_anti")
    upserts = changes.filter(F.col(op_col) != "D") \
        .select(*current.columns)
    result = survivors.unionByName(upserts)
    # dynamic overwrite only replaces partitions PRESENT in the result: a
    # partition whose every row was deleted would silently keep its old
    # files. Find those BEFORE the overwrite (the lazy plan reads the
    # pre-overwrite files; afterwards they are gone) and drop their
    # directories explicitly — inside the crash window (before
    # _COMMITTED), so a torn run still restores cleanly.
    remaining = {r[0] for r in
                 result.select(partition_col).distinct().collect()}
    # Resolve the emptied partitions' directories from the files Spark
    # ACTUALLY read for them (input_file_name), not by re-rendering the
    # value with Python str() — timestamp/float/Decimal renderings can
    # differ from Spark's partition-directory encoding, which would
    # leave the old files in place (silent stale rows). Collected
    # BEFORE the overwrite: the lazy plan points at pre-overwrite files.
    dead = set(touched) - remaining
    dead_dirs = []
    if dead:
        dead_vals = [v for v in dead if v is not None]
        pred = F.col(partition_col).isin(dead_vals) if dead_vals \
            else F.lit(False)
        if None in dead:
            pred = pred | F.col(partition_col).isNull()
        dead_files = [r[0] for r in current.filter(pred)
                      .select(F.input_file_name()).distinct().collect()]
        dead_dirs = sorted({f.rsplit("/", 1)[0] for f in dead_files})
        if None in dead:
            # NULL renders to a FIXED directory name (no value-encoding
            # ambiguity), and isin() can't see null rows to resolve it
            dead_dirs.append(
                f"{path}/{partition_col}=__HIVE_DEFAULT_PARTITION__")
    _overwrite_staged(spark, path, current, result, partition_col,
                      files_per_partition, drop_dirs=dead_dirs)
    return touched


def compact_lake(spark, path: str, partition_col: str,
                 max_files: int = 8, files_per_partition: int = 1) -> list:
    """Small-file compaction for a hive-partitioned parquet lake: rewrite
    ONLY the partitions whose parquet file count exceeds ``max_files``,
    coalescing each to ``files_per_partition`` files.

    File counts come from a METADATA listing (the JVM Hadoop FileSystem
    API — works for local paths and any hadoop-compatible store), never
    from scanning data; the rewrite reads just the offending partitions
    (static ``isin`` filter → partition pruning) and dynamic overwrite
    replaces them in place. Healthy partitions keep their files
    byte-for-byte. This is the maintenance job that keeps a
    streaming-appended lake scannable: micro-batches each add a file per
    partition, and without compaction a 1000-executor scan pays
    open/seek per tiny file.

    Returns the list of compacted partition values (as the strings from
    the directory names; Spark coerces them when filtering).
    """
    fs, jpath = _jvm_fs(spark, path)
    touched = []
    skipped_null = False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(f"{partition_col}=")):
            continue
        nfiles = sum(1 for f in fs.listStatus(st.getPath())
                     if f.getPath().getName().endswith(".parquet"))
        if nfiles > max_files:
            raw = name.split("=", 1)[1]
            # Directory names are hive-ESCAPED (space -> %20 etc.); the
            # isin filter below compares against the unescaped VALUE, so
            # a raw name would match nothing and the partition would be
            # reported touched but never compacted. The null partition
            # has no value to filter on — skip it (isin is null-safe
            # false anyway).
            if raw == "__HIVE_DEFAULT_PARTITION__":
                skipped_null = True
                continue
            touched.append(_hive_unescape(raw))
    if touched or skipped_null:
        cond = F.lit(False)
        if touched:
            cond = F.col(partition_col).isin(touched)
        if skipped_null:
            cond = cond | F.col(partition_col).isNull()
        sub = spark.read.parquet(path).filter(cond)
        # same crash-safety staging as lake_merge: a crash inside the
        # dynamic-overwrite commit window must not lose the partition
        _overwrite_staged(spark, path, sub, sub, partition_col,
                          files_per_partition)
    return touched + ([None] if skipped_null else [])


def write_range_layout(df: DataFrame, path: str,
                       range_cols: Sequence[str],
                       num_files: int) -> None:
    """Data-skipping layout: range-repartition + sort within partitions
    on ``range_cols`` before writing parquet.

    Each output file then covers a DISJOINT range of the layout key, so
    parquet footer min/max statistics let a selective reader skip whole
    files/row-groups (Spark pushes comparison filters to the scan; the
    footer check eliminates non-matching files without reading a single
    data page). This is the single-column analogue of Z-ordering: at
    100 TB a point/range query on the layout key touches
    O(result-size / file-size) files instead of all of them. The
    disjointness is asserted from the real parquet footers in
    tests/test_sinks.py.
    """
    (df.repartitionByRange(num_files, *[F.col(c) for c in range_cols])
       .sortWithinPartitions(*range_cols)
       .write.mode("overwrite").parquet(path))


_PARTITION_TOKEN_CACHE: dict[int, list[int]] = {}


def _identity_partition_tokens(spark, n: int) -> list[int]:
    """Long tokens ``t_0..t_{n-1}`` with ``pmod(hash(t_i), n) == i``.

    ``df.repartition(n, col)`` places a row in partition
    ``pmod(murmur3_42(col), n)`` — the same function ``F.hash`` exposes.
    Pre-imaging it lets a plan target exact partition ids through the
    ordinary deterministic hash exchange (no range sampling). Tokens are
    found by probing ``spark.range`` chunks through ``F.hash`` itself
    (so the value/type semantics match the exchange exactly: LongType,
    seed 42); the collect is bounded at ≤ n rows per chunk and the
    result is cached per n — murmur3's seed is fixed, so tokens are
    valid across sessions."""
    if n in _PARTITION_TOKEN_CACHE:
        return _PARTITION_TOKEN_CACHE[n]
    found: dict[int, int] = {}
    start, chunk = 0, max(8 * n, 256)
    while len(found) < n:
        rows = (spark.range(start, start + chunk)
                .select(F.pmod(F.hash(F.col("id")), F.lit(n)).alias("p"),
                        F.col("id"))
                .groupBy("p").agg(F.min("id").alias("t"))
                .collect())
        for r in rows:
            found.setdefault(r.p, r.t)
        start += chunk
    tokens = [found[i] for i in range(n)]
    _PARTITION_TOKEN_CACHE[n] = tokens
    return tokens


def write_zorder_layout(df: DataFrame, path: str, col_a: str, col_b: str,
                        num_files: int, bits: int = 8) -> None:
    """Two-dimensional Z-order layout — kept as the common-case API;
    delegates to the N-column generalization below."""
    write_zorder_layout_n(df, path, [col_a, col_b], num_files, bits=bits)


def write_zorder_layout_n(df: DataFrame, path: str, cols: Sequence[str],
                          num_files: int, bits: int = 8) -> None:
    """K-dimensional data-skipping layout: interleave the bits of every
    column's range-bucket rank into one Z-value (round-robin, column 0's
    bit most significant within each round), then range-partition and
    sort on it — the multi-column generalization of
    ``write_range_layout``. Files then cover small HYPERRECTANGLES of
    the column space instead of slabs of a single column, so a selective
    filter on ANY of the layout columns (or several) skips most files
    via parquet footer min/max stats; a single-column sort only skips
    for its lead column.

    Bucket ranks come from one tiny min/max aggregate broadcast back
    (map-side math, no shuffle beyond the final range partition); the
    interleave is ``k·bits`` shift/or terms — flat JVM expressions
    inside codegen. ``k·bits`` must fit a long (≤ 63); past ~4 columns
    drop ``bits`` — more dimensions at coarser resolution skips better
    than fewer at finer, the standard Z-order trade-off. The Z column
    is dropped before writing.

    File-cut alignment: partitioning on the raw ``__z`` lets Spark's
    range sampler place file boundaries MID-octant, which destroys the
    skip bound for the column holding the fewest selector bits — and
    even range-partitioning on the octant id is sampled, so two octants
    can land in one file while another file goes empty. The exchange is
    therefore made EXACT: each row's file id is the
    ``ceil(log2(num_files))``-bit prefix of ``__z`` packed contiguously
    into ``0..num_files-1`` (pure integer math, cuts on octant
    boundaries by construction), and the file id is then mapped through
    a driver-computed hash-preimage token table
    (``_identity_partition_tokens``) so the ordinary hash exchange
    places file id *i* in partition *i* deterministically — no sampling
    anywhere. A non-power-of-two ``num_files`` packs adjacent whole
    octants of the next power of two into some files; cuts stay
    octant-aligned."""
    k = len(cols)
    if k < 1:
        raise ValueError("write_zorder_layout_n needs at least one column")
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a long; "
                         "reduce bits")
    lv = (1 << bits) - 1
    aggs = []
    for j, c in enumerate(cols):
        aggs += [F.min(F.col(c).cast("double")).alias(f"__min{j}"),
                 F.max(F.col(c).cast("double")).alias(f"__max{j}")]
    bounds = df.agg(*aggs)

    def bucket(c, mn, mx):
        span = F.col(mx) - F.col(mn)
        frac = F.when(span > 0,
                      (F.col(c).cast("double") - F.col(mn)) / span) \
            .otherwise(F.lit(0.0))
        return F.least(F.lit(lv).cast("long"),
                       F.floor(frac * (lv + 1)).cast("long"))

    ranks = [bucket(c, f"__min{j}", f"__max{j}")
             for j, c in enumerate(cols)]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, r in enumerate(ranks):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(r, i) % 2, i * k + (k - 1 - j)))
    prefix_bits = min((num_files - 1).bit_length(), k * bits) \
        if num_files > 1 else 0
    # contiguous octant pack: fid = floor(octant * num_files / 2^prefix)
    fid = F.shiftright(
        F.shiftright(F.col("__z"), k * bits - prefix_bits)
        * F.lit(num_files).cast("long"), prefix_bits)
    tokens = _identity_partition_tokens(df.sparkSession, num_files)
    tok_arr = F.array(*[F.lit(int(t)).cast("long") for t in tokens])
    drop_cols = ["__z", "__tok"] + [f"__min{j}" for j in range(k)] \
        + [f"__max{j}" for j in range(k)]
    (df.crossJoin(F.broadcast(bounds))
       .withColumn("__z", z)
       .withColumn("__tok", F.element_at(tok_arr, (fid + 1).cast("int")))
       .repartition(num_files, F.col("__tok"))
       .sortWithinPartitions("__z")
       .drop(*drop_cols)
       .write.mode("overwrite").parquet(path))


def write_bucketed(df: DataFrame, table: str, buckets: int,
                   bucket_cols: Sequence[str], sort_cols: Sequence[str] = (),
                   path: str | None = None, mode: str = "overwrite") -> None:
    """Bucketed (pre-shuffled, optionally pre-sorted) parquet table.

    Two tables bucketed the same way on their join key sort-merge-join with
    ZERO exchanges — the shuffle is paid once at write time instead of per
    query. At 100 TB this is the difference between re-shuffling the fact
    table for every fact⋈fact join and reading co-located buckets. Same
    trick serves aggregations: a groupBy on the bucket columns skips its
    exchange too.

    ``path`` makes the table external (data at ``path``, metadata in the
    session catalog) — bucketing metadata lives in the catalog, which is
    why this is ``saveAsTable`` and not ``.parquet()``.
    """
    w = df.write.mode(mode).format("parquet")
    if path:
        w = w.option("path", path)
    w = w.bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


#: Columnar/row formats the sandboxed Spark distribution ships writers
#: for. Avro is a separate external module (spark-avro jar) — absent
#: here, so it's gated rather than listed; on a real cluster add the jar
#: and extend this set.
SUPPORTED_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet",
                mode: str = "overwrite",
                partition_by: Sequence[str] = (),
                **options: str) -> None:
    """Format-dispatch writer: one call for parquet / ORC / JSON-lines /
    CSV with the same partitioning semantics. ORC keeps the columnar
    scan path (predicate pushdown + column pruning, same as parquet);
    JSON-lines is the interchange format for downstream tokenizer /
    training jobs that stream documents line by line."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(
            f"unsupported format {fmt!r}; available: {SUPPORTED_FORMATS} "
            "(avro needs the external spark-avro jar)")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", True)
    for k, v in options.items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(spark, path: str, fmt: str = "parquet", **options: str):
    """Reader twin of ``write_table`` (CSV gets header+inferSchema)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    r = spark.read.format(fmt)
    if fmt == "csv":
        r = r.option("header", True).option("inferSchema", True)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV staging-style sink (ref S5, user_table.py:90) — kept for export
    compatibility; the engine itself never stages through CSV."""
    df.write.mode(mode).option("header", True).csv(path)


def upsert_statement(table: str, columns: Sequence[str], key: str | Sequence[str],
                     mutable: Sequence[str], staging: str | None = None,
                     set_sql: dict[str, str] | None = None) -> str:
    """The single set-based statement replacing the reference's per-row
    ``INSERT ... ON CONFLICT`` loop (ref user_table.py:106-118).
    ``set_sql`` (column -> SQL expression over ``{table}.col`` /
    ``EXCLUDED.col``) overrides the default overwrite-from-staging SET
    list — the $merge whenMatched update-pipeline lowering
    (sources/mongoql/writes.py::_compile_merge_set_sql)."""
    keys = [key] if isinstance(key, str) else list(key)
    staging = staging or f"{table}_staging"
    collist = ", ".join(columns)
    conflict = ", ".join(keys)
    if set_sql is not None:
        # an EMPTY compiled pipeline ({} — whenMatched: []) keeps the
        # matched row unchanged, matching the snap/lake lowering
        # (_merge_update_pipeline with no stages); falling through to
        # the overwrite-from-staging SET list would silently flip the
        # semantics to replace (r13 ADVICE)
        if set_sql:
            sets = ", ".join(f"{c} = {e}" for c, e in set_sql.items())
            action = f"DO UPDATE SET {sets}"
        else:
            action = "DO NOTHING"
    elif mutable:
        sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in mutable)
        action = f"DO UPDATE SET {sets}"
    else:
        action = "DO NOTHING"
    return (f"INSERT INTO {table} ({collist}) "
            f"SELECT {collist} FROM {staging} "
            f"ON CONFLICT ({conflict}) {action}")


def merge_statement(table: str, columns: Sequence[str],
                    key: str | Sequence[str], mutable: Sequence[str],
                    staging: str | None = None,
                    dialect: str = "postgres",
                    set_sql: dict[str, str] | None = None) -> str:
    """Set-based staging→target merge statement for the given SQL dialect.

    * ``postgres`` — ``INSERT ... ON CONFLICT`` (the reference's statement,
      ref user_table.py:106-118, made set-based);
    * ``ansi`` — standard ``MERGE INTO`` (Derby, DB2, SQL Server,
      Postgres 15+): same semantics — update only the mutable column
      subset on key match, insert the full row otherwise.

    ``set_sql`` (column -> compiled SQL expression over ``t``/``s``
    rows, pre-quoted for the dialect) replaces the overwrite-from-
    staging SET list — $merge whenMatched update pipelines run
    server-side in this ONE statement."""
    if dialect == "postgres":
        return upsert_statement(table, columns, key, mutable, staging,
                                set_sql=set_sql)
    if dialect != "ansi":
        raise ValueError(f"unknown dialect {dialect!r} (postgres|ansi)")
    # Double-quote COLUMN identifiers: Spark's JDBC writer quotes them
    # (case-exact), and names like ``_id`` are not legal unquoted in
    # strict-ANSI engines (Derby rejects a leading underscore). Table
    # names stay verbatim — Spark passes them unquoted to CREATE TABLE,
    # so quoting here would miss the case-folded catalog entry.
    def q(ident: str) -> str:
        return f'"{ident}"'

    keys = [key] if isinstance(key, str) else list(key)
    staging = staging or f"{table}_staging"
    cond = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
    ins_cols = ", ".join(q(c) for c in columns)
    ins_vals = ", ".join(f"s.{q(c)}" for c in columns)
    matched = ""
    if set_sql is not None:
        # empty compiled pipeline → no WHEN MATCHED clause: matched
        # rows stay unchanged, same as the snap/lake lowering
        if set_sql:
            sets = ", ".join(f"{q(c)} = {e}" for c, e in set_sql.items())
            matched = f"WHEN MATCHED THEN UPDATE SET {sets} "
    elif mutable:
        sets = ", ".join(f"{q(c)} = s.{q(c)}" for c in mutable)
        matched = f"WHEN MATCHED THEN UPDATE SET {sets} "
    return (f"MERGE INTO {table} t USING {staging} s ON {cond} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})")


def jvm_execute(spark, url: str, *statements: str) -> None:
    """Execute SQL statements over JDBC through the JVM already attached to
    the SparkSession (``java.sql.DriverManager``) — any driver on Spark's
    classpath works (embedded Derby in tests, the Postgres jar on a real
    cluster) and no Python DBAPI driver is needed at all.

    The statements run in ONE transaction: a failure mid-sequence rolls
    back the earlier statements instead of leaving a half-applied batch
    committed (autocommit would commit each statement as it ran). The
    Statement handle is closed even when execute raises."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        try:
            for stmt in statements:
                st.execute(stmt)
            conn.commit()
        except BaseException:
            conn.rollback()
            raise
        finally:
            st.close()
    finally:
        conn.close()


def create_table_ddl(table: str, df: DataFrame, key: str = "_id") -> str:
    """Derive Postgres DDL from the DataFrame schema (single source of
    truth — SURVEY.md §1.3), with the reference's serial-PK + unique
    natural key contract (ref mongo_to_postgres_migration.py:41-44)."""
    type_map = {
        "string": "varchar", "long": "bigint", "int": "integer",
        "double": "double precision", "boolean": "boolean",
        "timestamp": "timestamp", "timestamp_ntz": "timestamp",
        "date": "date",
    }
    cols = []
    for name, dtype in df.dtypes:
        if name == "id":
            cols.append("id serial PRIMARY KEY")
        elif name == key:
            cols.append(f"{name} {type_map.get(dtype, 'varchar')} UNIQUE")
        else:
            cols.append(f"{name} {type_map.get(dtype, 'varchar')}")
    return f"CREATE TABLE IF NOT EXISTS {table} ({', '.join(cols)})"


def drop_schema_ddl(schema: str = "public") -> tuple[str, str]:
    """Drop-and-recreate statements for a warehouse reset (S8, ref
    erase_schema.py:24-30). Returned as two statements — CASCADE drop,
    then recreate — so callers can run them in one transaction or feed
    them to any DBAPI/JDBC executor."""
    return (f"DROP SCHEMA IF EXISTS {schema} CASCADE",
            f"CREATE SCHEMA {schema}")


def jdbc_merge(df: DataFrame, url: str, table: str, key: str | Sequence[str],
               mutable: Sequence[str], properties: dict | None = None,
               batchsize: int = 10_000, dialect: str = "postgres",
               set_sql: dict[str, str] | None = None) -> str:
    """Stage + merge into a live JDBC database: the batch lands in
    ``{table}_staging`` via the batched ``df.write.jdbc`` path, then ONE
    server-side set-based statement merges staging into the target —
    replacing the reference's per-row INSERT + commit loop
    (ref user_table.py:105-121). The statement executes through the
    session JVM's DriverManager (``jvm_execute``), so the only driver
    requirement is the JDBC jar Spark already needs for the staging write.
    Returns the executed statement (for logging/auditing)."""
    staging = f"{table}_staging"
    (df.write.mode("overwrite")
       .option("batchsize", str(batchsize))
       .jdbc(url, staging, properties=properties or {}))
    stmt = merge_statement(table, df.columns, key, mutable, staging,
                           dialect, set_sql=set_sql)
    jvm_execute(df.sparkSession, url, stmt)
    return stmt
