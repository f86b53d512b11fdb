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


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: Sequence[str] = ()) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


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
        # matched row unchanged, matching the snap lowering
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
        # rows stay unchanged, same as the snap lowering
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
