"""Terminal write stages ``$merge``/``$out`` — snap/jdbc targets,
whenMatched/whenNotMatched policies, update pipelines (dataflow
form AND the server-side SET-clause compilation for jdbc targets),
plus the SQL-literal/expression renderers. Split from
sources/mongoql.py in r15."""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.expr import (
    _expr,
)


def _target_spec(targets, name, op: str) -> dict:
    """Normalize a target binding. A bare string is a snapshot-table
    path (the default sink); a dict selects the kind:

    - ``{"kind": "snap", "path": p}`` — snapshot table (full matrix);
      a table created partitioned (``snap_append(partition_by=...)``)
      keeps its layout through ``$merge``
    - ``{"kind": "jdbc", "url": u, "table": t[, "properties",
      "dialect"]}`` — live database via ``jdbc_merge`` (staging + ONE
      set-based MERGE/ON CONFLICT statement)
    """
    if not targets or name not in targets:
        raise ValueError(
            f"{op} into {name!r} needs targets={{{name!r}: <snap table "
            "path | target spec dict>}} passed to apply_pipeline")
    raw = targets[name]
    return {"kind": "snap", "path": raw} if isinstance(raw, str) \
        else dict(raw)


def _read_or_empty(spark, path: str, like: DataFrame) -> DataFrame:
    """Post-write read-back; an empty table (nothing ever committed, or
    an $out of zero rows) reads as the batch's empty frame."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        current_version,
        read_manifest,
        read_snapshot,
    )

    if current_version(spark, path) == 0 or \
            not read_manifest(spark, path)["files"]:
        return like.limit(0)
    return read_snapshot(spark, path)


def _merge_update_pipeline(tgt: DataFrame, matched: DataFrame,
                           keys: list[str], stages: list[dict[str, Any]],
                           batch_cols: list[str],
                           let: dict | None = None) -> DataFrame:
    """``$merge`` ``whenMatched`` UPDATE-PIPELINE subset
    (``[{$set: {...}}, ...]``): evaluate each ``$set``/``$addFields``
    stage over the MATCHED target rows, with bare ``$field`` refs
    resolving to the existing target document and ``$$new`` to the
    incoming batch document — Mongo's exact variable contract for this
    form. Lowered as ONE inner join (matched batch rows packed into a
    single ``__new`` struct, so column names never collide) + pure
    column expressions; the conflict-increment idiom
    ``{$set: {qty: {$add: ["$qty", "$$new.qty"]}}}`` stays inside
    whole-stage codegen. Subset contracts (raise, never guess): stages
    must be ``$set``/``$addFields``/``$unset`` ($unset nulls the
    column — the rectangular deviation from field removal); no dotted
    paths; assigned fields
    must already exist in the target schema (evolve with $out first)
    and must not be ``on`` keys; each stage's expressions see the
    PRE-stage state (Mongo stage semantics), sequential stages chain."""
    packed = matched.select(
        *keys, F.struct(*[F.col(c) for c in batch_cols]).alias("__new"))
    up = tgt.join(packed, keys, "inner")
    if let:
        # Mongo's $merge let: variables are expressions over the SOURCE
        # (batch) document, REPLACING the default {new: $$ROOT} — bare
        # $refs read the packed __new struct
        new = F.col("__new")
        src_env = {"ROOT": new, "CURRENT": new,
                   "__doc": (packed.schema["__new"].dataType, new)}
        env = {name: _expr(e, src_env) for name, e in let.items()}
    else:
        env = {"new": F.col("__new")}
    # bare $refs read the existing target document
    env["__doc"] = (tgt.schema, None)
    for st in stages:
        if not isinstance(st, dict) or len(st) != 1:
            raise ValueError(f"malformed whenMatched pipeline stage: {st!r}")
        (sop, sspec), = st.items()
        if sop == "$unset":
            # rectangular deviation, documented: Mongo removes the
            # field; a fixed schema keeps the column and nulls it
            sspec = {f: None for f in
                     (sspec if isinstance(sspec, list) else [sspec])}
        elif sop not in ("$set", "$addFields"):
            raise ValueError(
                f"whenMatched pipelines support $set/$addFields/$unset "
                f"only, got {sop!r} — compute richer updates in the "
                "main pipeline and use whenMatched: 'merge'")
        assigns = {}
        for fld, e in sspec.items():
            if "." in fld:
                raise ValueError(
                    f"whenMatched $set of nested path {fld!r} is "
                    "unsupported")
            if fld in keys:
                raise ValueError(
                    f"whenMatched $set may not modify 'on' field {fld!r}")
            if fld not in tgt.columns:
                raise ValueError(
                    f"whenMatched $set field {fld!r} absent from the "
                    "target schema — evolve the target first ($out)")
            assigns[fld] = _expr(e, env).cast(tgt.schema[fld].dataType)
        # one select per stage: every expression sees the pre-stage state
        up = up.select(*[
            (assigns[c].alias(c) if c in assigns else F.col(c))
            for c in up.columns])
    return up.select(*tgt.columns)


def _sql_literal(v: Any) -> str:
    """Render a Python literal as portable SQL (Postgres + Derby)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        # repr(inf)/repr(nan) are not SQL — the statement would fail
        # server-side AFTER staging is written, as an opaque database
        # error; reject at compile time instead (r13 ADVICE)
        if isinstance(v, float) and not math.isfinite(v):
            raise ValueError(
                f"unsupported SQL literal in whenMatched pipeline: "
                f"non-finite float {v!r}")
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise ValueError(f"unsupported SQL literal in whenMatched "
                     f"pipeline: {v!r}")


def _compile_merge_set_sql(stages: list[dict[str, Any]], keys: list[str],
                           cols: list[str], let: dict | None,
                           quote, tq: str, sq: str) -> dict[str, str]:
    """Compile a ``$merge`` ``whenMatched`` update pipeline into the SET
    expressions of ONE server-side set-based statement (Postgres
    ``INSERT .. ON CONFLICT DO UPDATE SET`` / ANSI ``MERGE .. WHEN
    MATCHED THEN UPDATE SET``) — the reference's actual sink is live
    Postgres (ref user_table.py:105-121), so the conflict-increment
    idiom must run SERVER-side in the same single statement as the
    upsert, never a read-modify-write round trip.

    ``tq``/``sq`` are the target/source row qualifiers of the chosen
    dialect (table name + ``EXCLUDED`` for Postgres, ``t``/``s`` for
    ANSI MERGE); ``quote`` is the dialect's identifier quoter. Bare
    ``$field`` refs read the EXISTING target row, ``$$new.field`` the
    incoming batch row, and custom ``let`` variables are expressions
    over the source document (replacing the default ``new`` binding —
    Mongo's contract). Sequential stages chain by textual substitution:
    stage k's refs to a field assigned in stage k-1 inline that stage's
    compiled expression, reproducing Mongo's stage-by-stage document
    states inside one statement (SQL UPDATE SET RHS all see the
    pre-update row, so the substitution is exactly the fixpoint).
    Supported expression subset (raise, never guess): literals, field
    refs, $add/$subtract/$multiply/$divide/$mod, $ifNull, $cond,
    $eq/$ne/$gt/$gte/$lt/$lte/$and/$or/$not, $concat, $abs/$floor/
    $ceil, $literal — richer updates belong in the main pipeline with
    whenMatched: 'merge', or on a snap target (full expression
    language)."""
    colset = set(cols)
    if let:
        letmap = {name: "(" + _sql_src_expr(e, colset, quote, sq) + ")"
                  for name, e in let.items()}
    else:
        letmap = None

    cur: dict[str, str] = {}

    def ref(f: str) -> str:
        if f in cur:
            return cur[f]
        if f not in colset:
            raise ValueError(
                f"whenMatched $set references {f!r} which is not a "
                "batch/target column (jdbc targets need a rectangular "
                "batch)")
        return f"{tq}.{quote(f)}"

    def comp(e: Any) -> str:
        return _sql_merge_expr(e, ref, letmap, colset, quote, sq)

    for st in stages:
        if not isinstance(st, dict) or len(st) != 1:
            raise ValueError(f"malformed whenMatched pipeline stage: {st!r}")
        (sop, sspec), = st.items()
        if sop == "$unset":
            # rectangular deviation, documented: Mongo removes the
            # field; SQL keeps the column and sets it NULL
            sspec = {f: None for f in
                     (sspec if isinstance(sspec, list) else [sspec])}
        elif sop not in ("$set", "$addFields"):
            raise ValueError(
                f"whenMatched pipelines support $set/$addFields/$unset "
                f"only, got {sop!r} — compute richer updates in the "
                "main pipeline and use whenMatched: 'merge'")
        assigns = {}
        for fld, e in sspec.items():
            if "." in fld:
                raise ValueError(
                    f"whenMatched $set of nested path {fld!r} is "
                    "unsupported")
            if fld in keys:
                raise ValueError(
                    f"whenMatched $set may not modify 'on' field {fld!r}")
            if fld not in colset:
                raise ValueError(
                    f"whenMatched $set field {fld!r} absent from the "
                    "batch/target columns")
            v = comp(e)
            # Derby accepts `SET c = NULL` but not `(NULL)` — keep a
            # bare NULL unwrapped
            assigns[fld] = v if v == "NULL" else "(" + v + ")"
        # stage barrier: every expression above saw the PRE-stage state
        cur.update(assigns)
    return cur


def _sql_src_expr(e: Any, colset: set, quote, sq: str) -> str:
    """Compile a $merge ``let`` expression — scoped to the SOURCE
    (batch) document, so bare ``$field`` refs read the staging row."""
    def ref(f: str) -> str:
        if f not in colset:
            raise ValueError(f"$merge let references unknown batch "
                             f"column {f!r}")
        return f"{sq}.{quote(f)}"
    return _sql_merge_expr(e, ref, None, colset, quote, sq,
                           allow_new=False)


def _sql_merge_expr(e: Any, ref, letmap, colset: set, quote, sq: str,
                    allow_new: bool = True) -> str:
    """Recursive Mongo-expression → SQL compiler for the whenMatched
    update-pipeline subset (see :func:`_compile_merge_set_sql`)."""
    def rec(x):
        return _sql_merge_expr(x, ref, letmap, colset, quote, sq,
                               allow_new)

    if isinstance(e, str) and e.startswith("$$"):
        body = e[2:]
        var, _, fld = body.partition(".")
        if letmap is not None:
            if var not in letmap:
                raise ValueError(f"unknown $merge let variable $${var}")
            if fld:
                raise ValueError(
                    f"$${var}.{fld}: let variables compile to scalar "
                    "SQL expressions — bind one variable per field")
            return letmap[var]
        if var != "new":
            raise ValueError(
                f"unknown variable $${var} in whenMatched pipeline "
                "(default binding is $$new; add 'let' for others)")
        if not allow_new or not fld or "." in fld:
            raise ValueError(
                "whenMatched pipelines on jdbc targets support "
                "$$new.<field> refs (one level)")
        if fld not in colset:
            raise ValueError(f"$$new.{fld} is not a batch column")
        return f"{sq}.{quote(fld)}"
    if isinstance(e, str) and e.startswith("$"):
        f = e[1:]
        if "." in f:
            raise ValueError(
                f"nested path {e!r} unsupported in a jdbc whenMatched "
                "pipeline")
        return ref(f)
    if isinstance(e, (str, int, float, bool)) or e is None:
        return _sql_literal(e)
    if not isinstance(e, dict) or len(e) != 1:
        raise ValueError(
            f"unsupported whenMatched expression for a jdbc target: "
            f"{e!r} — use a snap target for the full expression "
            "language")
    (op, arg), = e.items()
    if op == "$literal":
        return _sql_literal(arg)
    _VARIADIC = {"$add": " + ", "$multiply": " * ", "$and": " AND ",
                 "$or": " OR ", "$concat": " || "}
    if op in _VARIADIC:
        parts = [rec(a) for a in arg]
        if not parts:
            raise ValueError(f"{op} needs at least one operand")
        return "(" + _VARIADIC[op].join(parts) + ")"
    _BINARY = {"$subtract": "-", "$eq": "=",
               "$ne": "<>", "$gt": ">", "$gte": ">=", "$lt": "<",
               "$lte": "<="}
    if op in _BINARY:
        a, b = arg
        return f"({rec(a)} {_BINARY[op]} {rec(b)})"
    if op == "$divide":
        # Mongo $divide is float division; bare SQL `/` on two
        # integers is INTEGER division in Postgres/Derby — cast the
        # dividend so both lowerings (snap column exprs and this SQL
        # path) agree
        a, b = arg
        return f"(CAST({rec(a)} AS DOUBLE PRECISION) / {rec(b)})"
    if op == "$mod":
        a, b = arg
        return f"MOD({rec(a)}, {rec(b)})"
    if op == "$ifNull":
        if not isinstance(arg, list) or len(arg) < 2:
            raise ValueError("$ifNull needs [expr, ..., fallback]")
        return "COALESCE(" + ", ".join(rec(a) for a in arg) + ")"
    if op == "$cond":
        if isinstance(arg, dict):
            c, th, el = arg["if"], arg["then"], arg["else"]
        else:
            c, th, el = arg
        return (f"(CASE WHEN {rec(c)} THEN {rec(th)} "
                f"ELSE {rec(el)} END)")
    if op == "$not":
        a = arg[0] if isinstance(arg, list) else arg
        return f"(NOT {rec(a)})"
    _FUNC = {"$abs": "ABS", "$floor": "FLOOR", "$ceil": "CEILING"}
    if op in _FUNC:
        return f"{_FUNC[op]}({rec(arg)})"
    raise ValueError(
        f"whenMatched pipeline operator {op!r} has no jdbc SQL "
        "lowering — use a snap target for the full expression language")


def _write_stage(df: DataFrame, op: str, spec: Any, targets) -> DataFrame:
    """Terminal ``$out`` / ``$merge`` write stages — the reference's
    whole purpose is pipeline -> warehouse writes (ref
    dags/mongo_to_postgres_migration.py:109-155: read pipeline, then a
    per-table row-wise upsert); here they lower onto the snapshot
    table-format commits, so the write is ONE atomic commit with
    merge-on-read cost instead of a row loop.

    ``$out`` replaces the whole target (snap_overwrite), in the head's
    partition layout when the output carries every partition column.
    ``$merge`` lowers the whenMatched x whenNotMatched matrix onto set
    operations + a single snap commit:

    - whenMatched  replace      -> batch row wins wholesale
    -              merge        -> batch columns overwrite, target-only
                                   columns carry over (field-wise merge
                                   on a rectangular schema)
    -              [pipeline]   -> $set/$addFields update pipeline over
                                   the matched target rows, $$new bound
                                   to the batch doc — snap targets
                                   via _merge_update_pipeline (column
                                   expressions), jdbc targets compiled
                                   into the single server-side
                                   statement's SET clause
                                   (_compile_merge_set_sql)
    -              keepExisting -> matched batch rows dropped
    -              fail         -> error if any batch key matches
    - whenNotMatched insert / discard / fail analogously

    Everything that changes rows funnels into ONE snap_merge_keys /
    snap_append commit (O(batch) merge-on-read, never a table rewrite),
    so readers see the old or the new state atomically. Deviations,
    documented: the batch must have at most one row per ``on`` key (a
    distributed engine has no doc order to break ties; Mongo errors on
    multi-matches too), whenMatched update pipelines support the
    $set/$addFields/$unset subset (both target kinds; jdbc takes
    the SQL-compilable expression subset), and batch columns
    absent from the target's schema
    raise (evolve the schema with $out/snap_overwrite first). Returns
    the target's post-write snapshot so pipelines remain composable
    for gating."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        current_version,
        read_manifest,
        read_snapshot,
        snap_append,
        snap_merge_keys,
        snap_overwrite,
    )

    spark = df.sparkSession
    if op == "$out":
        name = spec if isinstance(spec, str) else spec["coll"]
        t = _target_spec(targets, name, "$out")
        kind = t.get("kind", "snap")
        if kind == "snap":
            # keep the head's hive layout when the output can fill it
            layout = tuple(
                read_manifest(spark, t["path"]).get("partition_by") or ())
            if not set(layout) <= set(df.columns):
                layout = ()
            snap_overwrite(spark, t["path"], df, note="$out",
                           partition_by=layout)
            return _read_or_empty(spark, t["path"], df)
        if kind == "jdbc":
            props = t.get("properties") or {}
            df.write.mode("overwrite").jdbc(t["url"], t["table"],
                                            properties=props)
            return spark.read.jdbc(t["url"], t["table"],
                                   properties=props)
        raise ValueError(f"unknown $out target kind: {kind!r}")

    if isinstance(spec, str):
        spec = {"into": spec}
    name = spec["into"]
    if isinstance(name, dict):
        name = name["coll"]
    on = spec.get("on", "_id")
    keys = [on] if isinstance(on, str) else list(on)
    wm = spec.get("whenMatched", "merge")
    wnm = spec.get("whenNotMatched", "insert")
    wm_pipe = None
    if isinstance(wm, list):
        # update-pipeline form — validated and lowered per matched key
        # by _merge_update_pipeline (snap targets only)
        wm_pipe, wm = wm, "pipeline"
    if wm not in ("replace", "keepExisting", "merge", "fail", "pipeline"):
        raise ValueError(f"unsupported whenMatched: {wm!r}")
    if wnm not in ("insert", "discard", "fail"):
        raise ValueError(f"unsupported whenNotMatched: {wnm!r}")
    t = _target_spec(targets, name, "$merge")
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"$merge 'on' fields {missing} missing from "
                         "the pipeline output")
    # at most one batch row per key, every mode: the merge commit's
    # delete cannot distinguish duplicates, and Mongo's own sequential
    # semantics depend on doc order a distributed batch doesn't have
    dup = (df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
           .filter("__n > 1").limit(1).collect())
    if dup:
        raise ValueError(
            f"$merge: batch has multiple rows for key "
            f"{ {k: dup[0][k] for k in keys} } — dedupe upstream")

    kind = t.get("kind", "snap")
    if kind == "jdbc":
        # the jdbc sink implements exactly the UPSERT (the reference's
        # flagship write, ref user_table.py:105-121 made set-based):
        # matched rows update, misses insert — Mongo's default
        # merge+insert (== replace+insert on a rectangular full-column
        # batch). The full matrix needs the snapshot sink.
        if wm not in ("merge", "replace", "pipeline") or wnm != "insert":
            raise ValueError(
                "$merge into a 'jdbc' target supports whenMatched "
                "merge/replace + whenNotMatched insert (the sink's "
                "upsert); use a snap target for the full matrix")
        from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import (
            jdbc_merge,
        )

        props = t.get("properties") or {}
        dialect = t.get("dialect", "postgres")
        set_sql = None
        if wm == "pipeline":
            # compile the $set pipeline into the SET clause of the
            # single server-side statement — the update runs in the
            # SAME transaction as the insert, no read-modify-write
            if dialect == "postgres":
                quote, tq, sq = (lambda c: c), t["table"], "EXCLUDED"
            else:
                quote, tq, sq = (lambda c: f'"{c}"'), "t", "s"
            set_sql = _compile_merge_set_sql(
                wm_pipe, keys, list(df.columns), spec.get("let"),
                quote, tq, sq)
        jdbc_merge(df, t["url"], t["table"], keys,
                   [c for c in df.columns if c not in keys],
                   properties=props, dialect=dialect, set_sql=set_sql)
        return spark.read.jdbc(t["url"], t["table"], properties=props)
    if kind != "snap":
        raise ValueError(f"unknown $merge target kind: {kind!r}")

    path = t["path"]
    if current_version(spark, path) == 0:
        # empty target: every row is not-matched
        if wnm == "insert":
            snap_append(spark, path, df, note="$merge bootstrap")
        elif wnm == "fail" and df.limit(1).count():
            raise ValueError(
                "$merge whenNotMatched='fail': target is empty")
        return _read_or_empty(spark, path, df)

    tgt = read_snapshot(spark, path)
    extra = [c for c in df.columns if c not in tgt.columns]
    if extra:
        raise ValueError(
            f"$merge: batch columns {extra} absent from target "
            f"{name!r} — evolve the target schema first ($out)")
    tkeys = tgt.select(*keys).dropDuplicates(keys)
    matched = df.join(tkeys, keys, "left_semi")
    unmatched = df.join(tkeys, keys, "left_anti")
    if wm == "fail" and matched.limit(1).count():
        raise ValueError("$merge whenMatched='fail': batch keys match "
                         "existing target rows")
    if wnm == "fail" and unmatched.limit(1).count():
        raise ValueError("$merge whenNotMatched='fail': batch has keys "
                         "absent from the target")
    carry = [c for c in tgt.columns if c not in df.columns]
    parts = []
    if wm == "pipeline":
        parts.append(_merge_update_pipeline(tgt, matched, keys, wm_pipe,
                                            df.columns, spec.get("let")))
    if wm in ("replace", "merge"):
        up = matched
        if carry:
            if wm == "merge":
                # field-wise merge: batch columns overwrite, target-only
                # columns ride along from the matched target row
                up = up.join(tgt.select(*keys, *carry), keys, "left")
            else:
                for c in carry:
                    up = up.withColumn(
                        c, F.lit(None).cast(tgt.schema[c].dataType))
        parts.append(up)
    if wnm == "insert":
        ins = unmatched
        for c in carry:
            ins = ins.withColumn(c,
                                 F.lit(None).cast(tgt.schema[c].dataType))
        parts.append(ins)
    if parts:
        batch = parts[0]
        for p in parts[1:]:
            batch = batch.unionByName(p)
        batch = batch.select(*tgt.columns)
        if wm in ("replace", "merge", "pipeline"):
            # uniqueness already enforced above — skip the second check
            snap_merge_keys(spark, path, batch, keys, note=f"$merge {wm}",
                            on_duplicate="keep_all")
        else:
            # keepExisting: only never-seen keys land — append-only
            snap_append(spark, path, batch, note="$merge insert-only")
    return _read_or_empty(spark, path, df)
