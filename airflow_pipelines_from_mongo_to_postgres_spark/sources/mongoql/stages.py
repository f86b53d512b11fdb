"""The stage dispatcher ``apply_pipeline`` and the per-stage compilers
that are not split out elsewhere: $project (nested-shape includes),
$group (accumulators incl. the rank family and the r15
absorbed-$sort ordered forms), $bucket/$bucketAuto, $fill/$densify,
$redact, $facet, $sample, $unionWith/$documents. Imports every
sibling; the lookup/writes back-edges into this module bind lazily
on their side. Split from sources/mongoql.py in r15."""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.errors import (
    UNSUPPORTED_STAGES,
    UnsupportedMongoStage,
)
from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.expr import (
    _GRAN_SERIES,
    _expr,
    _field,
    _field_type,
    _lookup_sort_cmp,
    _require_fields,
    _root_env,
)
from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.geo import (
    _geo_near,
)
from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.lookup import (
    _correlated_lookup,
    _graph_lookup,
)
from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.match import (
    _match_cond,
)
from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.windows import (
    _fill_one_windowed,
    _fill_partitionless,
    _set_window_fields,
)
from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.writes import (
    _write_stage,
)


def _include_tree(includes: dict[str, Any]) -> dict:
    """Group dotted inclusion paths by root into a nested tree: leaves
    are (path, spec-value) tuples, inner nodes are dicts. Mongo rejects
    path collisions ({'a': 1, 'a.b': 1}) — so do we."""
    tree: dict = {}
    for name, v in includes.items():
        parts = name.split(".")
        node = tree
        for p in parts[:-1]:
            nxt = node.setdefault(p, {})
            if not isinstance(nxt, dict):
                raise ValueError(f"$project path collision at '{name}'")
            node = nxt
        if isinstance(node.get(parts[-1]), dict):
            raise ValueError(f"$project path collision at '{name}'")
        node[parts[-1]] = (name, v)
    return tree


def _tree_col(node, parent_path: str = "", env: dict | None = None
              ) -> Column:
    if isinstance(node, tuple):
        path, v = node
        return F.col(path) if v in (1, True) else _expr(v, env)
    struct = F.struct(*[
        _tree_col(child,
                  f"{parent_path}.{k}" if parent_path else k,
                  env).alias(k)
        for k, child in node.items()])
    if parent_path:
        # Mongo: a null/missing parent document stays null in the output,
        # not a struct of nulls
        return F.when(_field(parent_path, env).isNull(),
                      F.lit(None)).otherwise(struct)
    return struct


def _path_exists(schema, path: str) -> bool:
    """Does a (possibly dotted) field path resolve in this schema? An
    include through an ARRAY raises: Mongo projects through arrays
    ({'products.price': 1} keeps an array of {price} docs), a shape the
    struct reconstruction here doesn't build, so ``$unwind`` first (the
    reference's own pipelines do, ref loanapplication_table.py:33)."""
    from pyspark.sql import types as ST

    if "." in path and isinstance(
            _field_type(schema, path.rsplit(".", 1)[0]), ST.ArrayType):
        raise ValueError(
            f"$project include through an array at '{path}' is "
            "unsupported: $unwind the array first")
    return _field_type(schema, path) is not None


def _project(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    # the __ prefix is the translator's RESERVED internal namespace
    # (__rn/__gk*/__lk*/__pk* scratch columns ride through user
    # projections automatically) — a user spec naming one would emit
    # the column twice and fail downstream with an ambiguous-column
    # error; refuse up front instead (r16 ADVICE)
    reserved = [k for k in spec if k.startswith("__")]
    if reserved:
        raise ValueError(
            f"$project field(s) {reserved} use the translator-reserved "
            "'__' namespace (internal scratch columns) — rename the "
            "source fields")
    keep_id = "_id" in df.columns and spec.get("_id", 1) not in (0, False)
    includes = {k: v for k, v in spec.items()
                if k != "_id" and v not in (0, False)}
    excludes = [k for k, v in spec.items() if v in (0, False) and k != "_id"]
    if includes:
        # Mongo omits includes of fields the document doesn't have;
        # computed ('$ref'/literal) values are always kept
        includes = {k: v for k, v in includes.items()
                    if v not in (1, True) or _path_exists(df.schema, k)}
        cols: list[Column] = []
        if keep_id:
            cols.append(F.col("_id"))
        env = _root_env(df)
        for root, child in _include_tree(includes).items():
            cols.append(_tree_col(child, root if isinstance(child, dict)
                                  else "", env).alias(root))
        # translator-internal __ columns (the mid-$sort __rn rank in a
        # $lookup sub-pipeline, r15) ride through user projections —
        # they are scratch outside the stage language ($$ROOT excludes
        # them too), so an include-projection must not strip them
        cols.extend(F.col(c) for c in df.columns if c.startswith("__"))
        return df.select(*cols)
    # exclusion projection. DataFrame.drop ignores nested fields, so a
    # dotted exclusion path would silently SURVIVE where Mongo removes
    # it — fail loudly instead of diverging.
    dotted = [k for k in excludes if "." in k]
    if dotted:
        raise ValueError(
            f"$project exclusion of nested paths is unsupported: {dotted} "
            "(use an inclusion projection or flatten first)")
    drop = excludes + ([] if keep_id else ["_id"])
    return df.drop(*[c for c in drop if c in df.columns])


def _topn_agg(op: str, agg: dict, env: dict | None = None) -> Column:
    """Mongo 5.2 rank-family group accumulators, one aggregate each:

    - ``$top/$bottom {output, sortBy}`` — min_by/max_by on the sort key
      (no array materialized);
    - ``$topN/$bottomN {output, sortBy, n}`` — collect (sortKey,
      output) pairs, sort_array by the key, slice n, project the
      output — the whole chain is ONE agg expression inside codegen,
      never a per-group row_number shuffle. COMPOUND (multi-field,
      mixed-direction) sortBy keys go through ``array_sort`` with the
      per-field asc/desc comparator (:func:`_lookup_sort_cmp`) —
      same single-aggregate shape, O(group) buffer (the $top/$bottom
      scalar forms stay O(1) min_by/max_by on a SINGLE sort field).

    TIE CONTRACT (r15 — a documented guarantee, not a deviation):
    Mongo leaves the order of elements whose sortBy keys compare equal
    UNSPECIFIED (their docs: "ties are nondeterministic without a
    unique sort key"). Here every path pins them deterministically:

    - SINGLE-field sortBy: equal keys order by the OUTPUT value in the
      walk direction (asc walk → min output wins, desc walk → max) —
      the (key, output) ordering struct / sort_array over (k, o).
    - COMPOUND sortBy: after all fields compare equal, the whole
      element (remaining payload) compares ASCENDING — a mixed-
      direction key has no single walk direction, so ascending is the
      one coherent rule (:func:`_lookup_sort_cmp` fallthrough).
    - Null sort keys rank below every value, BSON's order, on both
      paths (the bare min_by/max_by ordering column used to SKIP
      null keys — the struct wrapper restores BSON semantics).

    Any Mongo deployment's answer is one of the permitted answers;
    this engine always returns the same one, which is what makes the
    rank family oracle-gateable. Tested with deliberately tied
    fixtures (tests/test_mongoql.py::test_rank_family_tie_contract).

    MEMORY BOUND, documented: the N-ary forms (and ``$push``/
    ``$addToSet``) buffer O(group size) rows in the aggregation buffer
    — collect_list materializes the whole group before the slice, on
    the map side (partial agg) as well as the reduce side. Mongo's
    bounded heap is O(n). There is NO partial-agg-safe bounded top-k in
    Spark's built-ins: a map-side ``slice(sort_array(...))`` pre-cut is
    not merge-correct (two partial top-n slices can drop globally-top
    rows only when combined with non-slice accumulators in the same
    buffer — and Catalyst offers no per-accumulator partial override),
    so a pathological group (one key with 10^8 rows) can OOM the
    buffer. For large-group regimes rewrite as the bounded two-shuffle
    shape the engine already provides: ``$setWindowFields`` ``$rank``
    over the sort key + ``$match {rank: {$lte: n}}`` + ``$group``
    ``$push`` of the survivors — the window sort SPILLS to disk, so
    memory stays bounded at any group size. ``$top``/``$bottom``
    (scalar min_by/max_by) are O(1) and safe at any skew.
    """
    sort_by = agg["sortBy"]
    if not sort_by:
        raise ValueError(f"{op} needs a non-empty sortBy")
    if len(sort_by) != 1:
        # compound / mixed-direction key: comparator-sorted array path
        # (aliases avoid dotted-path struct-field ambiguity)
        items = list(sort_by.items())
        out = _expr(agg["output"], env)
        elem = F.struct(
            *[_field(f, env).alias(f"__s{i}")
              for i, (f, _) in enumerate(items)],
            out.alias("__o"))
        spec = {f"__s{i}": int(d) for i, (_, d) in enumerate(items)}
        arr = F.array_sort(F.collect_list(elem), _lookup_sort_cmp(spec))
        if op == "$top":
            return F.element_at(arr, 1)["__o"]
        if op == "$bottom":
            return F.element_at(arr, -1)["__o"]
        n = int(agg["n"])
        if op == "$topN":
            sliced = F.slice(arr, 1, n)
        else:  # $bottomN: the LAST n, emitted in sortBy order
            sliced = F.slice(
                arr, F.greatest(F.lit(1), F.size(arr) - n + 1), F.lit(n))
        return F.transform(sliced, lambda x: x["__o"])
    (sf, sdir), = sort_by.items()
    key, out = _field(sf, env), _expr(agg["output"], env)
    if op in ("$top", "$bottom"):
        # $top = FIRST in sortBy order; $bottom = last. TIE CONTRACT
        # (r15, docstring): elements equal on the single sortBy key
        # order by their OUTPUT value in the walk direction — the
        # (key, output) ordering struct pins the pick, and null keys
        # rank below every value (BSON's rule, which the bare
        # min_by/max_by ordering column used to SKIP). Mongo leaves
        # both unspecified; this is the translator's documented
        # deterministic pick. Requires an orderable output type
        # (maps are not).
        fn = (F.min_by if (op == "$top") == (sdir == 1) else F.max_by)
        return fn(out, F.struct(key.alias("k"), out.alias("o")))
    n = int(agg["n"])
    asc = (sdir == 1) == (op == "$topN")
    # sort_array over (k, o) structs: lexicographic, so key ties order
    # by the output value in the walk direction — the same r15 tie
    # contract as $top/$bottom above, here for free
    pairs = F.sort_array(F.collect_list(F.struct(key.alias("k"),
                                                 out.alias("o"))), asc)
    sliced = F.slice(pairs, 1, n)
    if op == "$bottomN":
        # Mongo emits the bottom n IN sortBy order — the slice walked
        # from the far end, so restore the declared direction
        sliced = F.reverse(sliced)
    return F.transform(sliced, lambda x: x["o"])


def _group(df: DataFrame, spec: dict[str, Any],
           sort_spec: dict[str, Any] | None = None) -> DataFrame:
    """``$group`` compiler. ``sort_spec`` (r15) is an ABSORBED ``$sort``
    spec ({field: ±1}): when a ``$sort`` immediately precedes the
    ``$group`` (the 'latest doc per key' idiom), the caller passes its
    spec here instead of sorting the frame, and every order-sensitive
    accumulator (``$first/$last/$firstN/$lastN/$push/$mergeObjects``)
    compiles AGAINST that key — ``$first`` becomes ``$top``,
    ``$firstN`` becomes ``$topN``, ``$push`` packs comparator-sorted.
    Order-insensitive accumulators ignore it (the $sort is a no-op for
    them). This removes the global sort entirely: one shuffle, the
    sort order lives inside the aggregation buffers — the lowering
    that makes the idiom legal inside a correlated ``$lookup``, where
    a per-document $sort must never become a global one."""
    env = _root_env(df)
    gid = spec["_id"]
    ops = {next(iter(a)) for k, a in spec.items() if k != "_id"}
    order_ops = {"$first", "$last", "$firstN", "$lastN", "$mergeObjects"}
    if sort_spec is not None:
        if any("." in f for f in sort_spec):
            raise ValueError(
                "$sort before $group on a dotted path is unsupported — "
                "$addFields the value to a top-level field first")
        missing = [f for f in sort_spec if f not in df.columns]
        if missing:
            raise ValueError(
                f"$sort before $group references field(s) {missing} "
                "not present at the $group input — keep them in the "
                "$project/$addFields upstream")
    if ops & order_ops and sort_spec is None:
        # position must be MATERIALIZED before the aggregation (Spark
        # rejects non-deterministic expressions inside agg functions);
        # on a just-sorted df the id is globally monotone, so
        # min_by/max_by over it reproduce Mongo's "first/last after
        # $sort" semantics
        df = df.withColumn("__pos", F.monotonically_increasing_id())

    def sorted_elem_and_cmp(out_col):
        """(element struct carrying the sort key + payload, comparator)
        for the absorbed-sort array paths."""
        items = list(sort_spec.items())
        elem = F.struct(
            *[F.col(f).alias(f"__s{i}") for i, (f, _) in enumerate(items)],
            out_col.alias("__o"))
        cmp = _lookup_sort_cmp(
            {f"__s{i}": int(d) for i, (_, d) in enumerate(items)})
        return elem, cmp
    aggs = []
    for name, agg in spec.items():
        if name == "_id":
            continue
        (op, arg), = agg.items()
        if op == "$sum" and arg == 1:
            aggs.append(F.count(F.lit(1)).alias(name))
        elif op == "$sum":
            aggs.append(F.sum(_expr(arg, env)).alias(name))
        elif op == "$avg":
            aggs.append(F.avg(_expr(arg, env)).alias(name))
        elif op == "$min":
            aggs.append(F.min(_expr(arg, env)).alias(name))
        elif op == "$max":
            aggs.append(F.max(_expr(arg, env)).alias(name))
        elif op == "$count":
            aggs.append(F.count(F.lit(1)).alias(name))
        elif op == "$push":
            if sort_spec is not None:
                # absorbed $sort (r15): the push order is SPECIFIED —
                # Mongo's document order after the sort — so pack in
                # comparator order (key ties fall through to the
                # whole-element compare, the rank-family tie contract)
                elem, cmp = sorted_elem_and_cmp(_expr(arg, env))
                aggs.append(F.transform(
                    F.array_sort(F.collect_list(elem), cmp),
                    lambda x: x["__o"]).alias(name))
                continue
            # Mongo preserves document order; a distributed groupBy has
            # none, so pin it (sorted) — deterministic beats unspecified,
            # the $lookup convention
            aggs.append(F.sort_array(F.collect_list(_expr(arg, env)))
                        .alias(name))
        elif op == "$addToSet":
            aggs.append(F.sort_array(F.collect_set(_expr(arg, env)))
                        .alias(name))
        elif op in ("$first", "$last"):
            if sort_spec is not None:
                # absorbed $sort (r15): $first after $sort IS $top (and
                # $last is $bottom) — Mongo documents the equivalence;
                # the rank-family compiler brings its tie contract
                aggs.append(_topn_agg(
                    "$top" if op == "$first" else "$bottom",
                    {"sortBy": sort_spec, "output": arg}, env).alias(name))
                continue
            # meaningful only after $sort, same caveat as Mongo's docs
            fn = F.min_by if op == "$first" else F.max_by
            aggs.append(fn(_expr(arg, env), F.col("__pos")).alias(name))
        elif op in ("$top", "$bottom", "$topN", "$bottomN"):
            aggs.append(_topn_agg(op, arg, env).alias(name))
        elif op == "$mergeObjects":
            # accumulator form (r14): per field, the value of the LAST
            # document (in document order, i.e. after a $sort) whose
            # field is non-null — max_by over the materialized __pos,
            # null keys ignored. Rectangular deviation, documented: a
            # field that is SQL NULL counts as missing (Mongo would
            # let an explicit null overwrite; structs cannot tell the
            # two apart), so sparse per-key docs collapse to the
            # freshest non-null value per field — the idiom's actual
            # use.
            from pyspark.sql import types as ST
            inner = _expr(arg, env)
            dt = df.select(inner.alias("__mo")).schema["__mo"].dataType
            if not isinstance(dt, ST.StructType):
                raise ValueError(
                    "$mergeObjects accumulator needs a document "
                    f"(struct) expression, got {dt.simpleString()}")
            if sort_spec is not None:
                # absorbed $sort (r15): per field, the last non-null in
                # SORT order — a comparator-sorted array walked left to
                # right with a coalesce fold (x non-null wins over the
                # accumulator, so the walk ends on the last non-null).
                # Same SQL-NULL-counts-as-missing rule as the __pos
                # form below.
                elem, cmp = sorted_elem_and_cmp(inner)
                arr = F.array_sort(F.collect_list(elem), cmp)

                def last_non_null(fname):
                    # closure factory: F.aggregate's merge lambda must
                    # be EXACTLY 2-ary (PySpark introspects arity)
                    return lambda acc, x: F.coalesce(x["__o"][fname], acc)

                aggs.append(F.struct(*[
                    F.aggregate(arr, F.lit(None).cast(f.dataType),
                                last_non_null(f.name)).alias(f.name)
                    for f in dt.fields]).alias(name))
                continue
            aggs.append(F.struct(*[
                F.max_by(inner[f.name],
                         F.when(inner[f.name].isNotNull(),
                                F.col("__pos"))).alias(f.name)
                for f in dt.fields]).alias(name))
        elif op in ("$minN", "$maxN"):
            # n smallest ascending / n largest descending (Mongo order)
            aggs.append(F.slice(
                F.sort_array(F.collect_list(_expr(arg["input"], env)),
                             op == "$minN"),
                1, int(arg["n"])).alias(name))
        elif op in ("$firstN", "$lastN"):
            if sort_spec is not None:
                # absorbed $sort (r15): $firstN after $sort IS $topN
                # ($lastN is $bottomN — both emit in sortBy order,
                # Mongo's documented equivalence)
                aggs.append(_topn_agg(
                    "$topN" if op == "$firstN" else "$bottomN",
                    {"sortBy": sort_spec, "output": arg["input"],
                     "n": arg["n"]}, env).alias(name))
                continue
            # document-order head/tail via the materialized __pos key;
            # lastN keeps the original order (slice from the far end)
            pairs = F.sort_array(F.collect_list(F.struct(
                F.col("__pos").alias("k"), _expr(arg["input"], env).alias("o"))))
            n = int(arg["n"])
            sliced = (F.slice(pairs, 1, n) if op == "$firstN"
                      else F.reverse(F.slice(F.reverse(pairs), 1, n)))
            aggs.append(F.transform(sliced, lambda x: x["o"]).alias(name))
        elif op == "$stdDevPop":
            aggs.append(F.stddev_pop(_expr(arg, env)).alias(name))
        elif op == "$stdDevSamp":
            aggs.append(F.stddev_samp(_expr(arg, env)).alias(name))
        elif op in ("$median", "$percentile"):
            # Mongo 7.0 (t-digest "approximate" method); lowered to
            # Spark's EXACT distributed percentile. CONTRACT, not a
            # deviation (r15): Mongo's own docs define $percentile's
            # approximate method as returning an implementation-
            # dependent value NEAR the requested quantile; the exact
            # linear-interpolation answer is inside every t-digest
            # error envelope, deterministic (gate-able), and identical
            # at any cluster size. $percentile returns the array of
            # requested ps. The window form shares this rule.
            y = _expr(arg["input"], env)
            if op == "$median":
                aggs.append(F.percentile(y, F.lit(0.5)).alias(name))
            else:
                ps = [float(p) for p in arg["p"]]
                aggs.append(F.percentile(y, F.lit(ps)).alias(name))
        else:
            raise ValueError(f"unsupported $group accumulator: {op}")
    if gid is None:
        return df.agg(*aggs).select(F.lit(None).alias("_id"), "*")
    # a COMPOSITE _id ({a: "$x", b: {$op: ...}}) is a document literal:
    # a struct whose fields keep the document's names, so ``_id.a``
    # works downstream exactly as in Mongo
    return df.groupBy(_expr(gid, env).alias("_id")).agg(*aggs)


def _bucket(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$bucket``: left-closed [b_i, b_{i+1}) intervals over a
    monotone boundary list; ``_id`` is the bucket's LOWER bound (Mongo's
    contract), ``output`` accumulators reuse the ``$group`` compiler.
    Out-of-bounds documents take ``default`` when given, else the
    aggregation errors — Mongo's exact semantics, reproduced
    distributed via ``raise_error`` in the otherwise-branch (a planning
    -time check cannot know the data). A string ``default`` against
    numeric boundaries coerces every label to string (Mongo's _id is
    schemaless; one Spark column needs one type — documented
    deviation, value-preserving)."""
    missing = [k for k in ("groupBy", "boundaries") if k not in spec]
    if missing:
        raise ValueError(f"$bucket spec missing required "
                         f"field(s): {missing}")
    bounds = spec["boundaries"]
    # STRICTLY increasing, Mongo's rule: a duplicated boundary ([0, 10,
    # 10, 20]) would pass a sorted() check but yield an unreachable
    # empty bucket whose values silently fall to default/raise_error
    if len(bounds) < 2 or not all(a < b for a, b in zip(bounds, bounds[1:])):
        raise ValueError(
            "$bucket boundaries must be strictly increasing, length >= 2")
    gb = _expr(spec["groupBy"], _root_env(df))
    has_default = "default" in spec
    stringify = has_default and isinstance(spec["default"], str) \
        and not all(isinstance(b, str) for b in bounds)

    def lab(v):
        return F.lit(str(v) if stringify else v)

    out = F.when((gb >= F.lit(bounds[0])) & (gb < F.lit(bounds[1])),
                 lab(bounds[0]))
    for lo, hi in zip(bounds[1:-1], bounds[2:]):
        out = out.when((gb >= F.lit(lo)) & (gb < F.lit(hi)), lab(lo))
    if has_default:
        out = out.otherwise(lab(spec["default"]))
    else:
        out = out.otherwise(F.raise_error(F.lit(
            "$bucket: value outside boundaries and no default")))
    tmp = "__bucket"
    grouped = _group(df.withColumn(tmp, out),
                     {"_id": f"${tmp}",
                      **spec.get("output", {"count": {"$sum": 1}})})
    return grouped


def _fill(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$fill`` (Mongo 5.3): constant, last-observation-carried-forward
    and linear-interpolation null filling. ``value`` fills lower to
    coalesce; ``locf`` is one running ignore-nulls window; ``linear``
    brackets each null with the nearest non-null neighbors (two
    ignore-nulls windows) and interpolates on the sort key — all native
    window expressions, no self-join, no UDF. Without ``partitionBy``
    the fill needs the GLOBAL order; since r17 that no longer plans a
    single-task window when the leading sort key has a numeric image
    (numeric/date/timestamp/bool): ``_fill_partitionless`` range-buckets
    on the key, fills within buckets, and carries boundary state across
    buckets — see its docstring. Only non-orderable-to-double keys
    (strings) keep the whole-collection window + warning."""
    from pyspark.sql import Window

    env = _root_env(df)
    parts: list[Column] = []
    if spec.get("partitionBy") is not None:
        parts = [_expr(spec["partitionBy"], env)]
    elif spec.get("partitionByFields"):
        parts = [_field(c, env) for c in spec["partitionByFields"]]
    sortby = spec.get("sortBy") or {}
    order = [F.col(k).asc() if d == 1 else F.col(k).desc()
             for k, d in sortby.items()]
    methods: dict[str, str] = {}
    for name, how in spec["output"].items():
        if "." in name:
            raise ValueError(f"$fill nested output path unsupported: {name}")
        if "value" in how:
            # constant-value fills are pure coalesce — no window at all
            value = _expr(how["value"], env)
            df = df.withColumn(name, F.coalesce(F.col(name), value)
                               if name in df.columns else value)
            continue
        method = how.get("method")
        if not sortby:
            raise ValueError(f"$fill method {method!r} requires sortBy")
        if method not in ("locf", "linear"):
            raise ValueError(f"unsupported $fill method: {method!r}")
        if method == "linear" and (
                len(sortby) != 1 or next(iter(sortby.values())) != 1):
            raise ValueError("$fill linear needs a single ascending sortBy")
        methods[name] = method
    if not methods:
        return df
    _require_fields(df, [*sortby, *methods], "$fill sortBy/output")
    if not parts:
        return _fill_partitionless(df, methods, sortby, order)
    w = Window.partitionBy(*parts).orderBy(*order)
    for name, method in methods.items():
        df = _fill_one_windowed(df, name, method, w, sortby)
    return df


#: $densify/$dateAdd-style calendar steps -> (make_ym_interval years,
#: months); fixed-width steps -> make_dt_interval(days, hours, mins, secs)
_DENSIFY_DT = {"week": (7, 0, 0, 0), "day": (1, 0, 0, 0),
               "hour": (0, 1, 0, 0), "minute": (0, 0, 1, 0),
               "second": (0, 0, 0, 1), "millisecond": (0, 0, 0, 0.001)}
_DENSIFY_YM = {"year": (1, 0), "quarter": (0, 3), "month": (0, 1)}


#: fixed-width $densify units -> milliseconds (grid-count estimation)
_DENSIFY_UNIT_MS = {"week": 604_800_000, "day": 86_400_000,
                    "hour": 3_600_000, "minute": 60_000,
                    "second": 1_000, "millisecond": 1}


def _densify_grid_count(lo, hi, step, unit) -> int:
    """Upper-bound COUNT of grid points in ``[lo, hi]`` stepping by
    ``step`` ``unit``s — drives the distributed ``spark.range`` grid.
    An over-estimate is fine (the caller trims with an exact bound
    filter); an under-estimate would drop grid points, so every branch
    rounds up by a comfortable margin."""
    import datetime as _dt
    import math

    if unit is None:
        span = float(hi) - float(lo)
        return max(int(math.floor(span / float(step) + 1e-9)) + 1, 0)
    if isinstance(lo, _dt.datetime) or isinstance(lo, _dt.date):
        if unit in _DENSIFY_UNIT_MS:
            if isinstance(lo, _dt.date) and not isinstance(lo, _dt.datetime):
                span_ms = (hi - lo).days * 86_400_000.0
            else:
                span_ms = (hi - lo).total_seconds() * 1000.0
            return max(int(math.floor(
                span_ms / (step * _DENSIFY_UNIT_MS[unit]) + 1e-9)) + 1, 0)
        # calendar units: month count ignores the day/time component —
        # at most one extra step, trimmed by the caller's bound filter
        y, m = _DENSIFY_YM[unit]
        months = (hi.year - lo.year) * 12 + (hi.month - lo.month)
        return max(int(months // (step * (y * 12 + m))) + 1, 0)
    raise ValueError(
        f"$densify with unit {unit!r} needs a date/timestamp field, "
        f"got bound {type(lo).__name__}")


def _coerce_densify_bound(b, ftype):
    """Driver-side image of a ``$densify`` explicit bound: ISO-8601
    strings against date/timestamp fields parse to the matching Python
    value (the column-side twin is ``F.lit(b).cast(ftype)`` on the
    partitionByFields path — both paths accept the same specs, r17);
    any other string bound is a spec error, raised uniformly."""
    import datetime as _dt

    from pyspark.sql import types as ST

    if not isinstance(b, str):
        return b
    if isinstance(ftype, (ST.TimestampType, ST.TimestampNTZType)):
        return _dt.datetime.fromisoformat(b.replace("Z", "+00:00"))
    if isinstance(ftype, ST.DateType):
        return _dt.date.fromisoformat(b[:10])
    raise ValueError(
        f"$densify string bound {b!r} is only valid against a "
        f"date/timestamp field, got {ftype.simpleString()}")


def _densify(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$densify`` (Mongo 5.1): add rows on a fixed grid where the
    field has gaps, anti-joined against existing field values — grid
    size is data-bounded, non-field columns come back NULL (Mongo's
    behavior). Time units use interval steps (calendar units included).

    Two grid shapes, both distributed (r16):

    - WITH ``partitionByFields``: one aggregate derives per-partition
      ``[lo, hi]`` rows (global for ``bounds: "full"``, literals for
      ``[lo, hi)``) and a ``sequence`` explodes per partition row —
      parallelism = #partitions.
    - WITHOUT (whole-collection grid — q175's day-series shape): the
      bounds reduce to TWO driver scalars (explicit bounds need no
      scan at all) and the grid generates as ``spark.range(n)`` with
      ``value = lo + i*step`` — parallelism = default parallelism,
      never the single task the pre-r16 one-row explode planned. The
      count over-estimates by one step and an exact ``<= hi`` (or
      ``< hi``, half-open explicit bounds) filter trims it, so float/
      calendar edge rounding can never drop or add a grid point.
      ``lo + i*step`` equals ``sequence``'s own stepping (Spark
      multiplies, it does not accumulate — Jan 31 + 2 months is
      Mar 31, not Mar 29 via Feb)."""
    missing = [k for k in ("field", "range") if k not in spec]
    if missing:
        raise ValueError(f"$densify spec missing required "
                         f"field(s): {missing}")
    f = spec["field"]
    parts = list(spec.get("partitionByFields") or [])
    if any("." in p for p in [f, *parts]):
        raise ValueError("$densify nested field unsupported")
    rng = spec["range"]
    step, unit, bounds = rng["step"], rng.get("unit"), rng["bounds"]
    if not isinstance(step, (int, float)) or isinstance(step, bool) \
            or step <= 0:
        raise ValueError("$densify range.step must be a positive number")
    if unit is None:
        step_col = F.lit(step)
    elif unit in _DENSIFY_DT:
        d, h, m, s = (v * step for v in _DENSIFY_DT[unit])
        step_col = F.make_dt_interval(F.lit(d), F.lit(h), F.lit(m),
                                      F.lit(s))
    elif unit in _DENSIFY_YM:
        y, m = (v * step for v in _DENSIFY_YM[unit])
        step_col = F.make_ym_interval(F.lit(y), F.lit(m))
    else:
        raise ValueError(f"unsupported $densify unit: {unit!r}")
    explicit = isinstance(bounds, (list, tuple))
    _require_fields(df, [f, *parts], "$densify")
    ftype = df.schema[f].dataType
    if not parts:
        # partition-less distributed grid (r16) — see docstring
        if explicit:
            # ISO string bounds against a date/timestamp field coerce
            # driver-side (r17, ADVICE r16): the partitionByFields path
            # accepts them via lit+cast, so the partition-less
            # _densify_grid_count must too — same observable contract
            lo_v, hi_v = (_coerce_densify_bound(b, ftype)
                          for b in (bounds[0], bounds[1]))
        elif bounds == "full":
            row = df.agg(F.min(f).alias("lo"),
                         F.max(f).alias("hi")).collect()[0]  # 2 scalars
            lo_v, hi_v = row["lo"], row["hi"]
            if lo_v is None:
                return df          # empty / all-null: nothing to densify
        elif bounds == "partition":
            raise ValueError(
                "$densify bounds 'partition' needs partitionByFields")
        else:
            raise ValueError(f"unsupported $densify bounds: {bounds!r}")
        n = _densify_grid_count(lo_v, hi_v, step, unit) + 1  # over by one
        idx = F.col("id")
        lo_col = F.lit(lo_v).cast(ftype) if explicit else F.lit(lo_v)
        val = (lo_col + step_col * idx).cast(ftype)
        hi_col = F.lit(hi_v).cast(ftype) if explicit else F.lit(hi_v)
        # exact trim: half-open [lo, hi) for explicit bounds (Mongo),
        # closed for "full"
        grid = (df.sparkSession.range(max(n, 0))
                .select(val.alias(f))
                .filter(F.col(f) < hi_col if explicit
                        else F.col(f) <= hi_col))
    elif explicit:
        lo = F.lit(bounds[0]).cast(ftype)
        hi = F.lit(bounds[1]).cast(ftype)
        base = df.select(*parts).distinct().select(
            *parts, lo.alias("__lo"), hi.alias("__hi"))
        grid = base.select(*parts, F.explode(F.sequence(
            F.col("__lo"), F.col("__hi"), step_col)).alias(f))
        # Mongo's explicit bounds are half-open [lo, hi)
        grid = grid.filter(F.col(f) < hi)
    else:
        if bounds == "full":
            agg = df.agg(F.min(f).alias("__lo"), F.max(f).alias("__hi"))
            base = df.select(*parts).distinct().crossJoin(agg)
        elif bounds == "partition":
            base = df.groupBy(*parts).agg(F.min(f).alias("__lo"),
                                          F.max(f).alias("__hi"))
        else:
            raise ValueError(f"unsupported $densify bounds: {bounds!r}")
        grid = base.select(*parts, F.explode(F.sequence(
            F.col("__lo"), F.col("__hi"), step_col)).alias(f))
    # NULL-SAFE anti join: a using-columns join is null-unsafe, so rows
    # whose partitionByFields value is NULL would never match and the
    # grid would re-insert values that already exist in the null
    # partition — build the condition with eqNullSafe instead
    exist = df.select(*parts, f).dropDuplicates(parts + [f]).alias("__dex")
    galias = grid.alias("__dgr")
    cond = None
    for c in parts + [f]:
        eq = F.col(f"__dgr.{c}").eqNullSafe(F.col(f"__dex.{c}"))
        cond = eq if cond is None else cond & eq
    new_rows = galias.join(exist, cond, "left_anti")
    return df.unionByName(new_rows, allowMissingColumns=True)


def _gran_round(x: float, series: str, up: bool) -> float:
    """Preferred-number rounding, Mongo's GranularityRounder contract:
    ``up`` returns the series value STRICTLY greater than x, ``down``
    the one strictly less (a value already on a series number still
    moves to its neighbor — Mongo's rounder behaves this way so bucket
    boundaries always separate); 0 maps to 0, negatives raise (the
    documented granularity restriction)."""
    import math

    if x == 0:
        return 0.0
    if x < 0:
        raise ValueError(
            "$bucketAuto granularity requires non-negative values")
    tol = 1e-9
    if series == "POWERSOF2":
        e = math.log2(x)
        k = (math.floor(e + tol) + 1) if up else (math.ceil(e - tol) - 1)
        return float(2.0 ** k)
    base = _GRAN_SERIES[series]
    k = int(math.floor(math.log10(x)))
    cands = sorted(b * (10.0 ** p) for p in (k - 1, k, k + 1)
                   for b in base)
    if up:
        return next(c for c in cands if c > x * (1 + tol))
    prev = cands[0] / 10.0
    for c in cands:
        if c < x * (1 - tol):
            prev = c
        else:
            break
    return prev


def _bucket_auto(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$bucketAuto``: ~equal-population buckets. Boundaries are exact
    percentiles of the groupBy expression (ONE distributed sort-based
    aggregate; the driver sees only the <=N-1 boundary scalars plus the
    global min/max), then assignment is a branch-free running
    comparison — no global row_number window, so the stage scales like
    any groupBy. With ``granularity``, each percentile boundary rounds
    UP to the preferred-number series and the first bucket's min rounds
    DOWN (driver-side math on the scalars; _gran_round), ``_id`` bounds
    become the rounded series values and buckets absorb Mongo-style
    (collapsed boundaries just mean fewer buckets). Deviations,
    documented: without granularity, boundaries interpolate between
    data points (Mongo picks data values) and ``_id`` bounds are each
    bucket's observed min/max (closed), where Mongo's upper bound is
    the next bucket's lower. Null groupBy values land in the first
    bucket, as in Mongo."""
    gran = spec.get("granularity")
    if gran is not None and gran != "POWERSOF2" \
            and gran not in _GRAN_SERIES:
        raise ValueError(
            f"unsupported $bucketAuto granularity {gran!r} (supported: "
            f"{sorted(_GRAN_SERIES) + ['POWERSOF2']})")
    gb = _expr(spec["groupBy"], _root_env(df))
    n = int(spec["buckets"])
    if n < 1:
        raise ValueError("$bucketAuto needs buckets >= 1")
    row = df.select(gb.alias("__g")).agg(
        F.percentile("__g", F.lit([i / n for i in range(1, n)]))
        .alias("bs"),
        F.min("__g").alias("mn"), F.max("__g").alias("mx")).collect()[0]
    bs = sorted({b for b in (row["bs"] or []) if b is not None})
    bounds = None
    if gran is not None and row["mn"] is not None:
        lo = _gran_round(float(row["mn"]), gran, up=False)
        hi = _gran_round(float(row["mx"]), gran, up=True)
        rb = sorted({_gran_round(float(b), gran, up=True) for b in bs})
        bs = [b for b in rb if lo < b < hi]
        bounds = [lo] + bs + [hi]
    idx = F.lit(0)
    for b in bs:
        idx = idx + (gb >= F.lit(b)).cast("int")
    tmp = "__bucket_auto"
    grouped = _group(df.withColumn(tmp, F.coalesce(idx, F.lit(0))),
                     {"_id": f"${tmp}",
                      "__mn": {"$min": spec["groupBy"]},
                      "__mx": {"$max": spec["groupBy"]},
                      **spec.get("output", {"count": {"$sum": 1}})})
    if bounds is not None:
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        i = F.col("_id").cast("int")
        return grouped.select(
            F.struct(F.get(arr, i).alias("min"),
                     F.get(arr, i + 1).alias("max")).alias("_id"),
            *[c for c in grouped.columns
              if c not in ("_id", "__mn", "__mx")])
    return grouped.select(
        F.struct(F.col("__mn").alias("min"),
                 F.col("__mx").alias("max")).alias("_id"),
        *[c for c in grouped.columns if c not in ("_id", "__mn", "__mx")])


_REDACT_VARS = {"KEEP": "keep", "PRUNE": "prune", "DESCEND": "descend"}


def _redact(df: DataFrame, spec: Any) -> DataFrame:
    """``$redact``: per-document recursive access control. The
    expression evaluates at EVERY document level to ``$$KEEP`` (keep
    this subtree wholesale), ``$$PRUNE`` (drop it), or ``$$DESCEND``
    (keep this level's scalars, recurse into embedded documents and
    arrays of documents). Mongo walks runtime documents; a rectangular
    engine walks the SCHEMA once at plan time instead — the decision
    tree compiles to nested CASE/transform column expressions (codegen,
    no Python, no explode), recursion bounded by schema depth:

    - root PRUNE     -> the row filters out;
    - struct field   -> re-evaluate the expression with the subdocument
      as the field resolver's base (:func:`_field`; missing fields read
      as null, Mongo's rule): PRUNE nulls the field, KEEP passes it
      through, DESCEND rebuilds it field-by-field recursively;
    - array<struct>  -> per-element decision inside filter()+transform();
    - scalars/arrays-of-scalars under DESCEND are kept (Mongo keeps
      non-document values).

    Deviation, documented: a PRUNEd field/element becomes NULL / is
    removed from the array — a missing field and a null field are the
    same thing in a rectangular schema."""
    from pyspark.sql import types as ST

    env = {k: F.lit(v) for k, v in _REDACT_VARS.items()}

    def decision(base: Column | None, schema) -> Column:
        return _expr(spec, {**env, "__doc": (schema, base)}).cast("string")

    def rebuild(base: Column, dtype: ST.StructType) -> Column:
        """The DESCEND body for one document level: keep scalars,
        decide recursively for embedded docs and doc arrays."""
        fields = []
        for f in dtype.fields:
            col = base[f.name]
            if isinstance(f.dataType, ST.StructType):
                d = decision(col, f.dataType)
                fields.append(
                    F.when(d == "prune",
                           F.lit(None).cast(f.dataType))
                    .when(d == "descend", rebuild(col, f.dataType))
                    .otherwise(col).alias(f.name))
            elif isinstance(f.dataType, ST.ArrayType) \
                    and isinstance(f.dataType.elementType, ST.StructType):
                et = f.dataType.elementType

                def make_elem(et):
                    # factory keeps the HOF lambda single-arg —
                    # F.transform dispatches on arity, so a bound
                    # default would receive the element INDEX
                    def elem(e):
                        d = decision(e, et)
                        return (F.when(d == "prune",
                                       F.lit(None).cast(et))
                                .when(d == "descend", rebuild(e, et))
                                .otherwise(e))
                    return elem

                kept = F.filter(F.transform(col, make_elem(et)),
                                lambda e: e.isNotNull())
                fields.append(kept.alias(f.name))
            else:
                fields.append(col.alias(f.name))
        return F.struct(*fields)

    root = decision(None, df.schema)
    df = df.filter(F.coalesce(root != "prune", F.lit(False)))
    root2 = decision(None, df.schema)  # re-evaluate post-filter
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, ST.StructType) \
                or (isinstance(f.dataType, ST.ArrayType)
                    and isinstance(f.dataType.elementType, ST.StructType)):
            whole = F.struct(*[F.col(c).alias(c) for c in df.columns])
            built = rebuild(whole, df.schema)[f.name]
            cols.append(F.when(root2 == "keep", F.col(f.name))
                        .otherwise(built).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _facet(df: DataFrame, spec: dict[str, Any],
           collections: dict[str, DataFrame] | None) -> DataFrame:
    """``$facet``: N named sub-pipelines over ONE shared input, emitting
    a single document whose fields are arrays of each sub-pipeline's
    output docs. The input DataFrame is persisted so every facet reads
    the SAME materialization (one source scan + N InMemoryTableScans —
    the plan gate in tests), then each facet collapses to a one-row
    array aggregate and the single-row frames cross-join back into one
    document. Array order is pinned with sort_array (Mongo materializes
    sub-pipeline order; a distributed collect has none — deterministic
    beats unspecified, the $push/$lookup convention, so a facet ending
    in $sort is re-ordered by field value in the output array). Scale
    note: $facet output is ONE document (Mongo caps it at 16 MB) — the
    stage is for pre-aggregated dashboard shapes, and the persist cost
    is bounded by whatever $match/$project runs before it, exactly as
    in Mongo."""
    if not isinstance(spec, dict) or not spec:
        raise ValueError("$facet expects a non-empty {name: [stages]}")
    banned = {"$facet", "$merge", "$out"}
    for name, sub in spec.items():
        for st in sub:
            if set(st) & banned:
                raise ValueError(
                    f"$facet sub-pipeline {name!r} may not contain "
                    f"{sorted(set(st) & banned)} (Mongo's rule)")
    df = df.persist()
    acc = None
    for name, sub in spec.items():
        sub_df = apply_pipeline(df, sub, collections)
        one = sub_df.agg(F.sort_array(F.collect_list(F.struct(
            *[F.col(c) for c in sub_df.columns]))).alias(name))
        acc = one if acc is None else acc.crossJoin(one)
    # the facet output is ONE document by design, so materialize it
    # eagerly (cheap) and release the shared-scan cache — without this
    # every $facet pins its input in block storage for the session
    # lifetime
    acc = acc.localCheckpoint(eager=True)
    df.unpersist()
    return acc


#: $vectorSearch ANN geometry (r17). Atlas never exposes its index
#: internals, so the engine pins a deterministic analogue: random-
#: hyperplane LSH over the md5-derived Rademacher sign planes
#: (operators/similarity.py::rademacher_signs) — the same literals a
#: SQL oracle regenerates, so even the APPROXIMATE path hash-gates.
#: ``numCandidates`` buys recall by widening the probe across hash
#: tables (Atlas's own contract: more candidates → better recall).
_VS_PLANES = 4
_VS_TABLES = 8


def _vs_query_buckets(qv: list, signs: list) -> list[int]:
    """Driver-side LSH bucket ids of the LITERAL query vector, one per
    hash table. Sequential left-to-right float64 sums — the same fold
    order as the JVM ``_sign_bucket`` and a SQL oracle's
    ``list_dot_product``, so the projection SIGN (all that matters)
    agrees bit-for-bit across engines."""
    out = []
    for signs_t in signs:
        b = 0
        for j, srow in enumerate(signs_t):
            s = 0.0
            for x, sg in zip(qv, srow):
                s += float(x) * sg
            if s > 0:
                b |= 1 << j
        out.append(b)
    return out


def _refs_meta_score(v: Any) -> bool:
    """True when a stage spec references {$meta: "vectorSearchScore"}
    anywhere — decides whether $vectorSearch must carry its score
    column (__vs_score) forward and how long (dropped after the last
    referencing stage; never attached when nothing asks)."""
    if isinstance(v, dict):
        return any((k == "$meta" and x == "vectorSearchScore")
                   or _refs_meta_score(x) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return any(_refs_meta_score(x) for x in v)
    return False


def _vector_search(df: DataFrame, spec: dict[str, Any],
                   keep_score: bool) -> DataFrame:
    """``$vectorSearch`` lowered onto aggregation semantics (r17; was a
    by-design refusal). Atlas Vector Search is a managed ANN *index*,
    but its query surface — score every document's vector against a
    LITERAL query vector, optional pre-``filter``, return the top
    ``limit`` — is pure dataflow:

    - ``exact: true`` (ENN): full-scan cosine + global top-``limit``
      — one codegen'd HOF dot per row against the plan-literal unit
      query vector, collapsed to TakeOrderedAndProject (no global
      sort, no join; the only movement is the k·partitions reduce).
    - ``exact: false`` (ANN, default): deterministic LSH prefilter —
      the query vector's bucket per hash table is computed DRIVER-side
      (it is a literal), the corpus side is a map-side when-sum bucket
      test, candidates = rows sharing the query's bucket in ≥1 of the
      probed tables, exact cosine re-rank + top-``limit``. NO join
      anywhere: the ANN path is scan → filter → TakeOrdered.
      ``numCandidates`` (Mongo: required, ≥ limit, ≤ 10000) maps to
      probe breadth: ``ceil(numCandidates/limit)`` hash tables, capped
      at ``_VS_TABLES`` — wider probe, higher recall, more candidates.

    Scores use Atlas's cosine convention ``(1 + cos) / 2``; documents
    whose vector is null/absent or of a different dimensionality than
    the query are not indexed by Atlas and are skipped here the same
    way. ``index`` is accepted and ignored (names a server object; the
    engine has no index catalog). Ordering is score-descending with
    ``_id`` ascending tie-break when the frame has ``_id`` (the
    determinism convention; Mongo leaves ties unspecified).

    Divergences, documented: Atlas forbids $vectorSearch inside
    $facet/$lookup sub-pipelines — the translator accepts it wherever
    it is stage 0 of its own pipeline (a strict superset); Atlas's
    euclidean/dotProduct similarity variants are index-creation-time
    options with no stage-language surface, so cosine (the default) is
    the one implemented.

    Reference scope: the reference has no vector operations at all —
    ANN is engine-declared scope (SURVEY.md §2 similarity family).
    """
    from airflow_pipelines_from_mongo_to_postgres_spark.functions import vectors as V
    from airflow_pipelines_from_mongo_to_postgres_spark.operators.similarity import (
        _sign_bucket,
        rademacher_signs,
    )

    if not isinstance(spec, dict):
        raise ValueError("$vectorSearch expects a document spec")
    unknown = set(spec) - {"index", "path", "queryVector", "limit",
                           "numCandidates", "exact", "filter"}
    if unknown:
        raise ValueError(f"$vectorSearch unknown options: {sorted(unknown)}")
    path = spec.get("path")
    if not isinstance(path, str) or not path:
        raise ValueError("$vectorSearch requires a string 'path'")
    qv = spec.get("queryVector")
    if (not isinstance(qv, (list, tuple)) or not qv
            or not all(isinstance(x, (int, float)) for x in qv)):
        raise ValueError(
            "$vectorSearch requires a LITERAL numeric 'queryVector' "
            "(Atlas's own rule — the vector is part of the query, "
            "not an expression)")
    limit = spec.get("limit")
    if not isinstance(limit, int) or isinstance(limit, bool) or limit < 1:
        raise ValueError("$vectorSearch 'limit' must be an int >= 1")
    exact = spec.get("exact", False)
    if not isinstance(exact, bool):
        raise ValueError("$vectorSearch 'exact' must be a boolean")
    if exact and "numCandidates" in spec:
        raise ValueError(
            "$vectorSearch: 'numCandidates' and 'exact': true are "
            "mutually exclusive (Atlas's rule — ENN scans everything)")
    if not exact:
        nc = spec.get("numCandidates")
        if not isinstance(nc, int) or isinstance(nc, bool):
            raise ValueError(
                "$vectorSearch requires 'numCandidates' when exact is "
                "false (Atlas's rule)")
        if not limit <= nc <= 10000:
            raise ValueError(
                "$vectorSearch 'numCandidates' must satisfy "
                f"limit <= numCandidates <= 10000, got {nc}")

    dim = len(qv)
    qnorm = math.sqrt(sum(float(x) * float(x) for x in qv))
    if qnorm == 0.0:
        raise ValueError("$vectorSearch queryVector must be non-zero")
    q_unit = [float(x) / qnorm for x in qv]

    if "filter" in spec:
        df = df.filter(_match_cond(spec["filter"], df))
    _require_fields(df, [path], "$vectorSearch path")
    vec = F.col(path)
    # Atlas indexes only well-formed vectors of the index's dim —
    # null/missing/wrong-width rows are simply absent from the search
    df = df.filter(vec.isNotNull() & (F.size(vec) == dim))
    if not exact:
        signs = rademacher_signs(_VS_PLANES, _VS_TABLES, dim)
        tables = min(_VS_TABLES, -(-spec["numCandidates"] // limit))
        qb = _vs_query_buckets([float(x) for x in qv], signs[:tables])
        # checked=False: non-conforming vectors were dropped by the size
        # filter above (Atlas semantics — they are not indexed at all);
        # the dim assert must not appear in this plan because codegen CSE
        # hoists the bucket expression out of the combined Filter's
        # short-circuit, firing the assert on rows the size guard drops
        # (r18 fuzz finding).
        hit = None
        for t in range(tables):
            eq = _sign_bucket(V.as_double(vec), signs[t],
                              checked=False) == F.lit(qb[t])
            hit = eq if hit is None else (hit | eq)
        df = df.filter(hit)
    score = (F.lit(1.0) + V.dot(V.unit(V.as_double(vec)),
                                F.lit(q_unit))) / F.lit(2.0)
    order = [F.col("__vs_score").desc()]
    if "_id" in df.columns:
        order.append(F.col("_id").asc())
    out = (df.withColumn("__vs_score", score)
           .orderBy(*order)           # collapses to TakeOrdered with
           .limit(limit))             # the adjacent limit — no Sort
    return out if keep_score else out.drop("__vs_score")


def apply_pipeline(df: DataFrame, stages: list[dict[str, Any]],
                   collections: dict[str, DataFrame] | None = None,
                   targets: dict[str, str] | None = None
                   ) -> DataFrame:
    """Run a MongoDB aggregation pipeline against a DataFrame.

    ``collections`` resolves ``$lookup``/``$unionWith`` ``from`` names
    to DataFrames (equality localField/foreignField form, uncorrelated
    pipelines, and the correlated let+pipeline / concise forms via the
    equality-decompilation subset — see ``_correlated_lookup``).
    ``targets`` resolves terminal ``$merge``/``$out``
    collection names to snapshot-table paths (sources/snapshots.py) —
    the write actually COMMITS (the one eager point in the translator),
    and the call returns the target's post-write snapshot."""
    from pyspark.errors import AnalysisException

    try:
        return _apply_stages(df, stages, collections, targets)
    except AnalysisException as e:
        # Array-reduce singleton rule ($min/$max/$sum/$avg): a single
        # field-path/operator operand compiles to an array reduce
        # because its type is unknown until analysis — when it resolves
        # to a SCALAR, convert the raw analysis error into the
        # translator's documented ValueError with guidance. Matched on
        # the STRUCTURED errorClass + messageParameters (r17, ADVICE
        # r16): only the exact "scalar where ARRAY required" mismatch
        # converts; unrelated mismatches on the same functions (e.g.
        # non-orderable element types → INVALID_ORDERING_TYPE, or an
        # array-typed first input failing elsewhere) pass through raw.
        params = e.getMessageParameters() or {}
        sql_expr = params.get("sqlExpr", "")
        if (e.getErrorClass() == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE"
                and params.get("requiredType") == '"ARRAY"'
                and not params.get("inputType", "").startswith('"ARRAY')):
            if sql_expr.startswith(('"array_min(', '"array_max(')):
                raise ValueError(
                    "$min/$max with a single operand requires the "
                    "operand to resolve to an ARRAY (Mongo traverses "
                    "it); for a scalar, Mongo's singleton rule returns "
                    "the value itself — write the operand directly, or "
                    "use the list form {$min: [a, b, ...]} to compare "
                    f"values ({sql_expr})") from e
            if sql_expr.startswith(('"aggregate(', '"filter(',
                                    '"transform(')):
                raise ValueError(
                    "array operator requires its operand to resolve to "
                    f"an ARRAY, got {params.get('inputType', '?')} "
                    f"from {params.get('inputSql', '?')}; for a "
                    "scalar, Mongo's $sum/$avg singleton rule returns "
                    "the value itself — write the operand directly "
                    f"({sql_expr[:120]})") from e
        raise


def _apply_stages(df: DataFrame, stages: list[dict[str, Any]],
                  collections: dict[str, DataFrame] | None = None,
                  targets: dict[str, str] | None = None) -> DataFrame:
    # index of the last stage referencing {$meta: "vectorSearchScore"}
    # — the internal __vs_score column a leading $vectorSearch attached
    # is dropped right after it (and never attached when nothing asks)
    vs_drop_after: int | None = None
    for i, stage in enumerate(stages):
        if (vs_drop_after is not None and i > vs_drop_after
                and "__vs_score" in df.columns):
            df = df.drop("__vs_score")
            vs_drop_after = None
        (op, spec), = stage.items()
        if op in ("$merge", "$out"):
            if i != len(stages) - 1:
                raise ValueError(f"{op} must be the final pipeline stage")
            if "__vs_score" in df.columns:
                # internal scratch never reaches a write target
                df = df.drop("__vs_score")
            return _write_stage(df, op, spec, targets)
        if op == "$vectorSearch":
            if i != 0:
                raise ValueError(
                    "$vectorSearch must be the first pipeline stage "
                    "(Mongo's own rule)")
            refs = [j for j in range(1, len(stages))
                    if _refs_meta_score(stages[j])]
            df = _vector_search(df, spec, keep_score=bool(refs))
            vs_drop_after = refs[-1] if refs else None
            continue
        if op == "$geoNear":
            if i != 0:
                raise ValueError(
                    "$geoNear must be the first pipeline stage (Mongo's "
                    "own rule)")
            df = _geo_near(df, spec)
        elif op == "$match":
            df = df.filter(_match_cond(spec, df))
        elif op == "$project":
            df = _project(df, spec)
        elif op == "$unwind":
            if isinstance(spec, str):
                path, preserve, idx = spec[1:], False, None
            else:
                path = spec["path"][1:]
                preserve = bool(spec.get("preserveNullAndEmptyArrays", False))
                idx = spec.get("includeArrayIndex")
            fn = F.explode_outer if preserve else F.explode
            if _field_type(df.schema, path) is None:
                # missing: no rows, or (preserved) the rows with null index
                if not preserve:
                    df = df.filter(F.lit(False))
                elif idx:
                    df = df.withColumn(idx, F.lit(None).cast("long"))
            elif "." in path:
                if idx:
                    raise ValueError(
                        "$unwind includeArrayIndex with a nested path "
                        "is unsupported — $unwind the top-level array")
                # Mongo replaces the nested field IN PLACE. explode is a
                # generator (must sit in a top-level projection), so
                # explode into a temp column first, then graft the element
                # back into the struct with withField and drop the temp.
                top, rest = path.split(".", 1)
                tmp = "__unwound"
                df = (df.withColumn(tmp, fn(F.col(path)))
                      .withColumn(top,
                                  F.col(top).withField(rest, F.col(tmp)))
                      .drop(tmp))
            elif idx:
                # includeArrayIndex: posexplode emits (pos, value);
                # Mongo's index is a LONG, null on preserved null/empty
                # rows — posexplode_outer's null pos matches exactly
                pfn = F.posexplode_outer if preserve else F.posexplode
                others = [c for c in df.columns if c != path]
                df = df.select(*others,
                               pfn(F.col(path)).alias(idx, path))
                df = df.select(*others, path,
                               F.col(idx).cast("long").alias(idx))
            else:
                df = df.withColumn(path, fn(F.col(path)))
        elif op in ("$addFields", "$set"):
            # Mongo evaluates EVERY expression of one stage against the
            # stage-INPUT document — a later field's $$ROOT (or bare
            # ref) must not see earlier assignments in the same stage —
            # so compute the env once, build all value columns against
            # the input frame, and apply them in a single select.
            env0 = _root_env(df)
            assigns: dict[str, Column] = {}  # top-level name -> value
            nested: list[tuple[str, str, Column]] = []
            for name, v in spec.items():
                if "." in name:
                    # Mongo sets the NESTED field in place. withColumn
                    # would mint a top-level column literally named
                    # "a.b" — silent divergence — so graft via
                    # withField when the parent struct exists and fail
                    # loudly otherwise (Mongo would create intermediate
                    # documents; a rectangular engine needs the parent
                    # declared). Deviation: a NULL parent document stays
                    # NULL (withField semantics) where Mongo creates it.
                    top, restpath = name.split(".", 1)
                    from pyspark.sql import types as ST
                    if not isinstance(_field_type(df.schema, top),
                                      ST.StructType):
                        raise ValueError(
                            f"$addFields nested path {name!r} needs an "
                            f"existing struct column {top!r}")
                    nested.append((top, restpath, _expr(v, env0)))
                else:
                    assigns[name] = _expr(v, env0)
            cols = []
            for c in df.columns:
                colv = assigns.pop(c, F.col(c))
                for top, restpath, val in nested:
                    if top == c:
                        colv = colv.withField(restpath, val)
                cols.append(colv.alias(c))
            cols.extend(v.alias(n) for n, v in assigns.items())
            df = df.select(*cols)
        elif op == "$group":
            # inside a correlated $lookup, a mid-pipeline $sort rides
            # as the __rn rank (lookup._lower_mid_sort_limit) — a
            # following $group's order-sensitive accumulators absorb
            # it, Mongo's '$sort then $group $first' contract.
            # Top-level frames never carry __rn.
            df = _group(df, spec, sort_spec=(
                {"__rn": 1} if "__rn" in df.columns else None))
        elif op == "$sort":
            keys = [_field(k, {"__doc": (df.schema, None)}) for k in spec]
            df = df.orderBy(*[c.asc() if d == 1 else c.desc()
                              for c, d in zip(keys, spec.values())])
        elif op == "$limit":
            # Mongo: 'the limit must be positive' (r16 — matches the
            # $lookup sub-pipeline validation)
            if int(spec) < 1:
                raise ValueError("$limit must be a positive integer")
            df = df.limit(int(spec))
        elif op == "$skip":
            if int(spec) < 0:
                raise ValueError("$skip must be non-negative")
            df = df.offset(int(spec))
        elif op == "$documents":
            # collectionless literal source (Mongo: first stage of a
            # db.aggregate([...]) without a collection) — replaces the
            # incoming frame with inline rows; expression values are
            # not supported (literals only, the common test-data shape)
            if i != 0:
                raise ValueError("$documents must be the first stage")
            if not isinstance(spec, list) or not spec or \
                    not all(isinstance(d, dict) for d in spec):
                raise ValueError(
                    "$documents expects a non-empty array of documents")
            df = df.sparkSession.createDataFrame(spec)
        elif op == "$redact":
            df = _redact(df, spec)
        elif op == "$sample":
            # pseudo-random size docs (Mongo's reservoir sample):
            # rand-keyed orderBy+limit compiles to TakeOrdered — each
            # partition keeps its local top-k by the random key, ONE
            # merge of k-row heads, never a full shuffle/sort. Result
            # set is random per run, like Mongo's.
            df = df.orderBy(F.rand()).limit(int(spec["size"]))
        elif op == "$count":
            df = df.agg(F.count(F.lit(1)).alias(str(spec)))
        elif op == "$sortByCount":
            # sugar for $group{_id, count:$sum 1} + $sort{count:-1};
            # Mongo leaves count-ties unordered — pinned by _id (the
            # $lookup/$push determinism convention)
            df = (df.groupBy(_expr(spec, _root_env(df)).alias("_id"))
                  .agg(F.count(F.lit(1)).alias("count"))
                  .orderBy(F.col("count").desc(), F.col("_id")))
        elif op in ("$replaceRoot", "$replaceWith"):
            root = spec["newRoot"] if op == "$replaceRoot" else spec
            # translator-internal __ columns ride through the root
            # swap (r15, same rule as $project) — user fields cannot
            # collide with the __ namespace
            internal = [c for c in df.columns if c.startswith("__")]
            df = (df.select(_expr(root, _root_env(df)).alias("__root"),
                            *[F.col(c) for c in internal])
                  .select("__root.*", *internal))
        elif op == "$unionWith":
            if isinstance(spec, str):
                cname, sub = spec, []
            else:
                cname, sub = spec["coll"], spec.get("pipeline", [])
            if not collections or cname not in collections:
                raise ValueError(
                    f"$unionWith needs collections={{{cname!r}: "
                    "DataFrame}} passed to apply_pipeline")
            other = apply_pipeline(collections[cname], sub, collections)
            # Mongo unions heterogeneous documents; absent fields are
            # missing -> NULL on the rectangular side
            df = df.unionByName(other, allowMissingColumns=True)
        elif op == "$bucket":
            df = _bucket(df, spec)
        elif op == "$bucketAuto":
            df = _bucket_auto(df, spec)
        elif op == "$facet":
            df = _facet(df, spec, collections)
        elif op == "$unset":
            names = [spec] if isinstance(spec, str) else list(spec)
            dotted = [k for k in names if "." in k]
            if dotted:
                # DataFrame.drop ignores nested fields — a dotted unset
                # would silently SURVIVE where Mongo removes it
                raise ValueError(
                    f"$unset of nested paths is unsupported: {dotted}")
            df = df.drop(*[c for c in names if c in df.columns])
        elif op == "$fill":
            df = _fill(df, spec)
        elif op == "$densify":
            df = _densify(df, spec)
        elif op == "$graphLookup":
            df = _graph_lookup(df, spec, collections)
        elif op == "$setWindowFields":
            df = _set_window_fields(df, spec)
        elif op == "$lookup":
            if not collections or spec["from"] not in collections:
                raise ValueError(
                    f"$lookup needs collections={{{spec.get('from')!r}: "
                    "DataFrame}} passed to apply_pipeline")
            if "let" in spec or ("pipeline" in spec
                                 and "localField" in spec):
                df = _correlated_lookup(df, spec, collections)
                continue
            if "pipeline" in spec:
                # UNCORRELATED subquery attach (Mongo: no let, pipeline
                # references no outer fields): run the sub-pipeline
                # once, pack its rows into ONE sorted array row, and
                # broadcast-attach it to every document — the Spark
                # analogue of Mongo caching the uncorrelated result.
                # Size caveat as in Mongo: the array lands in every
                # output doc, so the sub-pipeline should aggregate.
                sub = apply_pipeline(collections[spec["from"]],
                                     spec["pipeline"], collections)
                packed = sub.agg(F.sort_array(F.collect_list(
                    F.struct(*[F.col(c) for c in sub.columns])))
                    .alias(spec["as"]))
                df = df.crossJoin(F.broadcast(packed))
                continue
            foreign = collections[spec["from"]]
            local, ff, out = (spec["localField"], spec["foreignField"],
                              spec["as"])
            # a missing key reads as null: it matches nothing (below)
            fkey = _field(ff, {"__doc": (foreign.schema, None)})
            from pyspark.sql import types as ST
            ltype = _field_type(df.schema, local)
            if isinstance(ltype, ST.ArrayType):
                # Mongo's ARRAY localField matches foreign docs whose
                # foreignField equals ANY element, each matching doc
                # once (r17; was a refusal). Distributed lowering needs
                # a stable per-row identity to explode and regroup on:
                # Mongo's own ``_id`` (uniqueness is the collection
                # invariant Mongo itself enforces — assumed here, not
                # re-checked: a verify pass would cost one extra
                # aggregation over the data; duplicate ``_id`` rows
                # would share a merged match-set). The outer frame
                # itself never fans out:
                #   1. (_id, element) pairs via explode — empty/null
                #      arrays vanish here and come back as [] in 3.
                #   2. equi-join the pairs against the foreign side,
                #   3. re-pack per _id with collect_SET (a doc matching
                #      two elements lands once) + sort_array (Mongo
                #      leaves order unspecified; determinism
                #      convention), left-joined back — misses get [].
                # NULL elements never match (null-unsafe equi-join) —
                # the same null contract as the scalar-key path below.
                if "_id" not in df.columns:
                    raise ValueError(
                        f"$lookup localField {local!r} is an array and "
                        "the frame has no _id column to regroup on: "
                        "$unwind it first, $lookup on the element, "
                        "then $group the matches back (Mongo's "
                        "any-element match semantics)")
                pairs = df.select(F.col("_id").alias("__li"),
                                  F.explode(local).alias("__lk"))
                matched = pairs.join(
                    foreign, F.col("__lk") == fkey).drop("__lk")
                packs = (matched
                         .groupBy("__li")
                         .agg(F.sort_array(F.collect_set(
                             F.struct(*foreign.columns))).alias(out)))
                empty = F.array().cast(packs.schema[out].dataType)
                df = (df.join(packs, F.col("_id") == F.col("__li"),
                              "left")
                      .drop("__li")
                      .withColumn(out, F.coalesce(F.col(out), empty)))
                continue
            # Pack the foreign side to ONE array row per key FIRST, then
            # a single left equi join — the local side never fans out
            # and regroups (Mongo's per-doc subarray semantics with one
            # shuffle on each side; a small foreign side broadcasts).
            # sort_array pins the array order (Mongo leaves it
            # unspecified; deterministic beats unspecified for gating).
            packed = (foreign
                      .groupBy(fkey.alias("__lk"))
                      .agg(F.sort_array(F.collect_list(
                          F.struct(*foreign.columns))).alias(out)))
            empty = F.array().cast(packed.schema[out].dataType)
            lkey = _field(local, {"__doc": (df.schema, None)})
            df = (df.join(packed, lkey == F.col("__lk"), "left")
                  .drop("__lk")
                  .withColumn(out, F.coalesce(F.col(out), empty)))
        else:
            if op in UNSUPPORTED_STAGES:
                raise UnsupportedMongoStage(
                    f"{op} is unsupported by design: "
                    f"{UNSUPPORTED_STAGES[op]} (full table: "
                    "sources/mongoql/errors.py::UNSUPPORTED_STAGES, "
                    "README 'Unsupported Mongo stages')")
            raise ValueError(f"unsupported pipeline stage: {op}")
    if vs_drop_after is not None and "__vs_score" in df.columns:
        # the last consumer of the $vectorSearch score was the final
        # stage — the internal column still never leaves the pipeline
        df = df.drop("__vs_score")
    return df
