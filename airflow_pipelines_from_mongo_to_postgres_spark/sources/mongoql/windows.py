"""``$setWindowFields`` — the window-function family: rank/shift/
locf/linearFill/derivative/integral/$expMovingAvg, documents and
range frames incl. time-unit and calendar-month ranges — plus the
whole-collection-window warning shared with $fill/$densify and the
double-cast sort-key helper. Split from sources/mongoql.py in r15."""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.expr import (
    _expr,
    _field_type,
    _require_fields,
    _root_env,
)


_WF_RANK = {"$rank": F.rank, "$denseRank": F.dense_rank,
            "$documentNumber": F.row_number}


def _wf_bound(v, lower: bool, scale_ms: int | None = None):
    from pyspark.sql import Window

    if v == "unbounded":
        return Window.unboundedPreceding if lower \
            else Window.unboundedFollowing
    if v == "current":
        return Window.currentRow
    if scale_ms is not None:
        # time-unit range bound: N units -> milliseconds on the epoch-ms
        # order key (fixed-width units only; rounding covers fractional
        # bound values like 1.5 hours)
        return int(round(float(v) * scale_ms))
    return int(v)


#: Fixed-width $setWindowFields range units -> milliseconds.
_WF_UNIT_MS = {"week": 604_800_000, "day": 86_400_000,
               "hour": 3_600_000, "minute": 60_000,
               "second": 1_000, "millisecond": 1}

#: Calendar $setWindowFields range units -> months. These have no fixed
#: millisecond width; they lower onto a months-since-epoch sort key
#: instead (see the calendar branch in _set_window_fields).
_WF_UNIT_MONTHS = {"month": 1, "quarter": 3, "year": 12}


def _wf_month_bound(v, lower: bool, scale: int):
    from pyspark.sql import Window

    if v == "unbounded":
        return Window.unboundedPreceding if lower \
            else Window.unboundedFollowing
    if v == "current":
        return Window.currentRow
    if float(v) != int(v):
        raise ValueError(
            f"calendar range bound must be an integer, got {v!r}")
    return int(v) * scale


def _warn_whole_collection_window(df: DataFrame, stage: str) -> None:
    """A window/series stage without ``partitionBy`` is Mongo's own
    whole-collection semantics — correct, but it lowers to a
    SINGLE-partition plan (Spark logs ``WindowExec: No Partition
    Defined``): one task holds the entire collection, a silent
    bottleneck at scale. Warn by default, naming the stage; set the
    session conf ``spark.mongoql.strictWholeCollectionWindow=true``
    to raise instead (opt-in for pipelines that must never plan a
    one-task stage)."""
    import warnings

    strict = str(df.sparkSession.conf.get(
        "spark.mongoql.strictWholeCollectionWindow", "false"))
    msg = (f"{stage} without partitionBy runs as ONE task over the "
           "whole collection (single-partition window) — fine for "
           "small frames, a scale bottleneck otherwise; add "
           "partitionBy, or set "
           "spark.mongoql.strictWholeCollectionWindow=true to make "
           "this an error")
    if strict.lower() == "true":
        raise ValueError(msg)
    warnings.warn(msg, stacklevel=3)


def _range_bucket(df: DataFrame, field: str,
                  ascending: bool = True) -> Column | None:
    """Range-bucket assignment on a sort field's numeric image — the
    shared first step of the distributed whole-collection lowerings
    (``$fill`` r17, partition-less ``$setWindowFields`` r17): ONE
    ``percentile_approx`` aggregation yields ≤ B-1 boundary scalars
    (bounded collect), and the bucket id is a pure column expression
    (count of boundaries ≤ key) — deterministic BY VALUE, so full
    sort-key tie groups can never straddle buckets. NULL keys bucket to
    the walk's null end (first bucket ascending, last descending —
    Spark's asc=nulls-first/desc=nulls-last contract).

    STRING keys bucket on a monotone 6-byte-prefix image (r17): Spark
    compares strings bytewise on their UTF-8 encoding, so the
    big-endian integer of the first 6 bytes (48 bits — exact in a
    double) is order-monotone NON-strictly — strings sharing a prefix
    collapse to one image value, which can only merge a value group
    into one bucket, never split it across two: exactly the assignment
    property required (prefix-heavy data degrades to fewer effective
    buckets — skew, not wrongness). Returns ``None`` only for fields
    with no orderable scalar image (binary, arrays, structs) — callers
    fall back to the warned single-window path."""
    from pyspark.sql import types as ST

    ktype = _field_type(df.schema, field)
    if isinstance(ktype, ST.StringType):
        keyd = F.conv(F.rpad(F.substring(
            F.hex(F.encode(F.col(field), "UTF-8")), 1, 12), 12, "0"),
            16, 10).cast("double")
    elif not isinstance(ktype, (ST.NumericType, ST.DateType,
                                ST.TimestampType, ST.TimestampNTZType,
                                ST.BooleanType)):
        return None
    else:
        keyd = _sort_key_double(df, field)
    knorm = keyd if ascending else -keyd
    nb = max(2, min(int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200") or "200"), 64))
    row = df.agg(F.percentile_approx(
        knorm, F.lit([i / nb for i in range(1, nb)]),
        F.lit(10_000)).alias("b")).collect()[0]  # ≤ nb-1 scalars
    bnds = sorted({float(b) for b in (row["b"] or []) if b is not None})
    if bnds:
        # count of boundaries ≤ key as a LAMBDA-FREE when-sum (≤ 63
        # terms, whole-stage codegen). A filter() HOF here once shared
        # its lambda-variable exprId across the lowering's self-join
        # subtrees, which let InferFiltersFromConstraints map the
        # left side's bucket expression onto the right and push an
        # unbindable cross-side filter (runtime
        # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) — plain comparisons
        # cannot alias across the join.
        terms = [F.when(knorm >= F.lit(b), 1).otherwise(0) for b in bnds]
        bucket = terms[0]
        for t in terms[1:]:
            bucket = bucket + t
    else:
        bucket = F.lit(0)  # empty / all-null key: one bucket
    null_bucket = 0 if ascending else len(bnds)
    return F.when(keyd.isNull(), F.lit(null_bucket)).otherwise(bucket)


#: ops _swf_partitionless distributes (the prefix-scan family); every
#: other op / frame shape falls back to the warned single window
_SWF_PREFIX_OPS = ("$sum", "$avg", "$min", "$max", "$count")


def _swf_partitionless(df: DataFrame,
                       spec: dict[str, Any]) -> DataFrame | None:
    """Distributed partition-less ``$setWindowFields`` (r17) for the
    PREFIX-SCAN shapes — the classic two-pass distributed scan:

    - rank family (``$rank``/``$denseRank``/``$documentNumber``),
    - running accumulators (``$sum/$avg/$min/$max/$count`` over
      ``documents: ["unbounded", "current"]``),
    - whole-collection accumulators (same ops, no window or
      ``["unbounded", "unbounded"]``),
    - ``$shift`` (lead/lag): in-bucket lead/lag plus edge stitching —
      each bucket's first/last |by| values ride the summary, neighbour
      streams concatenate in bucket order, and edge rows index into
      them (``default`` applies ONLY past the collection ends; a null
      target value passes through, Mongo's lead/lag contract).

    Same skeleton as ``$fill``'s r17 lowering: ``_range_bucket`` on the
    LEADING sort key (ties can't straddle buckets, so in-bucket ranks
    and running aggregates are globally correct after a carry),
    in-bucket windows behind ONE hash exchange, a groupBy on the bucket
    id that reuses that exchange (each bucket reduces to its row count,
    distinct-sort-tuple count and per-output totals), a carry window
    over the ≤ B summary rows, and a broadcast join back:

    - ``$documentNumber``/``$rank`` add the preceding buckets' ROW
      count (all preceding-bucket rows sort strictly before, ties are
      in-bucket by construction);
    - ``$denseRank`` adds the preceding buckets' DISTINCT-tuple count
      (a tuple value never spans two buckets);
    - running ``$sum`` adds the preceding buckets' totals (NULL iff
      both legs are NULL — exactly the single-window Spark sum's
      all-null-prefix contract); ``$min/$max`` combine via
      least/greatest (null-skipping); ``$avg`` divides combined sums
      by combined non-null counts (try_divide: empty → null).

    The gap-fillers ``$locf``/``$linearFill`` (q179's shape) also
    distribute: the output column materializes as the input expression
    and rides the SAME machinery as the ``$fill`` stage
    (``_fill_partitionless`` — identical math, so the per-output window
    form and the stage form stay value-twins by construction).

    FINITE documents frames (``[a, b]``, both ints/"current" — moving
    averages and friends) also distribute (r17 "mid"): the in-bucket
    framed window handles a row's own bucket (Spark clips at the
    edge), and each bucket ships its first ``b`` / last ``|a|``
    sort-ordered values into the bucket summary; the carry flattens
    the FOLLOWING (resp. PRECEDING) buckets' streams in bucket order,
    and each edge row takes a contiguous slice — correct across
    MULTI-bucket frame spans by induction (a bucket smaller than the
    frame contributes itself whole, so the flattened stream's first
    ``b``/last ``|a|`` elements equal the true global neighbour rows).
    The combine is null-aware per op (sum/avg fold in the local
    aggregate's result type; min/max via least/greatest + array_min/
    array_max; count adds slice sizes).

    HALF-OPEN documents frames containing the current row
    (``["unbounded", b>0]`` / ``[a<=0, "unbounded"]``) compose the two
    machineries (r17 "pre"/"suf"): the in-bucket window's value at the
    bucket's far end IS the bucket total (the finite bound clips
    inward), so max_by/min_by extracts the closed-side totals carry
    from the same window pass, and the open side's finite reach rides
    a mid-style halo slice.

    The POSITION operators ``$first``/``$last`` (late r17) cover the
    same frame family: a closed-start ``$first`` (run/whole/pre) is
    the GLOBAL first document's value — the first bucket's min_by
    struct (struct-wrapped so a NULL first value stays
    distinguishable from "no preceding bucket"); symmetric for
    closed-end ``$last``; finite reaches index the halo slices with
    size-guarded ``element_at`` (ANSI bounds), preferring the slice on
    the frame-start (``$first``) / frame-end (``$last``) side over the
    in-bucket framed first/last.

    Returns ``None`` when any output needs a shape outside these
    families (range frames, ``["unbounded", b<0]`` / ``[a>0,
    "unbounded"]`` — their prefix would need row subtraction, not
    decomposable for min/max; flip the sort direction to express
    them, …) — the caller falls back to the warned single-window
    path. Float running sums may
    differ from the single window by reassociation ulps (the carry adds
    bucket partials first); gated queries use the DECIMAL sum
    discipline, where both paths are exact."""
    from pyspark.sql import Window

    sortby = spec.get("sortBy") or {}
    if not sortby:
        return None
    env = _root_env(df)
    k1, d1 = next(iter(sortby.items()))
    tasks: list[tuple[str, str, Any, str]] = []
    fills: dict[str, tuple[str, Any]] = {}
    for name, wspec0 in spec["output"].items():
        if "." in name or not isinstance(wspec0, dict):
            return None                    # main path raises its error
        wspec = dict(wspec0)
        frame = wspec.pop("window", None)
        if len(wspec) != 1:
            return None
        (op, arg), = wspec.items()
        if op in _WF_RANK:
            if frame is not None:
                return None
            tasks.append((name, op, arg, "rank"))
            continue
        if op in ("$locf", "$linearFill"):
            if frame is not None:
                return None                # main path raises its error
            if op == "$linearFill" and (
                    len(sortby) != 1 or next(iter(sortby.values())) != 1):
                return None                # main path raises its error
            fills[name] = ("locf" if op == "$locf" else "linear", arg)
            continue
        if op == "$shift":
            if frame is not None or not isinstance(arg, dict) \
                    or "output" not in arg:
                return None
            tasks.append((name, op, arg, "shift"))
            continue
        if op in _SWF_PREFIX_OPS or op in ("$first", "$last"):
            if frame is None:
                mode = "whole"
            elif (isinstance(frame, dict) and list(frame) == ["documents"]
                  and isinstance(frame["documents"], (list, tuple))):
                b = list(frame["documents"])
                if b in (["unbounded", "current"], ["unbounded", 0]):
                    mode = "run"
                elif b == ["unbounded", "unbounded"]:
                    mode = "whole"
                else:
                    # "current" is 0; ints stay ints
                    bb = [0 if x == "current" else x for x in b]

                    def _i(x):
                        return isinstance(x, int) and not isinstance(x, bool)
                    if len(bb) != 2:
                        return None
                    if _i(bb[0]) and _i(bb[1]) and bb[0] <= bb[1]:
                        # FINITE frame [a, b] — r17 "mid" halo lowering
                        mode = "mid"
                        arg = (arg, bb[0], bb[1])
                    elif (bb[0] == "unbounded" and _i(bb[1])
                          and bb[1] > 0):
                        # ["unbounded", b>0] — prefix carry + forward
                        # halo (r17 "pre"; b=0 is "run" above). b<0
                        # would need subtracting the trailing rows from
                        # the prefix — not decomposable for min/max —
                        # and stays on the warned fallback
                        mode = "pre"
                        arg = (arg, bb[1])
                    elif (bb[1] == "unbounded" and _i(bb[0])
                          and bb[0] <= 0):
                        # [a<=0, "unbounded"] — suffix carry + backward
                        # halo (r17 "suf"); a>0 stays on the fallback
                        mode = "suf"
                        arg = (arg, bb[0])
                    else:
                        return None
            else:
                return None
            tasks.append((name, op, arg, mode))
            continue
        return None
    bucket = _range_bucket(df, k1, d1 == 1)
    if bucket is None:
        return None

    order = [F.col(k).asc() if d == 1 else F.col(k).desc()
             for k, d in sortby.items()]
    orig_cols = list(df.columns)
    if fills:
        # materialize each output as its input expression, then fill in
        # place through the $fill stage's distributed machinery
        for name, (method, arg) in fills.items():
            df = df.withColumn(name, _expr(arg, env))
        df = _fill_partitionless(
            df, {n: m for n, (m, _) in fills.items()}, sortby, order)
        if not tasks:
            return df.select(*orig_cols,
                             *[n for n in spec["output"]
                               if n not in orig_cols])
        env = _root_env(df)
    dfb = df.withColumn("__swfb", bucket)
    w = Window.partitionBy("__swfb").orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    dfb = dfb.withColumn("__swfrn", F.row_number().over(w))
    aggs = [F.count(F.lit(1)).alias("__rows"),
            F.count_distinct(F.struct(
                *[F.col(k) for k in sortby])).alias("__dense")]
    drop = ["__swfb", "__swfrn"]
    if any(m in ("shift", "mid", "pre", "suf") for *_, m in tasks):
        # bucket row count (whole-partition frame, same exchange) —
        # edge-row detection for the $shift stitching and the mid-frame
        # halo slices
        dfb = dfb.withColumn("__swfcnt", F.count(F.lit(1)).over(
            Window.partitionBy("__swfb")))
        drop.append("__swfcnt")
    for i, (name, op, arg, mode) in enumerate(tasks):
        if mode == "rank":
            continue
        if mode == "shift":
            by = int(arg.get("by", 1))
            k = abs(by)
            if k == 0:
                continue                   # identity — final pass only
            x = _expr(arg["output"], env)
            dfb = dfb.withColumn(
                f"__sh{i}", (F.lead if by > 0 else F.lag)(x, k).over(w))
            drop.append(f"__sh{i}")
            # the bucket's first (lead) / last (lag) k values, in order
            # — struct-wrapped so NULL values survive collect_list; the
            # comparator sorts on the row number alone, so the value
            # type never needs to be orderable
            edge = (F.col("__swfrn") <= k) if by > 0 \
                else (F.col("__swfrn") > F.col("__swfcnt") - k)
            pair = F.when(edge, F.struct(F.col("__swfrn").alias("r"),
                                         x.alias("v")))
            aggs.append(F.transform(
                F.array_sort(F.collect_list(pair),
                             lambda a, b: (a["r"] - b["r"]).cast("int")),
                lambda s: s["v"]).alias(f"__e{i}"))
            continue
        if op in ("$first", "$last") and mode in ("whole", "run"):
            # POSITION ops, closed-start frames (r17): $first over
            # run/whole IS the global first document's value — carried
            # as the first bucket's min_by struct (struct-wrapped so a
            # NULL first value survives and stays distinguishable from
            # "no preceding bucket"); $last over run is the current
            # row itself (final pass only); $last over whole is the
            # last bucket's max_by struct.
            x = _expr(arg, env)
            sv = F.struct(x.alias("v"))
            if op == "$first":
                aggs.append(F.min_by(sv, F.col("__swfrn"))
                            .alias(f"__bf{i}"))
                if mode == "run":
                    dfb = dfb.withColumn(f"__s{i}", F.first(x).over(
                        w.rowsBetween(Window.unboundedPreceding, 0)))
                    drop.append(f"__s{i}")
            elif mode == "whole":
                aggs.append(F.max_by(sv, F.col("__swfrn"))
                            .alias(f"__bl{i}"))
            continue
        if mode == "mid":
            # FINITE documents frame [lo, hi] — in-bucket framed
            # aggregate (Spark clips at the bucket edge) + edge-value
            # streams: each bucket ships its first min(hi, cnt) rows
            # toward PRECEDING buckets and last min(|lo|, cnt) rows
            # toward FOLLOWING ones. The flattened neighbour stream's
            # first hi (last |lo|) elements equal the true global
            # neighbour rows BY INDUCTION (a bucket smaller than the
            # frame contributes itself whole, so the concatenation is
            # a prefix/suffix of the true row stream) — multi-bucket
            # frame spans are handled with no extra machinery.
            arg0, flo, fhi = arg
            x = F.lit(1) if op == "$count" else _expr(arg0, env)
            fw = w.rowsBetween(flo, fhi)
            if op == "$count":
                dfb = dfb.withColumn(f"__s{i}", F.count(F.lit(1)).over(fw))
            elif op == "$avg":
                dfb = (dfb.withColumn(f"__s{i}", F.sum(x).over(fw))
                       .withColumn(f"__n{i}", F.count(x).over(fw)))
                drop.append(f"__n{i}")
            else:
                dfb = dfb.withColumn(
                    f"__s{i}", getattr(F, op[1:])(x).over(fw))
            drop.append(f"__s{i}")
            # stream values carry the LOCAL aggregate's result type so
            # the post-join fold widens exactly like the window did
            # (int $sum -> long, etc.); $count streams are 1-literals
            # (only slice SIZES are consumed)
            stype = dfb.schema[f"__s{i}"].dataType
            xs = F.lit(1) if op == "$count" else x.cast(stype)
            if fhi > 0:
                edge = F.col("__swfrn") <= fhi
                pair = F.when(edge, F.struct(
                    F.col("__swfrn").alias("r"), xs.alias("v")))
                aggs.append(F.transform(
                    F.array_sort(F.collect_list(pair),
                                 lambda a, b: (a["r"] - b["r"]).cast("int")),
                    lambda s: s["v"]).alias(f"__en{i}"))
            if flo < 0:
                edge = F.col("__swfrn") > F.col("__swfcnt") + flo
                pair = F.when(edge, F.struct(
                    F.col("__swfrn").alias("r"), xs.alias("v")))
                aggs.append(F.transform(
                    F.array_sort(F.collect_list(pair),
                                 lambda a, b: (a["r"] - b["r"]).cast("int")),
                    lambda s: s["v"]).alias(f"__ep{i}"))
            continue
        if mode in ("pre", "suf"):
            # HALF-OPEN documents frame containing the current row:
            # ["unbounded", b>0] ("pre") / [a<=0, "unbounded"] ("suf").
            # In-bucket window + the run/whole-style TOTALS carry on
            # the closed side + a mid-style halo stream on the open
            # side's finite reach. The in-bucket window at the bucket's
            # far end covers the WHOLE bucket (the finite bound points
            # inward-clipped), so max_by/min_by on the row number
            # extracts exact bucket totals from the same window pass.
            arg0, fin = arg
            x = F.lit(1) if op == "$count" else _expr(arg0, env)
            fw = (w.rowsBetween(Window.unboundedPreceding, fin)
                  if mode == "pre"
                  else w.rowsBetween(fin, Window.unboundedFollowing))
            pick = F.max_by if mode == "pre" else F.min_by
            if op in ("$first", "$last"):
                # position ops: the totals column must be the bucket's
                # FIRST (for $first — the in-bucket window's value at
                # rn=1) or LAST (rn=cnt) framed value, whatever the
                # frame side; the carry reads it with first/last over
                # the ordered summary (works for any value type)
                pick = F.min_by if op == "$first" else F.max_by
            if op == "$count":
                dfb = dfb.withColumn(f"__s{i}", F.count(F.lit(1)).over(fw))
            elif op == "$avg":
                dfb = (dfb.withColumn(f"__s{i}", F.sum(x).over(fw))
                       .withColumn(f"__n{i}", F.count(x).over(fw)))
                aggs.append(pick(F.col(f"__n{i}"),
                                 F.col("__swfrn")).alias(f"__tn{i}"))
                drop.append(f"__n{i}")
            else:
                dfb = dfb.withColumn(
                    f"__s{i}", getattr(F, op[1:])(x).over(fw))
            aggs.append(pick(F.col(f"__s{i}"),
                             F.col("__swfrn")).alias(f"__t{i}"))
            drop.append(f"__s{i}")
            stype = dfb.schema[f"__s{i}"].dataType
            xs = F.lit(1) if op == "$count" else x.cast(stype)
            if mode == "pre":
                edge = F.col("__swfrn") <= fin
            else:
                edge = F.col("__swfrn") > F.col("__swfcnt") + fin
            if (mode == "pre") or fin < 0:
                pair = F.when(edge, F.struct(
                    F.col("__swfrn").alias("r"), xs.alias("v")))
                aggs.append(F.transform(
                    F.array_sort(F.collect_list(pair),
                                 lambda a, b: (a["r"] - b["r"]).cast("int")),
                    lambda s: s["v"]).alias(
                        f"__en{i}" if mode == "pre" else f"__ep{i}"))
            continue
        x = F.lit(1) if op == "$count" else _expr(arg, env)
        if op in ("$sum", "$count"):
            dfb = dfb.withColumn(f"__s{i}", F.sum(x).over(run))
            aggs.append(F.max_by(F.col(f"__s{i}"),
                                 F.col("__swfrn")).alias(f"__t{i}"))
        elif op == "$min":
            dfb = dfb.withColumn(f"__s{i}", F.min(x).over(run))
            aggs.append(F.max_by(F.col(f"__s{i}"),
                                 F.col("__swfrn")).alias(f"__t{i}"))
        elif op == "$max":
            dfb = dfb.withColumn(f"__s{i}", F.max(x).over(run))
            aggs.append(F.max_by(F.col(f"__s{i}"),
                                 F.col("__swfrn")).alias(f"__t{i}"))
        else:  # $avg: running sum + running non-null count
            dfb = (dfb.withColumn(f"__s{i}", F.sum(x).over(run))
                   .withColumn(f"__n{i}", F.count(x).over(run)))
            aggs.append(F.max_by(F.col(f"__s{i}"),
                                 F.col("__swfrn")).alias(f"__t{i}"))
            aggs.append(F.max_by(F.col(f"__n{i}"),
                                 F.col("__swfrn")).alias(f"__tn{i}"))
            drop.append(f"__n{i}")
        drop.append(f"__s{i}")

    summ = dfb.groupBy("__swfb").agg(*aggs)
    ws = Window.orderBy(F.col("__swfb").asc())
    prev = ws.rowsBetween(Window.unboundedPreceding, -1)
    both = ws.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    carry = [F.col("__swfb"),
             F.sum("__rows").over(prev).alias("__crows"),
             F.sum("__dense").over(prev).alias("__cdense")]
    for i, (name, op, arg, mode) in enumerate(tasks):
        if mode == "rank":
            continue
        if mode == "shift":
            by = int(arg.get("by", 1))
            if by == 0:
                continue
            # the neighbouring buckets' edge-value stream, bucket order
            # pinned by the comparator sort (≤ B small arrays)
            nbr = (ws.rowsBetween(1, Window.unboundedFollowing)
                   if by > 0 else prev)
            seq = F.array_sort(
                F.collect_list(F.struct(
                    F.col("__swfb").alias("b"),
                    F.col(f"__e{i}").alias("e"))).over(nbr),
                lambda a, b: (a["b"] - b["b"]).cast("int"))
            carry.append(F.flatten(F.transform(seq, lambda s: s["e"]))
                         .alias(f"__c{i}"))
            continue
        if mode == "mid":
            _, flo, fhi = arg
            if fhi > 0:
                # following buckets' first-fhi streams, bucket order
                nbr = ws.rowsBetween(1, Window.unboundedFollowing)
                seq = F.array_sort(
                    F.collect_list(F.struct(
                        F.col("__swfb").alias("b"),
                        F.col(f"__en{i}").alias("e"))).over(nbr),
                    lambda a, b: (a["b"] - b["b"]).cast("int"))
                carry.append(F.flatten(F.transform(seq, lambda s: s["e"]))
                             .alias(f"__cn{i}"))
            if flo < 0:
                # preceding buckets' last-|flo| streams, bucket order —
                # the flattened array's LAST element is the row
                # immediately before this bucket's start
                seq = F.array_sort(
                    F.collect_list(F.struct(
                        F.col("__swfb").alias("b"),
                        F.col(f"__ep{i}").alias("e"))).over(prev),
                    lambda a, b: (a["b"] - b["b"]).cast("int"))
                carry.append(F.flatten(F.transform(seq, lambda s: s["e"]))
                             .alias(f"__cp{i}"))
            continue
        if op in ("$first", "$last") and mode in ("whole", "run"):
            if op == "$first":
                frm2 = prev if mode == "run" else both
                carry.append(F.first(f"__bf{i}").over(frm2)
                             .alias(f"__c{i}"))
            elif mode == "whole":
                carry.append(F.last(f"__bl{i}").over(both)
                             .alias(f"__c{i}"))
            continue
        if op in ("$first", "$last") and mode in ("pre", "suf"):
            _, fin = arg
            if (mode == "pre") == (op == "$first"):
                # pre-$first / suf-$last: the closed side reaches the
                # collection end, so the answer is ONE global constant
                # — the first/last bucket's first/last framed value
                # (include-nulls first/last works for any value type)
                fnc = F.first if op == "$first" else F.last
                carry.append(fnc(f"__t{i}").over(both).alias(f"__c{i}"))
            if mode == "pre" and op == "$last":
                nbr = ws.rowsBetween(1, Window.unboundedFollowing)
                seq = F.array_sort(
                    F.collect_list(F.struct(
                        F.col("__swfb").alias("b"),
                        F.col(f"__en{i}").alias("e"))).over(nbr),
                    lambda a, b: (a["b"] - b["b"]).cast("int"))
                carry.append(F.flatten(F.transform(seq, lambda s: s["e"]))
                             .alias(f"__cn{i}"))
            elif mode == "suf" and op == "$first" and fin < 0:
                seq = F.array_sort(
                    F.collect_list(F.struct(
                        F.col("__swfb").alias("b"),
                        F.col(f"__ep{i}").alias("e"))).over(prev),
                    lambda a, b: (a["b"] - b["b"]).cast("int"))
                carry.append(F.flatten(F.transform(seq, lambda s: s["e"]))
                             .alias(f"__cp{i}"))
            continue
        if mode in ("pre", "suf"):
            _, fin = arg
            # closed-side totals carry: preceding buckets for "pre",
            # following for "suf" (same combine rules as run/whole)
            frm = prev if mode == "pre" \
                else ws.rowsBetween(1, Window.unboundedFollowing)
            if op in ("$sum", "$count", "$avg"):
                carry.append(F.sum(f"__t{i}").over(frm).alias(f"__c{i}"))
                if op == "$avg":
                    carry.append(F.sum(f"__tn{i}").over(frm)
                                 .alias(f"__ca{i}"))
            elif op == "$min":
                carry.append(F.min(f"__t{i}").over(frm).alias(f"__c{i}"))
            else:
                carry.append(F.max(f"__t{i}").over(frm).alias(f"__c{i}"))
            # open-side halo stream (mid machinery): forward for "pre",
            # backward for "suf" when the finite bound reaches back
            if mode == "pre":
                nbr = ws.rowsBetween(1, Window.unboundedFollowing)
                seq = F.array_sort(
                    F.collect_list(F.struct(
                        F.col("__swfb").alias("b"),
                        F.col(f"__en{i}").alias("e"))).over(nbr),
                    lambda a, b: (a["b"] - b["b"]).cast("int"))
                carry.append(F.flatten(F.transform(seq, lambda s: s["e"]))
                             .alias(f"__cn{i}"))
            elif fin < 0:
                seq = F.array_sort(
                    F.collect_list(F.struct(
                        F.col("__swfb").alias("b"),
                        F.col(f"__ep{i}").alias("e"))).over(prev),
                    lambda a, b: (a["b"] - b["b"]).cast("int"))
                carry.append(F.flatten(F.transform(seq, lambda s: s["e"]))
                             .alias(f"__cp{i}"))
            continue
        frm = prev if mode == "run" else both
        if op in ("$sum", "$count", "$avg"):
            carry.append(F.sum(f"__t{i}").over(frm).alias(f"__c{i}"))
            if op == "$avg":
                carry.append(F.sum(f"__tn{i}").over(frm)
                             .alias(f"__cn{i}"))
        elif op == "$min":
            carry.append(F.min(f"__t{i}").over(frm).alias(f"__c{i}"))
        else:
            carry.append(F.max(f"__t{i}").over(frm).alias(f"__c{i}"))
    out = dfb.join(F.broadcast(summ.select(*carry)), "__swfb")

    for i, (name, op, arg, mode) in enumerate(tasks):
        if mode == "rank":
            fn = _WF_RANK[op]().over(w)
            cr = F.col("__cdense" if op == "$denseRank" else "__crows")
            out = out.withColumn(name, fn + F.coalesce(cr, F.lit(0)))
            continue
        if mode == "shift":
            by = int(arg.get("by", 1))
            if by == 0:
                out = out.withColumn(name, _expr(arg["output"], env))
                continue
            k = abs(by)
            rn, cnt = F.col("__swfrn"), F.col("__swfcnt")
            flat = F.col(f"__c{i}")
            # 1-based index into the neighbour stream; default applies
            # ONLY past the collection ends (a NULL at the target row
            # passes through — Mongo's lead/lag default contract)
            if by > 0:
                idx = (rn + F.lit(k) - cnt).cast("int")
                infill = F.element_at(flat, idx)
            else:
                idx = (F.lit(k) - rn + 1).cast("int")
                infill = F.element_at(flat, -idx)
            dflt = F.lit(arg.get("default"))
            out = out.withColumn(name, F.when(
                idx >= 1,
                F.when(idx <= F.size(flat), infill).otherwise(dflt)
            ).otherwise(F.col(f"__sh{i}")))
            drop.append(f"__c{i}")
            continue
        if op in ("$first", "$last") and mode in ("whole", "run"):
            if op == "$last":
                if mode == "run":
                    # [unbounded, current] always ends at the current
                    # document — the value is the expression itself
                    out = out.withColumn(name, _expr(arg, env))
                else:
                    out = out.withColumn(name, F.col(f"__c{i}")["v"])
                    drop.append(f"__c{i}")
                continue
            c = F.col(f"__c{i}")
            if mode == "whole":
                out = out.withColumn(name, c["v"])
            else:
                # run-$first: the first PRECEDING bucket's struct wins
                # (struct-wrap keeps a NULL first value distinguishable
                # from "no preceding bucket"); bucket 0 reads its own
                # in-bucket running first
                out = out.withColumn(name, F.when(
                    c.isNotNull(), c["v"]).otherwise(F.col(f"__s{i}")))
            drop.append(f"__c{i}")
            continue
        if mode == "mid":
            # contiguous halo slices of the neighbour streams: frame
            # positions rn+flo..rn+fhi beyond the bucket's own rows.
            # Slices past the COLLECTION ends self-clip (F.slice stops
            # at the array end; the guards keep start ≥ 1, length ≥ 1).
            _, flo, fhi = arg
            rn, cnt = F.col("__swfrn"), F.col("__swfcnt")
            nsl = psl = None
            if fhi > 0:
                flat = F.col(f"__cn{i}")
                et = out.schema[f"__cn{i}"].dataType
                lo_p = F.greatest(rn + F.lit(flo) - cnt, F.lit(1))
                hi_p = rn + F.lit(fhi) - cnt
                nsl = F.when(hi_p >= 1, F.slice(
                    flat, lo_p.cast("int"), (hi_p - lo_p + 1).cast("int"))
                ).otherwise(F.array().cast(et))
                drop.append(f"__cn{i}")
            if flo < 0:
                # distances-before-bucket-start j1..j2; the flattened
                # prev stream's LAST element is distance 1
                flat = F.col(f"__cp{i}")
                et = out.schema[f"__cp{i}"].dataType
                sz = F.size(flat)
                j2 = F.lit(1 - flo) - rn
                j1 = F.greatest(F.lit(1 - fhi) - rn, F.lit(1))
                p2 = sz - j1 + 1
                p1 = F.greatest(sz - j2 + 1, F.lit(1))
                psl = F.when((j2 >= 1) & (p2 >= 1), F.slice(
                    flat, p1.cast("int"), (p2 - p1 + 1).cast("int"))
                ).otherwise(F.array().cast(et))
                drop.append(f"__cp{i}")
            local = F.col(f"__s{i}")
            if psl is None and nsl is None:    # frame [0, 0]
                out = out.withColumn(name, F.try_divide(
                    local, F.col(f"__n{i}")) if op == "$avg" else local)
                continue
            halo = (F.concat(psl, nsl)
                    if psl is not None and nsl is not None
                    else psl if psl is not None else nsl)
            if op in ("$first", "$last"):
                # position ops: earliest/latest EXISTING frame slot —
                # prev-slice elements precede the in-bucket span,
                # which precedes the next slice; SIZE guards (never
                # null tests) keep a null VALUE distinguishable from
                # an empty slot
                inb = (rn + F.lit(fhi) >= 1) & (rn + F.lit(flo) <= cnt)
                tnull = F.lit(None).cast(out.schema[f"__s{i}"].dataType)
                if op == "$first":
                    # every element_at sits behind a size guard — ANSI
                    # throws on an out-of-bounds index (empty slice at
                    # the collection edge), and when-branches evaluate
                    # lazily so the guard is sufficient
                    tail = (F.when(F.size(nsl) > 0, F.element_at(nsl, 1))
                            if nsl is not None else tnull)
                    val = F.when(inb, local).otherwise(tail)
                    if psl is not None:
                        val = F.when(F.size(psl) > 0,
                                     F.element_at(psl, 1)).otherwise(val)
                else:
                    head = (F.when(F.size(psl) > 0,
                                   F.element_at(psl, -1))
                            if psl is not None else tnull)
                    val = F.when(inb, local).otherwise(head)
                    if nsl is not None:
                        val = F.when(F.size(nsl) > 0,
                                     F.element_at(nsl, -1)).otherwise(val)
            elif op == "$count":
                val = local + F.coalesce(F.size(halo), F.lit(0))
            elif op == "$min":
                val = F.least(local, F.array_min(halo))
            elif op == "$max":
                val = F.greatest(local, F.array_max(halo))
            else:
                # $sum/$avg: null-aware fold matching the single
                # window's contract (NULL iff the whole frame is
                # null/empty), in the local aggregate's result type
                st = out.schema[f"__s{i}"].dataType
                zero, nul = F.lit(0).cast(st), F.lit(None).cast(st)
                contrib = F.aggregate(
                    halo, nul,
                    lambda acc, e: F.when(
                        acc.isNull() & e.isNull(), nul
                    ).otherwise(F.coalesce(acc, zero)
                                + F.coalesce(e, zero)))
                tot = F.when(local.isNull() & contrib.isNull(), nul) \
                    .otherwise(F.coalesce(local, zero)
                               + F.coalesce(contrib, zero))
                if op == "$sum":
                    val = tot
                else:
                    nn = F.col(f"__n{i}") + F.coalesce(F.size(
                        F.filter(halo, lambda e: e.isNotNull())),
                        F.lit(0))
                    val = F.try_divide(tot, nn)
            out = out.withColumn(name, val)
            continue
        if mode in ("pre", "suf"):
            # three legs: in-bucket window + closed-side totals carry
            # (scalar) + open-side halo slice (array), combined with
            # the same null contracts as run/mid
            _, fin = arg
            rn, cnt = F.col("__swfrn"), F.col("__swfcnt")
            local, c = F.col(f"__s{i}"), F.col(f"__c{i}")
            drop.append(f"__c{i}")
            halo = None
            if mode == "pre" and f"__cn{i}" in out.columns:
                flat = F.col(f"__cn{i}")
                et = out.schema[f"__cn{i}"].dataType
                hi_p = rn + F.lit(fin) - cnt
                halo = F.when(hi_p >= 1, F.slice(
                    flat, 1, hi_p.cast("int"))).otherwise(F.array().cast(et))
                drop.append(f"__cn{i}")
            elif fin < 0 and f"__cp{i}" in out.columns:
                flat = F.col(f"__cp{i}")
                et = out.schema[f"__cp{i}"].dataType
                sz = F.size(flat)
                j2 = F.lit(1 - fin) - rn
                p1 = F.greatest(sz - j2 + 1, F.lit(1))
                halo = F.when((j2 >= 1) & (sz >= 1), F.slice(
                    flat, p1.cast("int"), (sz - p1 + 1).cast("int"))
                ).otherwise(F.array().cast(et))
                drop.append(f"__cp{i}")
            if op in ("$first", "$last"):
                if (mode == "pre") == (op == "$first"):
                    # global constant from the closed side's carry
                    val = c
                elif halo is not None:
                    # open side's halo decides when it reaches there;
                    # size-guarded element_at (ANSI bounds), in-bucket
                    # framed first/last otherwise
                    pos = F.lit(1) if op == "$first" else F.lit(-1)
                    val = F.when(F.size(halo) > 0,
                                 F.element_at(halo, pos)).otherwise(local)
                else:
                    val = local
                out = out.withColumn(name, val)
                continue
            if op == "$count":
                val = local + F.coalesce(c, F.lit(0))
                if halo is not None:
                    val = val + F.coalesce(F.size(halo), F.lit(0))
            elif op == "$min":
                val = F.least(local, c) if halo is None \
                    else F.least(local, c, F.array_min(halo))
            elif op == "$max":
                val = F.greatest(local, c) if halo is None \
                    else F.greatest(local, c, F.array_max(halo))
            else:
                st = out.schema[f"__s{i}"].dataType
                zero, nul = F.lit(0).cast(st), F.lit(None).cast(st)
                legs = [local, c]
                nn = F.col(f"__n{i}") + F.coalesce(
                    F.col(f"__ca{i}") if op == "$avg" else F.lit(0),
                    F.lit(0))
                if halo is not None:
                    legs.append(F.aggregate(
                        halo, nul,
                        lambda acc, e: F.when(
                            acc.isNull() & e.isNull(), nul
                        ).otherwise(F.coalesce(acc, zero)
                                    + F.coalesce(e, zero))))
                    if op == "$avg":
                        nn = nn + F.coalesce(F.size(F.filter(
                            halo, lambda e: e.isNotNull())), F.lit(0))
                allnull = legs[0].isNull()
                for leg in legs[1:]:
                    allnull = allnull & leg.isNull()
                tot = F.coalesce(legs[0], zero)
                for leg in legs[1:]:
                    tot = tot + F.coalesce(leg, zero)
                tot = F.when(allnull, nul).otherwise(tot)
                if op == "$sum":
                    val = tot
                else:
                    val = F.try_divide(tot, nn)
                    drop.append(f"__ca{i}")
            out = out.withColumn(name, val)
            continue
        if mode == "whole":
            if op == "$avg":
                out = out.withColumn(name, F.try_divide(
                    F.col(f"__c{i}"), F.col(f"__cn{i}")))
                drop.append(f"__cn{i}")
            else:
                out = out.withColumn(name, F.col(f"__c{i}"))
            drop.append(f"__c{i}")
            continue
        loc, cr = F.col(f"__s{i}"), F.col(f"__c{i}")
        if op in ("$sum", "$count"):
            out = out.withColumn(name, F.when(
                loc.isNull() & cr.isNull(), F.lit(None)
            ).otherwise(F.coalesce(loc, F.lit(0))
                        + F.coalesce(cr, F.lit(0))))
        elif op == "$min":
            out = out.withColumn(name, F.least(loc, cr))
        elif op == "$max":
            out = out.withColumn(name, F.greatest(loc, cr))
        else:  # $avg
            tot = F.when(loc.isNull() & cr.isNull(), F.lit(None)) \
                .otherwise(F.coalesce(loc, F.lit(0))
                           + F.coalesce(cr, F.lit(0)))
            n = F.col(f"__n{i}") + F.coalesce(F.col(f"__cn{i}"),
                                              F.lit(0))
            out = out.withColumn(name, F.try_divide(tot, n))
            drop.append(f"__cn{i}")
        drop.append(f"__c{i}")
    out = out.drop(*dict.fromkeys(drop), "__crows", "__cdense")
    # pin the output column order to (input columns, then spec outputs
    # in spec order) — withColumn appends fills before prefix outputs,
    # which could otherwise diverge from the single-window path
    return out.select(*orig_cols,
                      *[n for n in spec["output"] if n not in orig_cols])


def _fill_one_windowed(df: DataFrame, name: str, method: str, w,
                       sortby: dict[str, int]) -> DataFrame:
    """One locf/linear fill over an already-partitioned window — the
    per-partition arithmetic shared by the ``partitionBy`` path and the
    string-key whole-collection fallback."""
    from pyspark.sql import Window

    if method == "locf":
        return df.withColumn(name, F.last(name, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    key = _sort_key_double(df, next(iter(sortby)))
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    after = w.rowsBetween(1, Window.unboundedFollowing)
    pv = F.last(F.col(name), ignorenulls=True).over(before)
    pk = F.last(F.when(F.col(name).isNotNull(), key),
                ignorenulls=True).over(before)
    nv = F.first(F.col(name), ignorenulls=True).over(after)
    nk = F.first(F.when(F.col(name).isNotNull(), key),
                 ignorenulls=True).over(after)
    interp = pv + (nv - pv) * (key - pk) / (nk - pk)
    # Mongo: unbracketed nulls (before the first / after the
    # last observation) stay null
    return df.withColumn(name, F.coalesce(
        F.col(name).cast("double"),
        F.when(pv.isNotNull() & nv.isNotNull(), interp)))


def _fill_partitionless(df: DataFrame, methods: dict[str, str],
                        sortby: dict[str, int], order) -> DataFrame:
    """Distributed whole-collection ``$fill`` (r17 — the last
    single-task translator stage, VERDICT r16 #1). LOCF/linear need the
    GLOBAL sort order, but the state that crosses a range boundary is
    tiny (the last/first non-null observation on each side), so:

    1. Range-bucket on the LEADING sort key's numeric image: one
       ``percentile_approx`` aggregation yields ≤ B-1 boundary scalars
       (bounded collect, same class as ``$densify``'s two bounds), and
       bucket assignment is a pure column expression (count of
       boundaries ≤ key) — deterministic BY VALUE, so sort-key ties can
       never straddle buckets.
    2. Fill WITHIN buckets: the usual ignore-nulls windows, partitioned
       by ``__fillb`` — ONE hash exchange over the data, parallelism =
       #buckets (min(shuffle.partitions, 64)).
    3. Boundary carry: a groupBy(``__fillb``) reuses the window's
       exchange (same key → no second data shuffle) and reduces each
       bucket to its first/last non-null (value, key) pairs; a window
       over those ≤ B summary rows computes the cross-bucket carry-in
       (locf/linear ``prev``) and carry-out (linear ``next``); a
       broadcast join hands each row its bucket's carry.

    Value-identical to the single global window: the carry supplies
    exactly the "nearest non-null in a preceding/following bucket" that
    the in-bucket window cannot see, and the interpolation expression is
    the same arithmetic on the same operands. NULL sort keys bucket to
    the walk's null end (first bucket for ascending, last for
    descending — Spark's asc=nulls-first/desc=nulls-last contract)."""
    from pyspark.sql import Window

    k1, d1 = next(iter(sortby.items()))
    bucket = _range_bucket(df, k1, d1 == 1)  # shared helper (windows.py)
    if bucket is None:
        # no orderable scalar image to range-bucket on (binary/complex
        # keys): keep the whole-collection window, warned as before
        _warn_whole_collection_window(df, "$fill")
        w = Window.orderBy(*order)
        for name, method in methods.items():
            df = _fill_one_windowed(df, name, method, w, sortby)
        return df

    keyd = _sort_key_double(df, k1)
    dfb = df.withColumn("__fillb", bucket)

    w = Window.partitionBy("__fillb").orderBy(*order)
    dfb = dfb.withColumn("__fillrn", F.row_number().over(w))
    aggs: list[Column] = []
    for name, method in methods.items():
        col = F.col(name)
        if method == "locf":
            dfb = dfb.withColumn(f"__fl_{name}", F.last(
                name, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            # the bucket's LAST row's running-locf value IS its last
            # non-null observation (null iff the bucket is all-null)
            aggs.append(F.max_by(F.col(f"__fl_{name}"),
                                 F.col("__fillrn")).alias(f"__lv_{name}"))
        else:  # linear — single ascending numeric key, validated above
            before = w.rowsBetween(Window.unboundedPreceding, -1)
            after = w.rowsBetween(1, Window.unboundedFollowing)
            dfb = (dfb
                   .withColumn(f"__pv_{name}", F.last(
                       col, ignorenulls=True).over(before))
                   .withColumn(f"__pk_{name}", F.last(
                       F.when(col.isNotNull(), keyd),
                       ignorenulls=True).over(before))
                   .withColumn(f"__nv_{name}", F.first(
                       col, ignorenulls=True).over(after))
                   .withColumn(f"__nk_{name}", F.first(
                       F.when(col.isNotNull(), keyd),
                       ignorenulls=True).over(after)))
            nn = F.when(col.isNotNull(), F.col("__fillrn"))
            pair = F.struct(col.alias("v"), keyd.alias("k"))
            # max_by/min_by skip rows whose ordering key is null, so
            # all-null buckets yield a NULL pair the carry window skips
            aggs.append(F.max_by(pair, nn).alias(f"__lst_{name}"))
            aggs.append(F.min_by(pair, nn).alias(f"__fst_{name}"))

    summ = dfb.groupBy("__fillb").agg(*aggs)
    # carry across buckets: a window over ≤ nb summary rows (bounded by
    # CLUSTER width, not data size — never a whole-collection window)
    ws = Window.orderBy(F.col("__fillb").asc())
    carry = [F.col("__fillb")]
    for name, method in methods.items():
        if method == "locf":
            carry.append(F.last(f"__lv_{name}", ignorenulls=True).over(
                ws.rowsBetween(Window.unboundedPreceding, -1))
                .alias(f"__ci_{name}"))
        else:
            carry.append(F.last(f"__lst_{name}", ignorenulls=True).over(
                ws.rowsBetween(Window.unboundedPreceding, -1))
                .alias(f"__cp_{name}"))
            carry.append(F.first(f"__fst_{name}", ignorenulls=True).over(
                ws.rowsBetween(1, Window.unboundedFollowing))
                .alias(f"__cn_{name}"))
    out = dfb.join(F.broadcast(summ.select(*carry)), "__fillb")

    drop = ["__fillb", "__fillrn"]
    for name, method in methods.items():
        if method == "locf":
            out = out.withColumn(name, F.coalesce(
                F.col(f"__fl_{name}"), F.col(f"__ci_{name}")))
            drop += [f"__fl_{name}", f"__ci_{name}"]
        else:
            pv = F.coalesce(F.col(f"__pv_{name}"), F.col(f"__cp_{name}.v"))
            pk = F.coalesce(F.col(f"__pk_{name}"), F.col(f"__cp_{name}.k"))
            nv = F.coalesce(F.col(f"__nv_{name}"), F.col(f"__cn_{name}.v"))
            nk = F.coalesce(F.col(f"__nk_{name}"), F.col(f"__cn_{name}.k"))
            interp = pv + (nv - pv) * (keyd - pk) / (nk - pk)
            out = out.withColumn(name, F.coalesce(
                F.col(name).cast("double"),
                F.when(pv.isNotNull() & nv.isNotNull(), interp)))
            drop += [f"__pv_{name}", f"__pk_{name}", f"__nv_{name}",
                     f"__nk_{name}", f"__cp_{name}", f"__cn_{name}"]
    return out.drop(*drop)


def _set_window_fields(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$setWindowFields`` (Mongo 5.0 window functions) lowered onto
    Spark's Window: ``partitionBy`` expression, compound ``sortBy``,
    and per-output ``window`` frames — ``documents`` → rowsBetween,
    ``range`` → rangeBetween (single ascending numeric sort key, no
    time ``unit``). Accumulators without an explicit window default to
    the WHOLE partition (Mongo's rule — unlike SQL's default frame
    when ORDER BY is present, so the frame is always set explicitly).
    Rank-family ops require sortBy and take no frame; ``$shift``
    lowers to lead/lag with its default. ``$push`` without sortBy has
    no defined order in Mongo — pinned with sort_array here, the
    translator's determinism convention."""
    from pyspark.sql import Window

    _require_fields(df, spec.get("sortBy") or {}, "$setWindowFields sortBy")
    env = _root_env(df)
    part = spec.get("partitionBy")
    if part is None:
        # r17: the prefix-scan family (rank/running/whole accumulators,
        # $shift, gap-fillers), finite AND current-row-containing
        # half-open documents frames distribute via range buckets +
        # carry, over numeric/temporal/STRING sort keys — only shapes
        # outside them (range frames, current-row-excluding half-open
        # frames, binary/complex keys) still plan the warned single
        # window
        out = _swf_partitionless(df, spec)
        if out is not None:
            return out
        _warn_whole_collection_window(df, "$setWindowFields")
    sortby = spec.get("sortBy") or {}
    # a COMPOSITE partitionBy doc ({a: "$x", b: "$y"} — $group's _id
    # convention: no $-operator at the top) partitions by its component
    # expressions as SEPARATE keys, not one struct: identical partition
    # semantics, but hashpartitioning(x, y) instead of
    # hashpartitioning(named_struct(...)) — so a downstream
    # groupBy/join on the same bare columns REUSES the window's
    # exchange instead of reshuffling (r15; the window-in-$lookup pack
    # rides the window's own shuffle, measured one-Exchange saving on
    # q208/q210-class plans)
    if isinstance(part, dict) and part and not (
            len(part) == 1 and next(iter(part)).startswith("$")):
        pexprs = [_expr(v, env) for v in part.values()]
    elif part is not None:
        pexprs = [_expr(part, env)]
    else:
        pexprs = []
    base = Window.partitionBy(*pexprs)
    ordered = base.orderBy(
        *[F.col(k).asc() if d == 1 else F.col(k).desc()
          for k, d in sortby.items()]) if sortby else base
    for name, wspec in spec["output"].items():
        if "." in name:
            raise ValueError(
                f"$setWindowFields nested output path unsupported: {name}")
        wspec = dict(wspec)
        frame = wspec.pop("window", None)
        (op, arg), = wspec.items()
        if op in _WF_RANK:
            if not sortby:
                raise ValueError(f"{op} requires sortBy")
            if frame is not None:
                raise ValueError(f"{op} does not accept a window")
            df = df.withColumn(name, _WF_RANK[op]().over(ordered))
            continue
        if op == "$shift":
            if not sortby:
                raise ValueError("$shift requires sortBy")
            by = int(arg.get("by", 1))
            default = arg.get("default")
            fn = F.lead if by >= 0 else F.lag
            df = df.withColumn(name, fn(_expr(arg["output"], env), abs(by),
                                        default).over(ordered))
            continue
        if op in ("$locf", "$linearFill"):
            # gap-filling window operators (Mongo 5.2) — no frame spec
            # in Mongo; $locf is one running ignore-nulls window,
            # $linearFill brackets each null with its nearest non-null
            # neighbors on the sort key (same lowering as the $fill
            # stage, per-output here)
            if not sortby:
                raise ValueError(f"{op} requires sortBy")
            if frame is not None:
                raise ValueError(f"{op} does not accept a window")
            y = _expr(arg, env)
            if op == "$locf":
                df = df.withColumn(name, F.last(y, ignorenulls=True).over(
                    ordered.rowsBetween(Window.unboundedPreceding, 0)))
                continue
            if len(sortby) != 1 or next(iter(sortby.values())) != 1:
                raise ValueError(
                    "$linearFill needs a single ascending sortBy")
            key = _sort_key_double(df, next(iter(sortby)))
            before = ordered.rowsBetween(Window.unboundedPreceding, -1)
            after = ordered.rowsBetween(1, Window.unboundedFollowing)
            pv = F.last(y, ignorenulls=True).over(before)
            pk = F.last(F.when(y.isNotNull(), key),
                        ignorenulls=True).over(before)
            nv = F.first(y, ignorenulls=True).over(after)
            nk = F.first(F.when(y.isNotNull(), key),
                         ignorenulls=True).over(after)
            interp = pv + (nv - pv) * (key - pk) / (nk - pk)
            df = df.withColumn(name, F.coalesce(
                y.cast("double"),
                F.when(pv.isNotNull() & nv.isNotNull(), interp)))
            continue
        # accumulator over a frame
        w = ordered if sortby else base
        unit = None
        if frame is None:
            lo, hi = "unbounded", "unbounded"
            kind = "documents"
        else:
            unit = frame.get("unit")
            kinds = [k for k in frame if k != "unit"]
            if len(kinds) != 1:
                raise ValueError(
                    f"window needs exactly one frame kind, got: {frame}")
            kind = kinds[0]
            lo, hi = frame[kind]
            if unit is not None and kind != "range":
                raise ValueError("window 'unit' applies to range frames")
        if kind == "documents":
            w = w.rowsBetween(_wf_bound(lo, True), _wf_bound(hi, False))
        elif kind == "range":
            if len(sortby) != 1 or next(iter(sortby.values())) != 1:
                raise ValueError(
                    "range window needs a single ascending sortBy")
            if unit is not None:
                # time-unit range (Mongo 5.0: trailing-N-days windows):
                # order by the sort field's epoch MILLISECONDS and turn
                # the [lo, hi] unit offsets into ms — rangeBetween takes
                # integer deltas, so the frame stays a native Spark
                # running-window (no self-join, no UDF). Millisecond
                # resolution: sub-ms timestamp components are truncated
                # from the ORDER KEY only (output rows keep full
                # precision); fixed-width units only — year/quarter/
                # month vary in length and raise.
                sort_field = next(iter(sortby))
                scale = _WF_UNIT_MS.get(unit)
                if scale is not None:
                    # TIMESTAMP_NTZ cannot cast straight to a number —
                    # via timestamp; double epoch seconds keep ~0.4 us
                    # precision for current epochs, exact at ms grain
                    key = (F.col(sort_field).cast("timestamp")
                           .cast("double") * 1000).cast("long")
                    w = base.orderBy(key.asc()).rangeBetween(
                        _wf_bound(lo, True, scale),
                        _wf_bound(hi, False, scale))
                elif unit in _WF_UNIT_MONTHS:
                    # CALENDAR range (Mongo 5.0: trailing-N-month/
                    # quarter/year windows): months have no fixed ms
                    # width, so the frame runs on a MONTHS-SINCE-EPOCH
                    # integer key. Exact Mongo parity holds only when
                    # every sort value is month-aligned (Mongo anchors
                    # the boundary at the current doc's day-of-month;
                    # a constant-width Spark frame cannot follow that
                    # for mid-month values) — so alignment is ENFORCED
                    # per row with raise_error inside the key
                    # expression (distributed, zero extra pass, the
                    # $bucket contract pattern). Trailing-N-month
                    # pipelines are post-aggregation monthly series in
                    # practice — $dateTrunc the sort field first.
                    ts = F.col(sort_field).cast("timestamp")
                    months = ((F.year(ts) - F.lit(1970)) * 12
                              + F.month(ts) - 1).cast("long")
                    key = F.when(
                        ts.eqNullSafe(F.date_trunc("month", ts)), months
                    ).otherwise(F.raise_error(F.concat(
                        F.lit(f"calendar range unit {unit!r} needs "
                              f"month-aligned sort values; $dateTrunc "
                              f"'{sort_field}' first — got "),
                        ts.cast("string"))))
                    mscale = _WF_UNIT_MONTHS[unit]
                    w = base.orderBy(key.asc()).rangeBetween(
                        _wf_month_bound(lo, True, mscale),
                        _wf_month_bound(hi, False, mscale))
                else:
                    raise ValueError(
                        f"unsupported $setWindowFields range unit: "
                        f"{unit!r} (supported: "
                        f"{sorted(_WF_UNIT_MS) + sorted(_WF_UNIT_MONTHS)})")
            else:
                w = w.rangeBetween(_wf_bound(lo, True), _wf_bound(hi, False))
        else:
            raise ValueError(f"unsupported window kind: {kind}")
        if op == "$integral":
            # trapezoidal integral over the frame (Mongo 5.0): per-row
            # increment = Δsort-key × mean of the adjacent values, via
            # lag over the SAME ordered partition (Spark chains the two
            # Window operators on one exchange — no extra shuffle),
            # then ONE frame sum minus the frame's first increment
            # (that increment pairs with a point outside the frame).
            # A single-point frame integrates to 0.
            if len(sortby) != 1 or next(iter(sortby.values())) != 1:
                raise ValueError(
                    "$integral needs a single ascending sortBy")
            y = _expr(arg["input"], env)
            kcol = F.col(next(iter(sortby)))
            iunit = arg.get("unit")
            if iunit is not None:
                if iunit not in _WF_UNIT_MS:
                    raise ValueError(
                        f"unsupported $integral unit: {iunit!r}")
                k = (kcol.cast("timestamp").cast("double") * 1000) \
                    / float(_WF_UNIT_MS[iunit])
            else:
                k = kcol.cast("double")
            incr = F.coalesce(
                (k - F.lag(k, 1).over(ordered))
                * (y + F.lag(y, 1).over(ordered)) / 2, F.lit(0.0))
            tmpc = f"__intg_{name}"
            df = (df.withColumn(tmpc, incr)
                  .withColumn(name, F.sum(tmpc).over(w)
                              - F.first(tmpc).over(w))
                  .drop(tmpc))
            continue
        if op == "$expMovingAvg":
            # ema_i = α·x_i + (1-α)·ema_{i-1}, ema_0 = x_0 — an
            # inherently sequential recurrence, lowered EXACTLY as one
            # groupBy(partition) + JVM-side higher-order fold: collect
            # each partition's docs sorted by the sortBy key, fold the
            # EMA array left-to-right with F.aggregate (the same flop
            # order as Mongo's cursor walk, so results are bit-identical
            # to a sequential engine — no prefix-sum reassociation, no
            # β^-j overflow), then explode back to rows. O(partition)
            # memory — the same bound Mongo itself puts on
            # $setWindowFields partitions and this module documents for
            # the rank accumulators. Contract (r15 — deterministic
            # superset of Mongo's unspecified cases): sortBy ties
            # break by (input, doc) for determinism where Mongo is
            # unspecified; a null input emits null and does NOT advance
            # the EMA state.
            if not sortby or len(sortby) != 1 \
                    or next(iter(sortby.values())) != 1:
                raise ValueError(
                    "$expMovingAvg needs a single ascending sortBy")
            if frame is not None:
                raise ValueError("$expMovingAvg does not accept a window")
            if "N" in arg:
                alpha = 2.0 / (int(arg["N"]) + 1)
            elif "alpha" in arg:
                alpha = float(arg["alpha"])
            else:
                raise ValueError("$expMovingAvg needs N or alpha")
            skey = next(iter(sortby))
            x = _expr(arg["input"], env).cast("double")
            doc = F.struct(*[F.col(c) for c in df.columns])
            pcols = ([_expr(part, env).alias("__p")]
                     if part is not None else [])
            arr = F.sort_array(F.collect_list(F.struct(
                F.col(skey).alias("__k"), x.alias("__x"),
                doc.alias("__d"))))
            zero = F.struct(
                F.lit(None).cast("double").alias("prev"),
                F.array().cast("array<double>").alias("out"))

            def _ema_step(acc, s):
                xi = s["__x"]
                nxt = (F.when(xi.isNull(), acc["prev"])
                       .when(acc["prev"].isNull(), xi)
                       .otherwise(F.lit(alpha) * xi
                                  + F.lit(1.0 - alpha) * acc["prev"]))
                return F.struct(
                    nxt.alias("prev"),
                    F.concat(acc["out"],
                             F.array(F.when(xi.isNotNull(), nxt))
                             ).alias("out"))

            g = (df.groupBy(*pcols).agg(arr.alias("__arr"))
                 .withColumn("__ema", F.aggregate(
                     "__arr", zero, _ema_step, lambda a: a["out"])))
            df = (g.select(F.explode(F.arrays_zip("__arr", "__ema"))
                           .alias("__z"))
                  .select(F.col("__z.__arr.__d.*"),
                          F.col("__z.__ema").alias(name)))
            env = _root_env(df)
            continue
        if op == "$derivative":
            # average rate of change over the frame: (Δoutput / Δsort
            # key), the key delta optionally scaled to a time unit —
            # first/last over the SAME frame, so it stays one Window op
            if len(sortby) != 1 or next(iter(sortby.values())) != 1:
                raise ValueError(
                    "$derivative needs a single ascending sortBy")
            y = _expr(arg["input"], env)
            kcol = F.col(next(iter(sortby)))
            dy = F.last(y).over(w) - F.first(y).over(w)
            dunit = arg.get("unit")
            if dunit:
                if dunit not in _WF_UNIT_MS:
                    raise ValueError(
                        f"unsupported $derivative unit: {dunit!r}")
                kms = (kcol.cast("timestamp").cast("double") * 1000)
                dx = (F.last(kms).over(w) - F.first(kms).over(w)) \
                    / F.lit(_WF_UNIT_MS[dunit])
            else:
                dx = F.last(kcol).over(w) - F.first(kcol).over(w)
            # a single-point frame has Δkey = 0: no rate exists — NULL
            # (try_divide), never an ANSI divide-by-zero abort
            df = df.withColumn(name, F.try_divide(dy, dx))
            continue
        if op in ("$minN", "$maxN", "$firstN", "$lastN"):
            # slice/sort wrap the window AGGREGATE's result, so .over
            # binds on the collect, not the wrapper
            lst = F.collect_list(_expr(arg["input"], env)).over(w)
            n = int(arg["n"])
            if op in ("$minN", "$maxN"):
                out_col = F.slice(F.sort_array(lst, op == "$minN"), 1, n)
            elif op == "$firstN":
                # frame order IS the window order (collect_list over an
                # ordered frame preserves it); lastN takes the tail
                out_col = F.slice(lst, 1, n)
            else:
                out_col = F.reverse(F.slice(F.reverse(lst), 1, n))
            df = df.withColumn(name, out_col)
            continue
        if op == "$sum" and arg == 1:
            c = F.count(F.lit(1))
        elif op == "$count":
            c = F.count(F.lit(1))
        elif op == "$sum":
            c = F.sum(_expr(arg, env))
        elif op == "$avg":
            c = F.avg(_expr(arg, env))
        elif op == "$min":
            c = F.min(_expr(arg, env))
        elif op == "$max":
            c = F.max(_expr(arg, env))
        elif op == "$stdDevPop":
            c = F.stddev_pop(_expr(arg, env))
        elif op == "$stdDevSamp":
            c = F.stddev_samp(_expr(arg, env))
        elif op == "$first":
            c = F.first(_expr(arg, env))
        elif op == "$last":
            c = F.last(_expr(arg, env))
        elif op == "$push":
            c = F.collect_list(_expr(arg, env)) if sortby \
                else F.sort_array(F.collect_list(_expr(arg, env)))
        elif op == "$addToSet":
            c = F.sort_array(F.collect_set(_expr(arg, env)))
        elif op in ("$covariancePop", "$covarianceSamp"):
            a1, a2 = _expr(arg[0], env), _expr(arg[1], env)
            c = (F.covar_pop if op == "$covariancePop"
                 else F.covar_samp)(a1, a2)
        elif op in ("$median", "$percentile"):
            # exact distributed percentile over the frame (Mongo 7.0's
            # t-digest method replaced by the deterministic exact form
            # — the same documented CONTRACT as the $group accumulator:
            # exact is inside every t-digest error envelope, r15)
            y = _expr(arg["input"], env)
            c = (F.percentile(y, F.lit(0.5)) if op == "$median"
                 else F.percentile(y, F.lit([float(p)
                                             for p in arg["p"]])))
        else:
            raise ValueError(
                f"unsupported $setWindowFields operator: {op}")
        df = df.withColumn(name, c.over(w))
    return df


def _sort_key_double(df: DataFrame, field: str) -> Column:
    """Numeric (double) image of a sort field for interpolation math:
    TIMESTAMP_NTZ cannot cast straight to a number — route via
    timestamp (epoch seconds); numerics cast directly."""
    from pyspark.sql import types as ST

    c = F.col(field)
    dt = _field_type(df.schema, field)
    if isinstance(dt, (ST.TimestampNTZType, ST.DateType)):
        c = c.cast("timestamp")
    return c.cast("double")
