"""``$lookup`` decompilation — correlated (let + pipeline) and concise
forms lowered to distributed joins (never per-document subqueries):
correlation splitting, $$var substitution, the terminal
$sort/$skip/$limit splitter, terminal-$group forms (incl. the r15
absorbed-$sort ordered accumulators), per-partition-stage key
augmentation, and ``$graphLookup`` BFS. Back-edges into the stage
dispatcher (apply_pipeline, _group) bind lazily at call time —
stages.py imports this module at load time. Split from
sources/mongoql.py in r15."""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.expr import (
    _GRAN_SERIES,
    _expr,
    _field,
    _lookup_sort_cmp,
    _root_env,
)


def _mentions_pipeline_var(v: Any) -> bool:
    """True if any string in the (nested) expression references a ``$$``
    pipeline variable — the conservative correlation detector for
    ``$lookup`` sub-pipelines (a HOF-bound ``$$this`` also trips it;
    that over-approximation only narrows the supported subset, never
    silently mis-joins)."""
    if isinstance(v, str):
        return v.startswith("$$")
    if isinstance(v, dict):
        return any(_mentions_pipeline_var(x) for x in v.values())
    if isinstance(v, list):
        return any(_mentions_pipeline_var(x) for x in v)
    return False


def _mentions_vars(v: Any, names: set[str]) -> bool:
    """True if any ``$$var`` reference in the (nested) spec names one of
    ``names`` — the targeted let-var detector (HOF-bound ``$$this``/
    ``$$value`` don't trip it, unlike :func:`_mentions_pipeline_var`)."""
    if isinstance(v, str) and v.startswith("$$"):
        return v[2:].partition(".")[0] in names
    if isinstance(v, dict):
        return any(_mentions_vars(x, names) for x in v.values())
    if isinstance(v, list):
        return any(_mentions_vars(x, names) for x in v)
    return False


def _subst_let_refs(v: Any, mapping: dict[str, str]) -> Any:
    """Rewrite ``$$var[.path]`` references to ``$column[.path]`` field
    references per ``mapping`` — how the general correlated-$lookup
    path turns let variables into plain joined columns. HOF-bound
    variables (``$$this`` etc., absent from the mapping) pass through
    untouched."""
    if isinstance(v, str) and v.startswith("$$"):
        name, _, rest = v[2:].partition(".")
        if name in mapping:
            return "$" + mapping[name] + (("." + rest) if rest else "")
        return v
    if isinstance(v, dict):
        return {k: _subst_let_refs(x, mapping) for k, x in v.items()}
    if isinstance(v, list):
        return [_subst_let_refs(x, mapping) for x in v]
    return v


def _split_lookup_correlation(expr: Any, let_vars: set[str]):
    """Decompose a correlated ``$lookup`` leading ``$match`` ``$expr``
    into (a) equality JOIN PAIRS ``(let_var, foreign_field)`` from
    ``{$eq: ["$$var", "$field"]}`` conjuncts (either operand order),
    (b) plain NON-correlated conjuncts (foreign-side filter), and
    (c) correlated NON-equi conjuncts (e.g. ``{$gt: ["$qty",
    "$$min"]}``) — those force the general distinct-let-tuples path,
    where they become ordinary post-join filters. At least one equality
    pair is required (it bounds the join; without one the correlation
    is a cross product — raise with guidance)."""
    conjs = (expr["$and"] if isinstance(expr, dict) and set(expr) == {"$and"}
             else [expr])
    pairs, plain, corr = [], [], []
    for c in conjs:
        pair = None
        if (isinstance(c, dict) and set(c) == {"$eq"}
                and isinstance(c["$eq"], list) and len(c["$eq"]) == 2):
            a, b = c["$eq"]
            for x, y in ((a, b), (b, a)):
                if (isinstance(x, str) and x.startswith("$$")
                        and "." not in x[2:] and x[2:] in let_vars
                        and isinstance(y, str) and y.startswith("$")
                        and not y.startswith("$$")):
                    pair = (x[2:], y[1:])
                    break
        if pair is not None:
            pairs.append(pair)
        elif _mentions_vars(c, let_vars):
            corr.append(c)
        else:
            plain.append(c)
    if not pairs:
        raise ValueError(
            "$lookup with let: the pipeline's first $match $expr has no "
            "{$eq: ['$$var', '$field']} conjunct to join on — at least "
            "one equality is needed to bound the correlation (pure "
            "non-equi correlation is a cross product)")
    return pairs, plain, corr


def _split_term_sort_limit(stages: list[dict[str, Any]]):
    """Split a correlated-$lookup sub-pipeline's TERMINAL ``$sort``
    [+ ``$skip``] [+ ``$limit``] suffix — Mongo's 'latest matching doc
    per outer document' idiom and its ``$sort+$skip+$limit`` pagination
    cousin. Per-document scope makes these a per-KEY ordered
    top-k-after-offset, which lowers to one ``array_sort`` (custom
    comparator, multi-field asc/desc with BSON null-first ordering)
    + ``slice`` on the packed array — never a global sort/skip/limit.
    A terminal ``$skip``/``$limit`` WITHOUT ``$sort`` orders by Mongo's
    natural (undefined) order — refused, the translator's determinism
    contract. Only the pipeline order ``$sort, $skip, $limit`` is
    recognized (``$limit`` before ``$skip`` truncates BEFORE the offset
    — a different result Mongo users rarely mean; it falls through to
    the per-document scope guard)."""
    stages = list(stages)
    limit = None
    if stages and isinstance(stages[-1], dict) \
            and set(stages[-1]) == {"$limit"}:
        limit = int(stages[-1]["$limit"])
        if limit < 1:
            # Mongo: 'the limit must be positive' — and a 0/negative
            # slice would otherwise yield silently-empty arrays or a
            # raw Spark runtime error (r16 ADVICE)
            raise ValueError("$limit must be a positive integer")
        stages = stages[:-1]
    skip = None
    if stages and isinstance(stages[-1], dict) \
            and set(stages[-1]) == {"$skip"}:
        skip = int(stages[-1]["$skip"])
        if skip < 0:
            raise ValueError("$skip must be non-negative")
        stages = stages[:-1]
    sort = None
    if stages and isinstance(stages[-1], dict) \
            and set(stages[-1]) == {"$sort"}:
        sort = dict(stages[-1]["$sort"])
        if any("." in f for f in sort):
            raise ValueError(
                "$lookup sub-pipeline $sort on a dotted path is "
                "unsupported — $addFields the value to a top-level "
                "field first")
        stages = stages[:-1]
    if (limit is not None or skip is not None) and sort is None:
        raise ValueError(
            "$lookup sub-pipeline terminal $skip/$limit without $sort "
            "has no defined order (Mongo's natural order is undefined) "
            "— add a $sort so the per-document slice is deterministic "
            "(supported suffix order: $sort, $skip, $limit)")
    return stages, sort, skip, limit


def _bucket_as_group_stages(spec: dict[str, Any]) -> list[dict[str, Any]]:
    """Rewrite a ``$bucket`` spec into ``$addFields`` (the bucket label
    as a ``$switch`` over the boundary intervals) + ``$group`` on that
    label — semantically the stage IS that pair (cf. :func:`_bucket`),
    and the pair composes with the correlated-$lookup terminal-group
    pack where a raw Column cannot. Requires an explicit ``default``:
    Mongo ERRORS on an out-of-bounds value, and inside a decomposed
    join there is no per-document error channel — raising at compile
    time beats a silent null bucket."""
    missing = [k for k in ("groupBy", "boundaries") if k not in spec]
    if missing:
        # bare KeyError here would break the translator's documented
        # ValueError contract for malformed specs (r14 ADVICE)
        raise ValueError(f"$bucket spec missing required "
                         f"field(s): {missing}")
    bounds = spec["boundaries"]
    if len(bounds) < 2 or not all(a < b for a, b in zip(bounds, bounds[1:])):
        raise ValueError(
            "$bucket boundaries must be strictly increasing, length >= 2")
    if "default" not in spec:
        raise ValueError(
            "terminal $bucket in a $lookup sub-pipeline needs an "
            "explicit default — Mongo errors per document on "
            "out-of-bounds values, which a decomposed join cannot "
            "reproduce row-by-row")
    gb = spec["groupBy"]
    stringify = isinstance(spec["default"], str) \
        and not all(isinstance(b, str) for b in bounds)

    def lab(v):
        return {"$literal": str(v) if stringify else v}

    branches = [{"case": {"$and": [{"$gte": [gb, lo]},
                                   {"$lt": [gb, hi]}]},
                 "then": lab(lo)}
                for lo, hi in zip(bounds[:-1], bounds[1:])]
    sw = {"$switch": {"branches": branches, "default": lab(spec["default"])}}
    return [{"$addFields": {"__bucket": sw}},
            {"$group": {"_id": "$__bucket",
                        **spec.get("output", {"count": {"$sum": 1}})}}]


def _augment_partitions(stages: list[dict[str, Any]],
                        key_fields: list[str]
                        ) -> tuple[list[dict[str, Any]], list[str]]:
    """Make per-partition/per-collection stages PER-DOCUMENT inside a
    correlated ``$lookup``, returning ``(stages, current key columns)``:

    - ``$setWindowFields``/``$fill``/``$densify`` (r14): the stage's
      partition key is EXTENDED by the join/let key columns — every
      partition then is one key's matched set, so windows, gap fills
      and grids never leak across documents. ``$densify`` ``bounds:
      "full"`` rewrites to ``"partition"``: the per-document pipeline's
      'full' range IS the per-key range here.
    - NON-terminal ``$group`` (r15 — previously refused): grouped ONCE
      over (join keys, user ``_id``), the join keys then carried
      forward as internal ``__gk*`` columns (a Mongo group output doc
      has only ``_id`` + accumulators, so the carried keys must be
      invisible — the ``__`` namespace rides through later projections
      and is stripped from packed docs). Every later stage, including
      another ``$group`` or the final pack, keys on the CARRIED
      columns — hence the returned key list. If a mid-pipeline
      ``$sort`` preceded the group, its ``__rn`` rank feeds the
      group's ordered accumulators (dispatcher-level absorb).
    """
    out = []
    keys = list(key_fields)
    gen = 0
    for st in stages:
        ops = set(st) if isinstance(st, dict) else set()
        if ops == {"$group"}:
            spec = dict(st["$group"])
            if "_id" not in spec:
                raise ValueError("$group requires an _id field")
            uid = spec.pop("_id")
            idspec: dict[str, Any] = {f"__k{i}": f"${k}"
                                      for i, k in enumerate(keys)}
            idspec["__u"] = uid
            newkeys = [f"__gk{gen}_{i}" for i in range(len(keys))]
            gen += 1
            out.append({"$group": {"_id": idspec, **spec}})
            out.append({"$addFields": {nk: f"$_id.__k{i}"
                                       for i, nk in enumerate(newkeys)}})
            out.append({"$addFields": {"_id": "$_id.__u"}})
            keys = newkeys
        elif ops == {"$setWindowFields"}:
            spec = dict(st["$setWindowFields"])
            aug: dict[str, Any] = {f"__pk{i}": f"${f}"
                                   for i, f in enumerate(keys)}
            if spec.get("partitionBy") is not None:
                aug["__pborig"] = spec["partitionBy"]
            spec["partitionBy"] = aug
            out.append({"$setWindowFields": spec})
        elif ops == {"$densify"}:
            spec = dict(st["$densify"])
            if "range" not in spec:
                # ValueError, the documented malformed-spec error
                # class — not a bare KeyError (r14 ADVICE)
                raise ValueError("$densify spec missing required "
                                 "field: 'range'")
            spec["partitionByFields"] = (
                list(spec.get("partitionByFields") or [])
                + [f for f in keys
                   if f not in (spec.get("partitionByFields") or [])])
            rng = dict(spec["range"])
            if rng.get("bounds") == "full":
                rng["bounds"] = "partition"
            spec["range"] = rng
            out.append({"$densify": spec})
        elif ops == {"$fill"}:
            spec = dict(st["$fill"])
            if spec.get("partitionBy") is not None:
                aug = {f"__pk{i}": f"${f}"
                       for i, f in enumerate(keys)}
                aug["__pborig"] = spec["partitionBy"]
                spec["partitionBy"] = aug
            else:
                spec["partitionByFields"] = (
                    list(spec.get("partitionByFields") or [])
                    + [f for f in keys
                       if f not in (spec.get("partitionByFields") or [])])
            out.append({"$fill": spec})
        else:
            out.append(st)
    return out, keys


def _bucket_auto_as_stages(spec: dict[str, Any]) -> list[dict[str, Any]]:
    """``$bucketAuto`` inside a correlated ``$lookup`` (r15 — the last
    per-document stage refusal), ANY position: ~equal-population
    buckets PER OUTER DOCUMENT. Lowered with existing ops only:

    1. a ``$setWindowFields`` ``$percentile`` over the whole (join-key
       augmented) partition yields each row its key's exact B+1
       quantile boundaries — the same exact-percentile contract as the
       top-level ``_bucket_auto`` (q176: bit-exact vs DuckDB
       quantile_cont);
    2. order-preserving dedupe of the boundary array (Mongo merges
       duplicate boundaries into fewer buckets) via a ``$reduce``
       fold;
    3. branch-free bucket assignment: idx = clamp(#edges <= value − 1,
       0, #edges − 2) — nulls land in the first bucket (BSON null
       sorts below every value), the maximum lands in the last
       (inclusive upper bound, Mongo's rule), a single-distinct-value
       key collapses to one ``{min: v, max: v}`` bucket;
    4. a ``$group`` on the composite ``_id {min, max}`` doc carrying
       the user's ``output`` accumulators — which the mid-group
       rewrite then scopes per document.

    With ``granularity`` (r16 — previously refused), the boundary
    array is snapped to the preferred-number series BEFORE dedupe via
    the internal ``$__granSnap`` expression (``expr._gran_snap_edges``
    — the column image of the top-level driver-side rounder, same
    candidate arithmetic): edges become ``[down(min)] + up(interior)
    + [up(max)]``, the same clamp assigns buckets (every value falls
    strictly inside (lo, hi), nulls to the first bucket), and ``_id``
    bounds are the snapped series values. A negative groupBy value
    raises at RUNTIME (raise_error) where the top-level stage raises
    at plan time — inside a join decomposition the check is
    data-dependent."""
    gran = spec.get("granularity")
    if gran is not None and gran != "POWERSOF2" \
            and gran not in _GRAN_SERIES:
        raise ValueError(
            f"unsupported $bucketAuto granularity {gran!r} (supported: "
            f"{sorted(_GRAN_SERIES) + ['POWERSOF2']})")
    missing = [k for k in ("groupBy", "buckets") if k not in spec]
    if missing:
        raise ValueError(f"$bucketAuto spec missing required "
                         f"field(s): {missing}")
    buckets = int(spec["buckets"])
    if buckets < 1:
        raise ValueError("$bucketAuto buckets must be >= 1")
    g = spec["groupBy"]
    ps = [i / buckets for i in range(buckets + 1)]
    if gran is not None:
        # snapped edges [down(min)] + up(interior) + [up(max)] — the
        # clamp below then assigns off the snapped array unchanged
        edges = {"$__granSnap": {"input": "$__bnd", "granularity": gran}}
    else:
        # dedupe the (already ascending) boundary array: $setUnion's
        # sorted-distinct IS order-preserving dedupe on a monotone input
        edges = {"$setUnion": ["$__bnd", "$__bnd"]}
    m = {"$size": "$__edges"}
    raw = {"$subtract": [
        {"$size": {"$filter": {"input": "$__edges",
                               "cond": {"$gte": [g, "$$this"]}}}}, 1]}
    idx = {"$min": [{"$max": [raw, 0]},
                    {"$max": [{"$subtract": [m, 2]}, 0]}]}
    lo = {"$arrayElemAt": ["$__edges", "$__bkt"]}
    hi = {"$cond": [{"$lte": [m, 1]}, lo,
                    {"$arrayElemAt": ["$__edges",
                                      {"$add": ["$__bkt", 1]}]}]}
    return [
        {"$setWindowFields": {"output": {"__bnd": {"$percentile": {
            "input": g, "p": ps}}}}},
        {"$addFields": {"__edges": edges}},
        {"$addFields": {"__bkt": idx}},
        {"$group": {"_id": {"min": lo, "max": hi},
                    **spec.get("output", {"count": {"$sum": 1}})}},
    ]


def _expand_term_sugar_suffix(stages: list[dict[str, Any]]
                              ) -> list[dict[str, Any]]:
    """Terminal ``$sortByCount``/``$bucketAuto`` followed by ``$skip``/
    ``$limit`` — Mongo's 'top-k categories / first-k buckets per
    document' idiom, previously refused as 'terminal $skip/$limit
    without $sort has no defined order' even though the sugar stage's
    output order IS pinned by the translator (``$sortByCount``: count
    desc, _id asc; ``$bucketAuto``: ascending bucket bounds). Expand
    the sugar to its ``$group`` definition plus an EXPLICIT ``$sort``
    in that pinned order, and the existing terminal-suffix machinery
    (mid-group rewrite + per-key pack slice, the r15 q211 'top-k
    groups' path) slices per outer document (r16 ADVICE). Only the
    recognized suffix order ``$skip, $limit`` expands; others fall
    through to the splitter's refusal."""
    tail: list[dict[str, Any]] = []
    i = len(stages)
    if i and isinstance(stages[i - 1], dict) \
            and set(stages[i - 1]) == {"$limit"}:
        tail.insert(0, stages[i - 1])
        i -= 1
    if i and isinstance(stages[i - 1], dict) \
            and set(stages[i - 1]) == {"$skip"}:
        tail.insert(0, stages[i - 1])
        i -= 1
    if not tail or not i or not isinstance(stages[i - 1], dict):
        return stages
    ops = set(stages[i - 1])
    if ops == {"$sortByCount"}:
        expand: list[dict[str, Any]] = [
            {"$group": {"_id": stages[i - 1]["$sortByCount"],
                        "count": {"$sum": 1}}},
            {"$sort": {"count": -1, "_id": 1}}]
    elif ops == {"$bucketAuto"}:
        expand = _bucket_auto_as_stages(stages[i - 1]["$bucketAuto"]) \
            + [{"$sort": {"_id": 1}}]
    else:
        return stages
    return stages[:i - 1] + expand + tail


def _rewrite_mid_sugar(stages: list[dict[str, Any]]
                       ) -> list[dict[str, Any]]:
    """Rewrite NON-terminal ``$count``/``$sortByCount``/``$bucket`` in
    a correlated ``$lookup`` sub-pipeline into their ``$group``
    (+``$sort``) definitions, and ``$sample`` (ANY position) into a
    rand-keyed per-document ranking window (r15). Terminal occurrences keep their
    dedicated lowerings (cheaper pack-level forms); mid-pipeline ones
    become groups the mid-group rewrite then scopes per document, with
    any emitted ``$sort`` lowered to a ranking window by
    :func:`_lower_mid_sort_limit`. ``$count`` emits Mongo's exact doc
    shape (the count field only, no ``_id``)."""
    out: list[dict[str, Any]] = []
    last = len(stages) - 1
    for i, st in enumerate(stages):
        ops = set(st) if isinstance(st, dict) else set()
        if ops == {"$sample"}:
            # per-document $sample (r15, ANY position): n random
            # matches per outer document — a rand-keyed ranking window
            # (the join-key partition makes it per-document), the same
            # random-per-run convention as the top-level $sample
            # lowering. Mongo's contract is 'any n docs, random
            # order'; the carried __rn packs them in that random order
            n = int(st["$sample"]["size"])
            if n < 0:
                raise ValueError("$sample size must be non-negative")
            out.append({"$addFields": {"__smp": {"$rand": {}}}})
            out.append({"$setWindowFields": {
                "sortBy": {"__smp": 1},
                "output": {"__rn": {"$documentNumber": {}}}}})
            out.append({"$match": {"__rn": {"$lte": n}}})
            continue
        if ops == {"$bucketAuto"}:
            out.extend(_bucket_auto_as_stages(st["$bucketAuto"]))
            continue
        if i == last or len(ops) != 1 \
                or not ops & {"$count", "$sortByCount", "$bucket"}:
            out.append(st)
            continue
        if ops == {"$count"}:
            cname = st["$count"]
            if not isinstance(cname, str) or not cname:
                raise ValueError("$count expects a non-empty field name")
            out.append({"$group": {"_id": None, cname: {"$sum": 1}}})
            out.append({"$project": {cname: 1, "_id": 0}})
        elif ops == {"$sortByCount"}:
            out.append({"$group": {"_id": st["$sortByCount"],
                                   "count": {"$sum": 1}}})
            # count desc, _id asc — Mongo's contract plus the
            # deterministic tiebreak, same as the terminal form
            out.append({"$sort": {"count": -1, "_id": 1}})
        else:
            out.extend(_bucket_as_group_stages(st["$bucket"]))
    return out


def _lower_mid_sort_limit(stages: list[dict[str, Any]]
                          ) -> list[dict[str, Any]]:
    """MID-pipeline ``$sort`` [+ ``$skip``] [+ ``$limit``] in a
    correlated ``$lookup`` sub-pipeline (r15) — Mongo's per-document
    'top-k, then keep transforming' idiom ([$sort, $limit, $project])
    that the scope guard used to refuse. Lowered to a per-key ranking
    window: ``$setWindowFields`` with ``$documentNumber`` over the
    sort key (``_augment_partitions`` extends its partitionBy with the
    join keys, so the rank IS per outer document) + a ``$match`` on
    the rank range, with the rank kept as the internal ``__rn`` column
    so the final pack preserves the sort order (``__``-internal
    columns are stripped from packed docs). At 100 TB this is the
    bounded shape the rank-family docstring recommends for huge
    groups: the window sort spills to disk, and its hash-partitioning
    on the join keys is the SAME partitioning the pack's groupBy
    needs — one shuffle total, no global sort, no per-document rerun.

    Left alone: a TERMINAL run (the slice-based terminal splitter owns
    it — cheaper, no window) and a bare ``$sort`` immediately before
    the terminal ``$group`` (the ``_group`` ``sort_spec`` absorption
    owns it, no window needed). Any OTHER path into a terminal
    ``$group`` — a run with ``$skip``/``$limit`` before it, or stages
    between the sort and the group — carries the order as ``__rn``,
    which ``pack`` hands the group compiler as its ``sort_spec``, so
    ordered accumulators still honor the sort ('aggregate each
    document's top-k'), robust even when later projections drop the
    sort fields themselves. Ties within equal sort keys take Mongo's
    own unspecified-order latitude (the row_number assignment); use
    tie-free keys where cross-engine determinism matters."""
    out: list[dict[str, Any]] = []
    i, n = 0, len(stages)
    while i < n:
        st = stages[i]
        if not (isinstance(st, dict) and set(st) == {"$sort"}):
            out.append(st)
            i += 1
            continue
        sort = dict(st["$sort"])
        j, skip, limit = i + 1, None, None
        if j < n and isinstance(stages[j], dict) \
                and set(stages[j]) == {"$skip"}:
            skip = int(stages[j]["$skip"])
            if skip < 0:
                raise ValueError("$skip must be non-negative")
            j += 1
        if j < n and isinstance(stages[j], dict) \
                and set(stages[j]) == {"$limit"}:
            limit = int(stages[j]["$limit"])
            if limit < 1:
                # Mongo: 'the limit must be positive' (r16 ADVICE —
                # a 0 here silently yielded empty per-document arrays)
                raise ValueError("$limit must be a positive integer")
            j += 1
        term_group_next = (
            j == n - 1 and isinstance(stages[j], dict)
            and set(stages[j]) == {"$group"}
            and "_id" in stages[j]["$group"])
        if j == n:
            # terminal run — the slice-based splitter owns it
            out.extend(stages[i:j])
            i = j
            continue
        if skip is None and limit is None and term_group_next:
            # bare $sort adjacent to the terminal $group — the _group
            # sort_spec absorption owns it (no window needed)
            out.append(st)
            i += 1
            continue
        if any("." in f for f in sort):
            raise ValueError(
                "$lookup sub-pipeline $sort on a dotted path is "
                "unsupported — $addFields the value to a top-level "
                "field first")
        out.append({"$setWindowFields": {
            "sortBy": sort,
            "output": {"__rn": {"$documentNumber": {}}}}})
        rng: dict[str, Any] = {}
        if skip is not None:
            rng["$gt"] = skip
        if limit is not None:
            rng["$lte"] = (skip or 0) + limit
        if rng:
            out.append({"$match": {"__rn": rng}})
        i = j
    return out


def _correlated_lookup(df: DataFrame, spec: dict[str, Any],
                       collections: dict[str, DataFrame]) -> DataFrame:
    """Correlated ``$lookup`` (``let`` + ``pipeline``, and the concise
    ``localField``/``foreignField`` + ``pipeline`` form), decompiled to
    distributed joins — never a per-document subquery loop. The leading
    ``$match`` ``$expr`` must contribute at least one
    ``{$eq: ["$$var", "$field"]}`` equality (it bounds the join); the
    pipeline's first stage must be a ``$match`` containing ``$expr``.

    FAST path (no let-var references beyond the equality prefix): the
    residual sub-pipeline runs ONCE over the filtered foreign
    collection grouped by its own join fields — valid because equality
    correlation makes the sub-result a pure function of the key. One
    shuffle per side.

    GENERAL path (non-equi correlated conjuncts, or ``$$var`` refs in
    later stages): the classic unnesting rewrite (cf. Neumann & Kemper,
    "Unnesting Arbitrary Queries", BTW'15 — the magic-set/distinct-
    correlated-values idea): materialize the DISTINCT outer let-value
    tuples, equi-join them to the foreign side on the equality pairs,
    substitute every ``$$var`` with its joined ``__lk`` column
    (:func:`_subst_let_refs` — non-equi correlation becomes an ordinary
    post-join filter), run the residual sub-pipeline per let-tuple, and
    left-join the packed per-tuple arrays back to the outer side. The
    sub-pipeline is evaluated once per DISTINCT let tuple, not per
    outer document.

    Shared lowering: a terminal ``{$group: {_id: null, ...}}`` (the
    per-document aggregate idiom) is rewritten to group by the key
    columns via the existing :func:`_group` compiler, each key's single
    result doc packed as a 1-element array (Mongo emits no doc for an
    empty group — the empty-array coalesce reproduces that); a terminal
    ``$group`` with a GROUPING ``_id`` (expression or composite doc,
    r14) groups ONCE over (key columns, ``_id`` expr) and packs one
    element per distinct sub-key, the array sorted by ``_id``
    (distinct within a key, so the order is total); a ``$sort``
    immediately BEFORE either terminal ``$group`` form (r15 — Mongo's
    'latest doc per key' idiom: ``$sort`` then ``$first/$last/$push``)
    is ABSORBED into the group's order-sensitive accumulators
    (``$first``→``$top``, ``$firstN``→``$topN``, comparator-ordered
    ``$push``/``$mergeObjects`` — see :func:`_group`), so the
    per-document sort never plans as a global one; a NON-terminal
    ``$group`` — including one followed by ``$match``-on-aggregates,
    another ``$group``, or a terminal ``$sort``/``$limit`` suffix
    ('top-k groups per document') — is rewritten by
    :func:`_augment_partitions` to group over (join keys, ``_id``)
    with the keys carried as internal ``__gk*`` columns (r15), and
    mid-pipeline ``$count``/``$sortByCount``/``$bucket`` reduce to
    that via :func:`_rewrite_mid_sugar`; a terminal
    ``$sort`` [+ ``$skip`` n] [+ ``$limit`` k] suffix (Mongo's 'latest
    matching doc' idiom and its pagination cousin) becomes a per-KEY
    ordered top-k-after-offset — ``array_sort`` with a multi-field
    asc/desc comparator + ``slice`` on the packed array,
    zero extra shuffles (:func:`_split_term_sort_limit`); a
    MID-pipeline ``$sort`` [+ ``$skip``] [+ ``$limit``] run — more
    stages follow it — becomes a per-key ``$documentNumber`` ranking
    window + rank filter (:func:`_lower_mid_sort_limit`, r15), its
    order carried through later row-local stages as the internal
    ``__rn`` column into the pack (and into the terminal ``$group``'s
    ordered accumulators); otherwise matching docs pack per key
    (sorted — deterministic beats Mongo's unspecified order, the
    $lookup convention). The final outer join is null-safe (Mongo's
    $eq matches null to null). Contracts (raise, never silently
    diverge): the sub-pipeline must keep the join/let key columns in
    scope (don't project them away), and the remaining genuinely
    per-outer-document stages ($sample/$bucketAuto/$skip/$limit with
    no preceding $sort/non-terminal $group) are refused rather than
    applied globally."""
    # back-edge into the dispatcher, bound at CALL time: stages.py
    # imports this module while loading, so a module-level import
    # here would be circular
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.stages import (
        _group,
        apply_pipeline,
    )

    foreign = collections[spec["from"]]
    let = dict(spec.get("let", {}))
    pipeline = list(spec["pipeline"])
    out = spec["as"]
    env = _root_env(df)
    if "localField" in spec or "foreignField" in spec:
        # concise correlated form = sugar for a let/$expr equality prefix
        let["__lf"] = "$" + spec["localField"]
        pipeline.insert(0, {"$match": {"$expr": {
            "$eq": ["$$__lf", "$" + spec["foreignField"]]}}})
    if not pipeline or set(pipeline[0]) != {"$match"} \
            or "$expr" not in pipeline[0]["$match"]:
        raise ValueError(
            "$lookup with let: the pipeline must START with a $match "
            "containing $expr so the correlation can decompile to a join")
    match_spec = pipeline[0]["$match"]
    pairs, plain_conjs, corr_conjs = _split_lookup_correlation(
        match_spec["$expr"], set(let))
    # Terminal $sort [+ $limit] is the per-document ordered-top-k
    # idiom ('latest matching doc') — split it off FIRST: it lowers to
    # array_sort + slice on each key's packed array (one comparator,
    # zero extra shuffles), never a global sort/limit. A terminal
    # $sortByCount/$bucketAuto + $skip/$limit suffix expands to its
    # $group + pinned-order $sort first, so the splitter sees a
    # defined order (r16).
    rest, term_sort, term_skip, term_limit = \
        _split_term_sort_limit(_expand_term_sugar_suffix(pipeline[1:]))
    if rest and isinstance(rest[-1], dict) and set(rest[-1]) == {"$bucket"}:
        # terminal $bucket (r14): the bucket label is ROW-LOCAL, so the
        # stage rewrites to $addFields(label) + terminal grouping-_id
        # $group and rides the per-key pack — 'histogram of matches per
        # outer document' without a per-document re-run
        rest = rest[:-1] + _bucket_as_group_stages(rest[-1]["$bucket"])
    if rest and isinstance(rest[-1], dict) \
            and set(rest[-1]) == {"$count"}:
        # terminal $count (r14): 'how many matches' — sugar for the
        # _id:null aggregate; the packed element carries the _id:null
        # slot the terminal-$group pack always emits (rectangular
        # deviation: Mongo's $count doc has no _id field; reading it
        # yields null here)
        cname = rest[-1]["$count"]
        if not isinstance(cname, str) or not cname:
            raise ValueError("$count expects a non-empty field name")
        rest = rest[:-1] + [{"$group": {"_id": None,
                                        cname: {"$sum": 1}}}]
    term_elem_order = None
    if rest and isinstance(rest[-1], dict) \
            and set(rest[-1]) == {"$sortByCount"}:
        # terminal $sortByCount (r14): sugar for $group-by-expr +
        # count-descending order — rides the same per-key pack, with
        # the packed array ordered (count desc, _id asc), Mongo's
        # contract plus the translator's deterministic tiebreak
        rest = rest[:-1] + [{"$group": {"_id": rest[-1]["$sortByCount"],
                                        "count": {"$sum": 1}}}]
        term_elem_order = {"count": -1, "_id": 1}
    # mid-pipeline sugar stages → their $group(+$sort) forms, then
    # mid-pipeline $sort/$skip/$limit runs → per-key ranking windows
    # (r15) — BEFORE the scope guard so the rewritten stages pass it
    rest = _rewrite_mid_sugar(rest)
    rest = _lower_mid_sort_limit(rest)
    # Per-document scope guard: the residual sub-pipeline runs ONCE
    # over the (filtered/joined) foreign frame — never once per outer
    # document — so only stages whose per-key result is invariant to
    # the other keys' rows are sound. A MID-pipeline $limit with no
    # preceding $sort would be Mongo's natural-order limit — no
    # defined order to rank by. Contract: raise, never silently
    # diverge.
    _ROW_LOCAL = {"$match", "$project", "$addFields", "$set", "$unset",
                  "$unwind", "$replaceRoot", "$replaceWith", "$redact",
                  "$lookup", "$graphLookup",
                  # per-PARTITION stages made per-document by extending
                  # their partition key with the join/let keys (r14,
                  # _augment_partitions) — exact, never global
                  "$setWindowFields", "$densify", "$fill"}
    def _is_term_group(st) -> bool:
        return (isinstance(st, dict) and set(st) == {"$group"}
                and "_id" in st["$group"])

    for i, st in enumerate(rest):
        ops = set(st) if isinstance(st, dict) else set()
        if ops and ops <= _ROW_LOCAL:
            continue
        if ops == {"$group"} and "_id" in st["$group"]:
            # TERMINAL per-doc $group — regrouped per (outer key, _id):
            # _id null packs ONE aggregate doc per key; a grouping _id
            # (r14) packs one element per distinct sub-key. A
            # NON-terminal $group (r15) is rewritten by
            # _augment_partitions to group over (join keys, _id) with
            # the keys carried forward as __gk* columns — per-document
            # exact, one aggregation, never a re-run
            continue
        if (ops == {"$sort"} and i == len(rest) - 2
                and _is_term_group(rest[-1])):
            # $sort immediately before the terminal $group (r15 —
            # Mongo's 'latest doc per key' idiom): ABSORBED into the
            # group's order-sensitive accumulators ($first→$top,
            # $firstN→$topN, ordered $push/$mergeObjects) by the
            # _group compiler — the per-document sort never becomes a
            # global one, and order-insensitive accumulators ignore it
            continue
        raise ValueError(
            f"$lookup with let: sub-pipeline stage {sorted(ops)} is "
            "scoped PER OUTER DOCUMENT in Mongo but would apply "
            "globally under the join decompilation (a $skip/$limit "
            "with no preceding $sort — Mongo's natural order has no "
            "distributed definition). Supported per-document forms: "
            "$sort [+ $skip] [+ $limit] ANYWHERE (terminal runs slice "
            "the packed array; mid-pipeline runs rank per key via a "
            "join-key window — r15); a terminal $group (_id: null "
            "aggregate or grouping _id), optionally preceded by a "
            "$sort [+ $skip/$limit] its ordered accumulators honor "
            "($first/$last/$firstN/$lastN/$push/$mergeObjects — r15); "
            "a terminal $bucket (explicit default) / $sortByCount / "
            "$count; $group/$count/$sortByCount/$bucket ANYWHERE "
            "(r15 — grouped over the join keys, which then ride as "
            "carried columns); and $setWindowFields/$fill/$densify "
            "anywhere (partition key extended by the join keys — "
            "exact). "
            "Otherwise rewrite over the joined array "
            "($sortArray + $slice)")
    plain_match = {k: v for k, v in match_spec.items() if k != "$expr"}
    general = bool(corr_conjs) or _mentions_vars(rest, set(let))

    def expr_match(conjs):
        return {"$match": {"$expr": ({"$and": conjs} if len(conjs) > 1
                                     else conjs[0])}}

    def split_term_group(stages):
        """(residual stages, terminal $group spec or None, absorbed
        $sort spec or None). A ``$sort`` immediately before the
        terminal ``$group`` (r15) is stripped here and handed to the
        ``_group`` compiler as ``sort_spec`` — its order-sensitive
        accumulators compile against the key, so no global sort is
        ever planned."""
        if stages and set(stages[-1]) == {"$group"} \
                and "_id" in stages[-1]["$group"]:
            if term_sort is not None or term_skip is not None \
                    or term_limit is not None:
                # [..., $group, $sort[, $skip][, $limit]] — order/slice
                # the GROUP OUTPUT docs per document (top-k groups).
                # Route the group through the mid-group rewrite
                # (_augment_partitions) and let the terminal suffix
                # sort/slice the packed elements (r15; raised in r14)
                return stages, None, None
            gsort = None
            if len(stages) >= 2 and isinstance(stages[-2], dict) \
                    and set(stages[-2]) == {"$sort"}:
                gsort = dict(stages[-2]["$sort"])
                return stages[:-2], stages[-1]["$group"], gsort
            return stages[:-1], stages[-1]["$group"], None
        return stages, None, None

    def packed_list(fields):
        order = term_sort
        if order is None and "__rn" in fields:
            # a mid-pipeline $sort's rank column (r15): Mongo keeps the
            # sort order through later row-local stages, so the pack
            # preserves it — by the rank, which encodes the multi-field
            # comparator already applied in the window
            order = {"__rn": 1}
        if order is not None:
            bad = [f for f in order if f not in fields]
            if bad:
                raise ValueError(
                    f"$lookup sub-pipeline $sort field(s) {bad} not in "
                    "the packed documents — keep them in the $project")
        lst = F.collect_list(F.struct(*fields))
        arr = (F.array_sort(lst, _lookup_sort_cmp(order))
               if order is not None else F.sort_array(lst))
        if term_limit is not None or term_skip is not None:
            # Mongo's $skip n then $limit k = elements n+1 .. n+k of
            # the per-key sorted array; a start past the end slices
            # to [] (Mongo: empty result), matching F.slice
            start = (term_skip or 0) + 1
            length = (F.lit(term_limit) if term_limit is not None
                      else F.size(arr))
            arr = F.slice(arr, F.lit(start), length)
        keep = [f for f in fields if not f.startswith("__")]
        if keep and len(keep) != len(fields):
            # translator-internal __ columns (the __rn rank) never leak
            # into packed documents — same rule as $$ROOT (_root_env)
            arr = F.transform(arr, lambda x: F.struct(
                *[x[f].alias(f) for f in keep]))
        return arr

    def pack(sub, key_cols, term_group, gsort=None):
        missing = [src for src in key_cols.values()
                   if src not in sub.columns]
        if missing:
            raise ValueError(
                f"$lookup with let: the sub-pipeline projected away the "
                f"join/let key column(s) {missing} — keep them in the "
                "$project and drop them in the outer pipeline instead")
        if term_group is not None:
            if gsort is None and "__rn" in sub.columns:
                # a mid-pipeline $sort's carried rank (r15): the
                # terminal $group's ordered accumulators absorb the
                # rank column — it encodes the sort order and survives
                # projections that drop the sort fields themselves
                gsort = {"__rn": 1}
            gspec = dict(term_group)
            uid = gspec.pop("_id")
            idspec: dict[str, Any] = {k: "$" + src
                                      for k, src in key_cols.items()}
            if uid is None:
                gspec["_id"] = idspec
                grouped = _group(sub, gspec, sort_spec=gsort)
                accs = [c for c in grouped.columns if c != "_id"]
                return grouped.select(
                    *[F.col(f"_id.{k}").alias(k) for k in key_cols],
                    F.array(F.struct(F.lit(None).alias("_id"),
                                     *[F.col(c) for c in accs]))
                    .alias(out))
            # grouping _id (r14): one array element per DISTINCT
            # sub-key per outer key — ONE aggregation over (join keys,
            # _id expr), then a per-key pack; never a per-document
            # re-run. Packed array sorted by _id (distinct within a
            # key, so the order is total) — the translator's
            # determinism convention for Mongo's unspecified $group
            # output order. __gid* names keep the user's _id fields
            # clear of the __lk join-key slots.
            composite = isinstance(uid, dict) and not (
                len(uid) == 1 and next(iter(uid)).startswith("$"))
            if composite:
                idspec.update({f"__gid_{f}": e for f, e in uid.items()})
            else:
                idspec["__gid"] = uid
            gspec["_id"] = idspec
            grouped = _group(sub, gspec, sort_spec=gsort)
            accs = [c for c in grouped.columns if c != "_id"]
            gid_col = (F.struct(*[F.col(f"_id.__gid_{f}").alias(f)
                                  for f in uid]) if composite
                       else F.col("_id.__gid"))
            elem = F.struct(gid_col.alias("_id"),
                            *[F.col(c) for c in accs])
            lst = F.collect_list(elem)
            arr = (F.array_sort(lst, _lookup_sort_cmp(term_elem_order))
                   if term_elem_order is not None else F.sort_array(lst))
            return (grouped
                    .groupBy(*[F.col(f"_id.{k}").alias(k)
                               for k in key_cols])
                    .agg(arr.alias(out)))
        payload = [c for c in sub.columns if c not in key_cols]
        return (sub
                .groupBy(*[F.col(src).alias(k)
                           for k, src in key_cols.items()])
                .agg(packed_list(payload or sub.columns).alias(out)))

    if not general:
        pre: list[dict[str, Any]] = []
        if plain_conjs:
            pre.append(expr_match(plain_conjs))
        if plain_match:
            pre.append({"$match": plain_match})
        rest, term_group, gsort = split_term_group(rest)
        rest, fkeys = _augment_partitions(rest, [ff for _, ff in pairs])
        sub = apply_pipeline(foreign, pre + rest, collections)
        # key columns START as the foreign join fields on this path
        # (they belong in the packed docs too — Mongo's matched docs
        # carry them); after a mid-pipeline $group (r15) the keys are
        # the carried __gk* columns instead. Pass disjoint
        # alias->source names; payload stays full via a sentinel-free
        # select below
        lk = {f"__lk{i}": fk for i, fk in enumerate(fkeys)}
        missing = [ff for ff in lk.values() if ff not in sub.columns]
        if missing:
            raise ValueError(
                f"$lookup with let: the sub-pipeline projected away the "
                f"foreign join field(s) {missing} — keep them in the "
                "$project and drop them in the outer pipeline instead")
        if term_group is not None:
            packed = pack(sub, lk, term_group, gsort)
        else:
            packed = (sub
                      .groupBy(*[F.col(ff).alias(k)
                                 for k, ff in lk.items()])
                      .agg(packed_list(sub.columns).alias(out)))
        join_vars = [var for var, _ in pairs]
    else:
        lets = list(let)
        lk_of = {v: f"__lk{i}" for i, v in enumerate(lets)}
        fenv = {"__doc": (foreign.schema, None)}
        keys_df = (df.select(*[_expr(let[v], env).alias(lk_of[v])
                               for v in lets]).distinct())
        jcond = None
        for var, ff in pairs:
            c = F.col(lk_of[var]).eqNullSafe(_field(ff, fenv))
            jcond = c if jcond is None else jcond & c
        joined = keys_df.join(foreign, jcond, "inner")
        for st in rest:
            if isinstance(st, dict) and "$lookup" in st:
                shadowed = set(st["$lookup"].get("let", {})) & set(let)
                if shadowed:
                    # a nested $lookup's let re-binds our var names —
                    # blind substitution would corrupt its refs
                    raise ValueError(
                        f"nested $lookup let re-binds outer let "
                        f"variable(s) {sorted(shadowed)} — rename the "
                        "inner variables")
        sub_stages: list[dict[str, Any]] = []
        if corr_conjs:
            sub_stages.append(expr_match(
                _subst_let_refs(corr_conjs, lk_of)))
        if plain_conjs:
            sub_stages.append(expr_match(plain_conjs))
        if plain_match:
            sub_stages.append({"$match": plain_match})
        rest_sub, term_group, gsort = split_term_group(
            _subst_let_refs(rest, lk_of))
        rest_sub, fkeys = _augment_partitions(rest_sub,
                                              list(lk_of.values()))
        sub = apply_pipeline(joined, sub_stages + rest_sub, collections)
        lk = {lk_of[v]: fk for v, fk in zip(lets, fkeys)}
        packed = pack(sub, lk, term_group, gsort)
        join_vars = lets

    cond = None
    for k, var in zip(lk, join_vars):
        c = _expr(let[var], env).eqNullSafe(F.col(k))
        cond = c if cond is None else cond & c
    empty = F.array().cast(packed.schema[out].dataType)
    return (df.drop(out).join(packed, cond, "left").drop(*lk)
            .withColumn(out, F.coalesce(F.col(out), empty)))


def _graph_lookup(df: DataFrame, spec: dict[str, Any],
                  collections: dict[str, DataFrame] | None) -> DataFrame:
    """``$graphLookup``: breadth-first traversal of ``from`` starting
    at ``startWith``, following connectFromField -> connectToField, the
    matched docs packed (unique by ``_id``, sorted) into ``as``. One
    distributed join per DEPTH LEVEL (driver rounds = graph depth, the
    standard Spark shape for bounded recursion — cf. operators/graph.py),
    lineage truncated per round with localCheckpoint; the accumulated
    (root, _id) set guards cycles, so the loop terminates on any graph.
    ``maxDepth``/``depthField`` as in Mongo (depth 0 = the startWith
    matches). Input docs and ``from`` docs need ``_id``."""
    if not collections or spec["from"] not in collections:
        raise ValueError(
            f"$graphLookup needs collections={{{spec.get('from')!r}: "
            "DataFrame}} passed to apply_pipeline")
    frm = collections[spec["from"]]
    cf, ct, out = (spec["connectFromField"], spec["connectToField"],
                   spec["as"])
    if "." in cf or "." in ct:
        raise ValueError("$graphLookup dotted connect fields unsupported")
    if "_id" not in df.columns or "_id" not in frm.columns:
        raise ValueError("$graphLookup needs _id on both sides")
    max_depth = spec.get("maxDepth")
    depth_field = spec.get("depthField")
    fenv = {"__doc": (frm.schema, None)}
    frontier = (df.select(F.col("_id").alias("__root"),
                          _expr(spec["startWith"], _root_env(df))
                          .alias("__key"))
                .filter(F.col("__key").isNotNull()).distinct())
    matched = None
    depth = 0
    while not frontier.isEmpty():
        if max_depth is not None and depth > max_depth:
            break
        hits = (frontier.join(frm, frontier["__key"] == _field(ct, fenv),
                               "inner")
                .drop("__key")
                .withColumn("__depth", F.lit(depth).cast("long")))
        if matched is not None:
            hits = hits.join(matched.select("__root", "_id"),
                             ["__root", "_id"], "left_anti")
        hits = hits.localCheckpoint(eager=True)
        if hits.isEmpty():
            break
        matched = hits if matched is None else matched.unionByName(hits)
        frontier = (hits.select("__root",
                                _field(cf, fenv).alias("__key"))
                    .filter(F.col("__key").isNotNull()).distinct())
        depth += 1
    struct_cols = [F.col(c) for c in frm.columns]
    if depth_field:
        struct_cols.append(F.col("__depth").alias(depth_field))
    if matched is None:
        # no start key matched anything: every doc gets an empty array
        matched = (frm.withColumn("__depth", F.lit(0).cast("long"))
                   .withColumn("__root", F.lit(None).cast(
                       df.schema["_id"].dataType)).limit(0))
    packed = (matched.groupBy("__root")
              .agg(F.sort_array(F.collect_list(
                  F.struct(*struct_cols))).alias(out)))
    empty = F.array().cast(packed.schema[out].dataType)
    return (df.join(packed, df["_id"] == packed["__root"], "left")
            .drop("__root")
            .withColumn(out, F.coalesce(F.col(out), empty)))
