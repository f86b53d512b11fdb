"""The ``$match`` QUERY-operator compiler (``_match_cond``/
``_match_op``): equality/range/set operators with Mongo's
type-bracketed matching, $regex, $elemMatch, $type (names/codes/
'number'), $not/$nor null semantics. Split from sources/mongoql.py
in r15."""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.expr import (
    _CMP,
    _bson_type_col,
    _compatible,
    _expr,
    _field,
    _regex_cond,
    _root_env,
)


#: the BSON type names a ``$match`` ``$type`` predicate can actually
#: observe here — exactly what :func:`_bson_type_col` can return, plus
#: 'null' (handled via isNull). Any other name raises (r14 ADVICE).
_BSON_MATCHABLE_TYPES = frozenset({
    "double", "string", "object", "array", "binData", "bool", "date",
    "null", "int", "long", "decimal"})


def _match_op(col: Column, op: str, val: Any, spec: dict | None = None,
              schema=None, field: str | None = None) -> Column:
    """One ``$match`` query operator applied to ``col`` (a field
    reference, or an $elemMatch lambda element). ``field``+``schema``
    enable type bracketing when the target is a named column; ``spec``
    is the enclosing operator document (for ``$regex``'s ``$options``
    sibling key)."""
    def conj(conds):
        acc = None
        for c in conds:
            acc = c if acc is None else acc & c
        return acc if acc is not None else F.lit(True)

    if op in _CMP:
        if field is not None and _compatible(schema, field, val) is False:
            # type-bracketed: cross-type eq/range never match; $ne
            # matches every (typed) value
            return F.lit(op == "$ne")
        return getattr(col, _CMP[op])(F.lit(val))
    if op in ("$in", "$nin"):
        ok = [x for x in val
              if field is None
              or _compatible(schema, field, x) is not False]
        inset = col.isin(*ok) if ok else F.lit(False)
        if op == "$nin":
            # Mongo: $nin also matches docs where the field is
            # missing/null — null-inclusive like $not/$nor
            return F.coalesce(~inset, F.lit(True))
        return inset
    if op == "$exists":
        return col.isNotNull() if val else col.isNull()
    if op == "$type":
        # BSON type names / numeric codes / 'number' alias, scalar or
        # array-of-alternatives; a null value matches only type 'null'
        # (code 10) — same value-typing as the $type expression
        wanted: set[str] = set()
        for v in (val if isinstance(val, list) else [val]):
            if isinstance(v, bool) or not isinstance(v, (str, int)):
                raise ValueError(f"$type expects BSON type names or "
                                 f"codes, got {v!r}")
            if v == "number":
                wanted |= {"int", "long", "double", "decimal"}
                continue
            code = {1: "double", 2: "string", 3: "object", 4: "array",
                    5: "binData", 8: "bool", 9: "date", 10: "null",
                    16: "int", 18: "long", 19: "decimal"}
            name = code.get(v, v) if isinstance(v, int) else v
            if not isinstance(name, str):
                raise ValueError(f"unknown BSON $type code: {v!r}")
            if name not in _BSON_MATCHABLE_TYPES:
                # a valid-but-unrepresentable BSON name ('objectId',
                # 'timestamp', 'regex', 'minKey'...) or a typo'd one
                # ('objectid') would compile to an always-false
                # predicate — raise-don't-guess, mirroring the numeric
                # branch (r14 ADVICE)
                raise ValueError(
                    f"$type name {name!r} is not representable in this "
                    f"rectangular engine (supported: "
                    f"{sorted(_BSON_MATCHABLE_TYPES)} + 'number')")
            wanted.add(name)
        cond = _bson_type_col(col).isin(*sorted(wanted - {"null"}))
        if "null" in wanted:
            return F.coalesce(cond, F.lit(False)) | col.isNull()
        return cond & col.isNotNull()
    if op == "$regex":
        return _regex_cond(col, val, (spec or {}).get("$options"))
    if op == "$size":
        return F.size(col) == F.lit(int(val))
    if op == "$mod":
        if not isinstance(val, list) or len(val) != 2:
            raise ValueError("$mod expects [divisor, remainder]")
        return (col % F.lit(val[0])) == F.lit(val[1])
    if op == "$all":
        if not isinstance(val, list):
            raise ValueError("$all expects an array of values")
        if not val:
            # Mongo: {$all: []} matches NO documents (empty conj would
            # be vacuously true)
            return F.lit(False)
        return conj([F.array_contains(col, F.lit(v)) for v in val])
    if op == "$elemMatch":
        if not isinstance(val, dict) or not val:
            raise ValueError("$elemMatch expects a non-empty document")
        if any(k.startswith("$") for k in val):
            # scalar form: operators apply to the element itself
            return F.exists(col, lambda e: conj(
                [_match_op(e, k, v, val) for k, v in val.items()
                 if k != "$options"]))
        # sub-document form: per-field conditions on the element

        def elem_cond(e):
            conds = []
            for fname, fspec in val.items():
                tgt = e[fname]
                if isinstance(fspec, dict) \
                        and any(k.startswith("$") for k in fspec):
                    conds.extend(_match_op(tgt, k, v, fspec)
                                 for k, v in fspec.items()
                                 if k != "$options")
                else:
                    conds.append(tgt == F.lit(fspec))
            return conj(conds)

        return F.exists(col, elem_cond)
    if op == "$not":
        # Mongo's $not matches where the condition FAILS, including
        # null/missing fields — a null predicate must flip to True,
        # hence the coalesce (plain ~ would drop nulls)
        if isinstance(val, str):
            inner = _regex_cond(col, val, None)
        elif isinstance(val, dict) and val:
            inner = conj([_match_op(col, k, v, val,
                                    schema=schema, field=field)
                          for k, v in val.items() if k != "$options"])
        else:
            raise ValueError("$not expects an operator document or regex")
        return F.coalesce(~inner, F.lit(True))
    raise ValueError(f"unsupported $match operator: {op}")


def _match_cond(cond: dict[str, Any], df: DataFrame) -> Column:
    """``df`` is the stage input. Its schema resolves every query path
    (:func:`_field`) and enables Mongo's type-bracketed matching: an
    int query against a string field matches NOTHING (and $ne matches
    everything) instead of crashing on ANSI's runtime string→number
    cast — found by the pipeline fuzz test."""
    if not cond:
        return F.lit(True)  # Mongo: {$match: {}} is match-all
    schema, doc = df.schema, {"__doc": (df.schema, None)}
    parts: list[Column] = []
    for field, spec in cond.items():
        if field == "$expr":
            # aggregation-expression predicate: the only way Mongo
            # compares two FIELDS in a $match — full expression
            # language, boolean result, evaluated in the stage env
            parts.append(_expr(spec, _root_env(df)).cast("boolean"))
        elif field in ("$and", "$or"):
            sub = [_match_cond(c, df) for c in spec] or [F.lit(True)]
            acc = sub[0]
            for c in sub[1:]:
                acc = (acc & c) if field == "$and" else (acc | c)
            parts.append(acc)
        elif field == "$nor":
            # fails-all-clauses, null/missing included (the $not rule)
            for c in spec:
                parts.append(F.coalesce(~_match_cond(c, df),
                                        F.lit(True)))
        elif field == "$sampleRate":
            # per-document bernoulli sample, Mongo's nondeterminism
            parts.append(F.rand() < F.lit(float(spec)))
        elif isinstance(spec, dict) and any(k.startswith("$") for k in spec):
            col = _field(field, doc)
            for op, val in spec.items():
                if op == "$options":
                    if "$regex" not in spec:
                        raise ValueError("$options requires $regex")
                    continue
                parts.append(_match_op(col, op, val, spec,
                                       schema=schema, field=field))
        else:
            if _compatible(schema, field, spec) is False:
                parts.append(F.lit(False))
            else:
                parts.append(_field(field, doc) == F.lit(spec))
    acc = parts[0]
    for c in parts[1:]:
        acc = acc & c
    return acc
