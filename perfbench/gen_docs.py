"""Seeded generator for the ETL workload's nested source documents.

Day 1 holds ``n`` documents per entity for all 13 ``ENTITIES`` schemas,
built column-wise from each StructType with pyarrow (no per-row Python, so
generation stays a small, steady share of set-up time). Conventions follow
``tests/datagen.py``: 24-hex ``_id``; top-level fields absent in ~25% of
documents and nested fields in ~20%; arrays of 0-3 elements. Day 2 mutates
~half the day-1 documents field by field (same ``_id``) and adds 10% new
ids. A few documents per day carry a null ``_id`` so the quarantine path
runs. ``loanapplications.products`` elements are unique strings: that
array, after ``$unwind``, is the entity's merge key.

``expectations()`` derives, from the generated tables alone, what the
warehouse must hold after each phase.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, StringType, StructType,
    TimestampType,
)

NULL_IDS = {1: 3, 2: 2}            # null-_id documents per entity, per day
_WORDS = ["alpha", "beta", "gamma", "delta", "omega", "kappa", "sigma", "zeta"]
_POOL = pa.array([f"{w}{i}" for w in _WORDS for i in range(100)])
#: dateCreated spans the loanapplications $match bound (2022-10-05)
_T0_US = int(np.datetime64("2022-06-01", "us").astype(np.int64))
_SPAN_US = 365 * 86_400_000_000


def _arrow_type(dt) -> pa.DataType:
    if isinstance(dt, StructType):
        return pa.struct([(f.name, _arrow_type(f.dataType)) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    return {BooleanType: pa.bool_(), DoubleType: pa.float64(),
            IntegerType: pa.int32(), StringType: pa.string(),
            TimestampType: pa.timestamp("us", tz="UTC")}[type(dt)]


def _mask(rng, n: int, rate: float) -> np.ndarray:
    return rng.random(n) < rate


def _lengths(rng, n: int, nulls) -> np.ndarray:
    """0-3 elements per array; a null array has length 0 (parquet rule)."""
    lens = rng.choice([0, 1, 1, 2, 3], n)
    if nulls is not None:
        lens[nulls.to_numpy(zero_copy_only=False)] = 0
    return lens


def _list(lens: np.ndarray, values: pa.Array, nulls) -> pa.Array:
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), values, mask=nulls)


def _column(rng, dt, n: int, null_rate: float) -> pa.Array:
    """``n`` random values of ``dt``; each value null with ``null_rate``."""
    nulls = pa.array(_mask(rng, n, null_rate)) if null_rate else None
    if isinstance(dt, StructType):
        children = [_column(rng, f.dataType, n, 0.2) for f in dt.fields]
        return pa.StructArray.from_arrays(
            children, fields=list(_arrow_type(dt)), mask=nulls)
    if isinstance(dt, ArrayType):
        lens = _lengths(rng, n, nulls)
        values = _column(rng, dt.elementType, int(lens.sum()), 0.0)
        return _list(lens, values, nulls)
    if isinstance(dt, BooleanType):
        vals = pa.array(rng.random(n) > 0.5)
    elif isinstance(dt, DoubleType):
        vals = pa.array(np.round(rng.uniform(1, 1000, n), 2))
    elif isinstance(dt, IntegerType):
        vals = pa.array(rng.integers(1, 61, n).astype(np.int32))
    elif isinstance(dt, TimestampType):
        vals = pa.array(_T0_US + rng.integers(0, _SPAN_US, n),
                        pa.timestamp("us", tz="UTC"))
    elif isinstance(dt, StringType):
        vals = pc.take(_POOL, pa.array(rng.integers(0, len(_POOL), n)))
    else:
        raise NotImplementedError(str(dt))
    return pc.if_else(nulls, pa.nulls(n, vals.type), vals) if nulls else vals


def _ids(tag: int, start: int, n: int) -> pa.Array:
    return pa.array([f"{tag:08x}{i:016x}" for i in range(start, start + n)])


def _unique_products(tag: str, n: int, rng) -> pa.Array:
    nulls = pa.array(_mask(rng, n, 0.25))
    lens = _lengths(rng, n, nulls)
    values = pa.array([f"{tag}-{i}" for i in range(int(lens.sum()))])
    return _list(lens, values, nulls)


def _docs(rng, name: str, schema: StructType, ids: pa.Array, tag: str
          ) -> pa.Table:
    n = len(ids)
    cols = {}
    for f in schema.fields:
        if f.name == "_id":
            cols["_id"] = ids
        elif name == "loanapplications" and f.name == "products":
            cols[f.name] = _unique_products(tag, n, rng)
        else:
            cols[f.name] = _column(rng, f.dataType, n, 0.25)
    return pa.table(cols, schema=pa.schema(
        [(f.name, _arrow_type(f.dataType)) for f in schema.fields]))


def _null_ids(ids: pa.Array, k: int) -> pa.Array:
    keep = np.ones(len(ids), dtype=bool)
    keep[-k:] = False
    return pc.if_else(pa.array(keep), ids, pa.nulls(len(ids), pa.string()))


def build_day1(seed: int, name: str, schema: StructType, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1, len(name), ord(name[0])])
    ids = _null_ids(_ids(seed, 0, n), NULL_IDS[1])
    return _docs(rng, name, schema, ids, f"d1-{seed}")


def build_day2(seed: int, name: str, schema: StructType, day1: pa.Table
               ) -> pa.Table:
    """First half of day 1 with each field replaced in ~half the rows, plus
    10% brand-new ids (the last few of them null)."""
    rng = np.random.default_rng([seed, 2, len(name), ord(name[0])])
    half = day1.slice(0, day1.num_rows // 2)
    fresh = _docs(rng, name, schema, half["_id"].combine_chunks(), f"d2-{seed}")
    cols = {}
    for f in schema.fields:
        if f.name == "_id":
            cols[f.name] = half[f.name]
            continue
        take_new = pa.array(_mask(rng, half.num_rows, 0.5))
        cols[f.name] = pc.if_else(take_new, fresh[f.name], half[f.name])
    mutated = pa.table(cols, schema=day1.schema)
    n_new = max(day1.num_rows // 10, NULL_IDS[2] + 1)
    new_ids = _null_ids(_ids(seed, day1.num_rows, n_new), NULL_IDS[2])
    new = _docs(rng, name, schema, new_ids, f"d2n-{seed}")
    return pa.concat_tables([mutated, new])


def write_docs(out_dir: Path, seed: int, n: int, entities: dict) -> dict:
    """Write ``<out_dir>/day{1,2}/<entity>.parquet``; returns the tables."""
    tables = {}
    for name, spec in entities.items():
        d1 = build_day1(seed, name, spec.schema, n)
        d2 = build_day2(seed, name, spec.schema, d1)
        for day, t in ((1, d1), (2, d2)):
            path = out_dir / f"day{day}"
            path.mkdir(parents=True, exist_ok=True)
            pq.write_table(t, path / f"{name}.parquet")
        tables[name] = (d1, d2)
    return tables


_LOANAPP_CUTOFF_US = int(np.datetime64("2022-10-05", "us").astype(np.int64))


def _keys(name: str, t: pa.Table) -> set:
    """Natural keys a batch lands (nulls excluded: they are quarantined)."""
    if name != "loanapplications":
        return {k for k in t["_id"].to_pylist() if k is not None}
    created = t["dateCreated"].cast(pa.int64()).to_pylist()
    return {p for c, ps in zip(created, t["products"].to_pylist())
            if c is not None and c > _LOANAPP_CUTOFF_US and ps
            for p in ps if p is not None}


def expectations(tables: dict) -> dict:
    """Per entity: row counts after day 1 and day 2, and null-key rows
    each day (quarantined rather than merged)."""
    out = {}
    for name, (d1, d2) in tables.items():
        k1, k2 = _keys(name, d1), _keys(name, d2)
        q = (0, 0) if name == "loanapplications" else (
            d1["_id"].null_count, d2["_id"].null_count)
        out[name] = {"rows": (len(k1), len(k1 | k2)), "quarantined": q}
    return out
