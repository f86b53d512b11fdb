"""Property-based invariants (SURVEY.md §5.4) — hypothesis-generated nested
documents and update batches against flatten and merge.

Strategy sizes are kept small (Spark job per example is the cost driver);
``deadline=None`` because JVM warm-up breaks per-example timing.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, LongType, StringType, StructField, StructType,
)

from airflow_pipelines_from_mongo_to_postgres_spark.functions import conform
from airflow_pipelines_from_mongo_to_postgres_spark.operators.merge import merge_upsert

SETTINGS = dict(max_examples=12, deadline=None,
                suppress_health_check=[HealthCheck.too_slow])

DOC_SCHEMA = StructType([
    StructField("_id", StringType()),
    StructField("personal", StructType([
        StructField("first", StringType()),
        StructField("last", StringType()),
    ])),
    StructField("deleted", BooleanType()),
    StructField("tags", ArrayType(StringType())),
])

_ids = st.text(alphabet="abcdef0123456789", min_size=4, max_size=8)
_name = st.one_of(st.none(), st.text(min_size=0, max_size=6))
_doc = st.fixed_dictionaries({
    "_id": _ids,
    "personal": st.one_of(
        st.none(),
        st.fixed_dictionaries({"first": _name, "last": _name})),
    "deleted": st.one_of(st.none(), st.booleans()),
    "tags": st.one_of(st.none(), st.lists(st.sampled_from("xyz"), max_size=3)),
})


def _mkdf(spark, docs):
    rows = [Row(_id=d["_id"],
                personal=Row(**d["personal"]) if d["personal"] else None,
                deleted=d["deleted"], tags=d["tags"]) for d in docs]
    return spark.createDataFrame(rows, DOC_SCHEMA)


@given(docs=st.lists(_doc, min_size=1, max_size=6, unique_by=lambda d: d["_id"]))
@settings(**SETTINGS)
def test_flatten_preserves_rows_and_defaults(spark, docs):
    df = _mkdf(spark, docs)
    flat = conform.flatten(df, {
        "_id": F.col("_id"),
        "first_name": conform.nested("personal.first"),
        "deleted": conform.bool_default("deleted"),
        "tags": conform.stringify("tags"),
    })
    got = {r._id: r for r in flat.collect()}
    assert len(got) == len(docs)           # flatten is row-preserving
    for d in docs:
        r = got[d["_id"]]
        want_first = (d["personal"] or {}).get("first")
        assert r.first_name == want_first  # missing struct → null, not error
        assert r.deleted is (d["deleted"] or False)  # bool default False


@given(docs=st.lists(_doc, min_size=1, max_size=5, unique_by=lambda d: d["_id"]))
@settings(**SETTINGS)
def test_explode_drops_null_and_empty_arrays(spark, docs):
    df = _mkdf(spark, docs)
    out = conform.explode_unwind(df, "tags")
    want = sum(len(d["tags"]) for d in docs if d["tags"])
    assert out.count() == want             # $unwind default drops null/[]


_kv = st.lists(
    st.tuples(st.sampled_from("abcde"), st.integers(0, 99), st.integers(0, 99)),
    min_size=0, max_size=5, unique_by=lambda t: t[0])


@given(target=_kv, updates=_kv)
@settings(**SETTINGS)
def test_merge_upsert_idempotent_and_partial(spark, target, updates):
    schema = StructType([StructField("_id", StringType()),
                         StructField("mut", LongType()),
                         StructField("frozen", LongType())])
    t = spark.createDataFrame(target, schema)
    u = spark.createDataFrame(updates, schema)
    once = merge_upsert(t, u, "_id", ["mut"])
    twice = merge_upsert(once, u, "_id", ["mut"])
    as_rows = lambda df: sorted(map(tuple, df.collect()))
    assert as_rows(once) == as_rows(twice)          # idempotent
    got = {r._id: r for r in once.collect()}
    tmap = {k: (m, f) for k, m, f in target}
    umap = {k: (m, f) for k, m, f in updates}
    assert set(got) == set(tmap) | set(umap)        # union of keys
    for k, r in got.items():
        if k in tmap and k in umap:
            assert r.mut == umap[k][0]              # mutable refreshed
            assert r.frozen == tmap[k][1]           # frozen kept


_texts = st.lists(
    st.tuples(st.integers(0, 999),
              st.text(alphabet="ab cd", min_size=0, max_size=20)),
    min_size=1, max_size=6, unique_by=lambda t: t[0])


@given(docs=_texts)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_exact_dedup_conserves_rows_and_keepers(spark, docs):
    from airflow_pipelines_from_mongo_to_postgres_spark.operators.dedup import (
        exact_duplicates,
    )

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = exact_duplicates(df, "doc_id", "text").collect()
    assert sum(r.copies for r in out) == len(docs)   # every row accounted for
    ids = {d for d, _ in docs}
    assert all(r.keeper_id in ids for r in out)      # keepers are real docs
    # keeper is the MIN id of its fingerprint group
    by_fp = {}
    for r in out:
        by_fp[r.fp] = r.keeper_id
    import hashlib, re
    for d, t in docs:
        fp = hashlib.md5(re.sub(r"\s+", " ", t.lower()).strip().encode()).hexdigest()
        assert by_fp[fp] <= d


@given(ids=st.lists(st.integers(0, 10_000), min_size=2, max_size=8, unique=True))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_split_assignment_is_append_stable(spark, ids):
    """Growing the corpus must never move an existing doc to a different
    split — the property that makes hash-based splits safe for
    incremental training-data builds (re-running after ingest cannot leak
    train docs into test)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.functions.sampling import (
        train_val_test_split,
    )

    subset = spark.createDataFrame([(i, "x") for i in ids[:len(ids) // 2]],
                                   ["doc_id", "text"])
    superset = spark.createDataFrame([(i, "x") for i in ids], ["doc_id", "text"])
    small = {r.doc_id: r.split for r in train_val_test_split(subset, "doc_id").collect()}
    big = {r.doc_id: r.split for r in train_val_test_split(superset, "doc_id").collect()}
    assert all(big[k] == v for k, v in small.items())


@given(n=st.integers(min_value=1, max_value=64))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_partition_tokens_are_exact_preimages(spark, n):
    """_identity_partition_tokens(n): for every i, Spark's own
    pmod(hash(token_i), n) == i — the property the Z-order writer's
    deterministic exchange rests on (a single wrong token silently
    merges two files' key ranges)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.sinks import (
        _identity_partition_tokens,
    )

    tokens = _identity_partition_tokens(spark, n)
    assert len(tokens) == n
    got = spark.createDataFrame([(int(t),) for t in tokens], "t long") \
        .select(F.pmod(F.hash(F.col("t").cast("long")), F.lit(n))
                .alias("p")).collect()
    assert [r.p for r in got] == list(range(n))


@given(sizes=st.lists(st.sampled_from([8, 16, 24]), min_size=1, max_size=4),
       tail=st.sampled_from([b"", b"\xff\xd8\xff\xe0junk", b"garbage"]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_mjpeg_span_walk_recovers_every_frame(sizes, tail):
    """mjpeg_frame_spans over arbitrary concatenations of real JPEGs
    (+ corrupt tails): spans == the exact encoder output boundaries —
    entropy bytes that LOOK like markers never split a frame, corrupt
    tails never produce a bogus span."""
    import numpy as np

    from airflow_pipelines_from_mongo_to_postgres_spark.operators.multimodal import (
        mjpeg_frame_spans,
    )
    from tests.test_multimodal import _jpeg_encode

    rng = np.random.RandomState(sum(sizes))
    jpegs = [_jpeg_encode(rng.randint(0, 255, (s, s, 3)).astype("uint8"))
             for s in sizes]
    stream = b"".join(jpegs) + tail
    spans = mjpeg_frame_spans(stream)
    assert [e - s for s, e in spans] == [len(j) for j in jpegs]


@given(data=st.binary(min_size=0, max_size=400),
       stamp=st.sampled_from([b"", b"\x89PNG\r\n\x1a\n", b"BM", b"\xff\xd8",
                              b"GIF89a", b"RIFF", b"RIFFxxxxWAVE",
                              b"RIFFxxxxAVI "]))
@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_binary_parsers_never_crash_outside_contract(data, stamp):
    """Hostile-payload fuzz: every binary parser either returns a result
    or raises an exception its Spark-stage wrapper catches
    (NotImplementedError / ValueError / OSError / zlib / struct /
    IndexError / KeyError-free) — random bytes, with and without
    magic-number prefixes, must never kill an executor task."""
    import struct
    import zlib

    from airflow_pipelines_from_mongo_to_postgres_spark.operators import multimodal as M

    payload = stamp + data
    allowed = (NotImplementedError, ValueError, OSError, zlib.error,
               IndexError, struct.error)
    for fn in (M.decode_image, M.decode_audio,
               lambda p: M.gif_frames(p) if p[:4] == b"GIF8" else None,
               M.avi_movi_frames, M.mjpeg_frame_spans,
               lambda p: M.extract_video_frames(p, 3),
               lambda p: M.resize_pixels(p, 4, 4)):
        try:
            fn(payload)
        except allowed:
            pass


_MQL_FIELDS = ["a", "b", "arr", "nest.x"]
_mql_stage = st.one_of(
    st.builds(lambda f, v: {"$match": {f.split(".")[0]: v}},
              st.sampled_from(["a", "b"]), st.integers(-5, 5)),
    st.builds(lambda v: {"$match": {"nest.x": v}},
              st.one_of(st.integers(-5, 9), st.text(max_size=2))),
    st.builds(lambda f, e: {"$match": {f: {"$exists": e}}},
              st.sampled_from(["a", "b", "nest.x"]), st.booleans()),
    st.builds(lambda v, w: {"$match": {"$or": [{"a": v}, {"b": w}]}},
              st.integers(-5, 5),
              st.one_of(st.text(max_size=2), st.integers(0, 3))),
    st.builds(lambda v: {"$match": {"$and": [{"a": {"$gte": v}},
                                             {"nest.x": {"$lt": 9}}]}},
              st.integers(-5, 5)),
    st.builds(lambda f: {"$project": {f: 1}}, st.sampled_from(_MQL_FIELDS)),
    st.builds(lambda f: {"$unwind": f"${f}"}, st.sampled_from(["arr"])),
    st.builds(lambda n: {"$limit": n}, st.integers(1, 10)),
    st.builds(lambda n: {"$skip": n}, st.integers(0, 5)),
    st.builds(lambda f, d: {"$sort": {f: d}},
              st.sampled_from(["a", "b"]), st.sampled_from([1, -1])),
    st.builds(lambda f: {"$count": f}, st.sampled_from(["n", "total"])),
    st.builds(lambda f, v: {"$addFields": {f: v}},
              st.sampled_from(["c", "d"]), st.integers(-3, 3)),
    # expression language: $cond/$ifNull/$concat/arith, nested one deep
    st.builds(lambda f, v, w: {"$addFields": {f: {"$cond": [
                  {"$gte": ["$a", v]}, {"$add": ["$a", w]},
                  {"$literal": -1}]}}},
              st.sampled_from(["c", "d"]), st.integers(-5, 5),
              st.integers(-3, 3)),
    st.builds(lambda f: {"$addFields": {f: {"$ifNull": ["$b", "zz"]}}},
              st.sampled_from(["c", "d"])),
    st.builds(lambda f, s: {"$addFields": {f: {"$concat": ["$b", s]}}},
              st.sampled_from(["c", "d"]), st.text(max_size=2)),
    st.builds(lambda f, op, v: {"$addFields": {f: {op: ["$a", v]}}},
              st.sampled_from(["c", "d"]),
              st.sampled_from(["$add", "$subtract", "$multiply"]),
              st.integers(-3, 3)),
    st.builds(lambda f: {"$project": {f: {"$toUpper": "$b"}, "a": 1}},
              st.sampled_from(["u", "v"])),
    st.builds(lambda k, op: {"$group": {"_id": f"${k}", "out": {op: "$a"}}},
              st.sampled_from(["b"]),
              st.sampled_from(["$sum", "$min", "$max", "$avg"])),
    # consumers of fields an earlier stage may have removed ($project,
    # $unset, $group): each reads such a field as missing. c takes many
    # types, so they stick to operators that accept any of them.
    st.builds(lambda k, op, f: {"$group": {"_id": f"${k}",
                                           "s": {op: f"${f}"}}},
              st.sampled_from(["b", "c"]), st.sampled_from(["$max", "$push"]),
              st.sampled_from(["b", "c"])),
    st.builds(lambda f, src: {"$addFields": {f: src}},
              st.sampled_from(["d", "e"]), st.sampled_from(["$b", "$c"])),
    st.builds(lambda f, p: {"$unwind": {"path": f"${f}",
                                        "preserveNullAndEmptyArrays": p}},
              st.sampled_from(["b", "c"]), st.booleans()),
    st.builds(lambda f, s: {"$match": {"$expr": {"$eq": [
                  {"$toString": f"${f}"}, s]}}},
              st.sampled_from(["b", "c"]), st.sampled_from(["x", "1"])),
    # round-11 surface: $expr match, array HOFs/$slice/$range/set ops,
    # $regexMatch, $unset, $fill, $densify, $bucketAuto
    st.builds(lambda v: {"$match": {"$expr": {"$gt": ["$a", v]}}},
              st.integers(-5, 5)),
    st.builds(lambda f, w: {"$addFields": {f: {"$map": {
                  "input": "$arr", "as": "x",
                  "in": {"$add": ["$$x", w]}}}}},
              st.sampled_from(["c", "d"]), st.integers(-3, 3)),
    st.builds(lambda f, v: {"$addFields": {f: {"$filter": {
                  "input": "$arr", "cond": {"$gte": ["$$this", v]}}}}},
              st.sampled_from(["c", "d"]), st.integers(-3, 3)),
    st.builds(lambda f: {"$addFields": {f: {"$reduce": {
                  "input": "$arr", "initialValue": {"$literal": 0},
                  "in": {"$add": ["$$value", "$$this"]}}}}},
              st.sampled_from(["c", "d"])),
    st.builds(lambda f, n: {"$addFields": {f: {"$slice": ["$arr", n]}}},
              st.sampled_from(["c", "d"]), st.integers(-4, 4)),
    st.builds(lambda f, a, b: {"$addFields": {f: {"$range": [a, b]}}},
              st.sampled_from(["c", "d"]), st.integers(-3, 3),
              st.integers(-3, 3)),
    st.builds(lambda f, op: {"$addFields": {f: {op: ["$arr", [1, 2]]}}},
              st.sampled_from(["c", "d"]),
              st.sampled_from(["$setUnion", "$setIntersection",
                               "$setDifference", "$concatArrays"])),
    st.builds(lambda f, p: {"$addFields": {f: {"$regexMatch": {
                  "input": "$b", "regex": p}}}},
              st.sampled_from(["c", "d"]), st.sampled_from(["x", "^y", "."])),
    st.builds(lambda f: {"$unset": f}, st.sampled_from(["b", "c", "zz"])),
    st.builds(lambda v: {"$fill": {"sortBy": {"a": 1},
                                   "output": {"b": {"value": v}}}},
              st.text(max_size=2)),
    st.builds(lambda m: {"$fill": {"partitionByFields": ["b"],
                                   "sortBy": {"a": 1},
                                   "output": {"a": {"method": m}}}},
              st.sampled_from(["locf", "linear"])),
    st.builds(lambda s: {"$densify": {"field": "a",
                                      "range": {"step": s,
                                                "bounds": "full"}}},
              st.integers(1, 3)),
    st.builds(lambda n: {"$bucketAuto": {"groupBy": "$a", "buckets": n}},
              st.integers(1, 4)),
    # r12 additions
    st.builds(lambda n, g: {"$bucketAuto": {"groupBy": "$a", "buckets": n,
                                            "granularity": g}},
              st.integers(1, 4),
              st.sampled_from(["R5", "R20", "1-2-5", "POWERSOF2"])),
    st.builds(lambda n: {"$sample": {"size": n}}, st.integers(1, 5)),
    st.builds(lambda f, d: {"$addFields": {f: {"$sortArray": {
                  "input": "$arr", "sortBy": d}}}},
              st.sampled_from(["c", "d"]), st.sampled_from([1, -1])),
    st.builds(lambda f: {"$addFields": {f: {"$zip": {
                  "inputs": ["$arr", [9, 9, 9]]}}}},
              st.sampled_from(["c", "d"])),
    st.builds(lambda f, to: {"$addFields": {f: {"$convert": {
                  "input": "$b", "to": to, "onError": -1, "onNull": 0}}}},
              st.sampled_from(["c", "d"]),
              st.sampled_from(["int", "double", "string"])),
    st.builds(lambda f, v: {"$addFields": {f: {"$cmp": ["$a", v]}}},
              st.sampled_from(["c", "d"]), st.integers(-3, 3)),
    st.builds(lambda f: {"$addFields": {f: {"$setField": {
                  "field": "x", "input": "$nest", "value": 42}}}},
              st.sampled_from(["c", "d"])),
    st.builds(lambda w: {"$setWindowFields": {
                  "sortBy": {"a": 1},
                  "output": {"ig": {"$integral": {"input": "$a"},
                                    "window": {"documents": [-w,
                                                             "current"]}}}}},
              st.integers(0, 3)),
    # late-r12 stages
    st.builds(lambda v: {"$redact": {"$cond": [
                  {"$gte": ["$a", v]}, "$$DESCEND", "$$PRUNE"]}},
              st.integers(-4, 4)),
    st.builds(lambda f: {"$addFields": {f: "$$ROOT"}},
              st.sampled_from(["c", "d"])),
    st.builds(lambda f, v: {"$addFields": {f: {"$mergeObjects": [
                  "$nest", {"y": v}]}}},
              st.sampled_from(["c", "d"]), st.integers(0, 5)),
    st.builds(lambda f: {"$replaceWith": {"$mergeObjects": [
                  "$$ROOT", {"tagged": True}]}}, st.just("")),
    st.builds(lambda n: {"$match": {"a": {"$not": {"$gte": n}}}},
              st.integers(-3, 3)),
    st.builds(lambda p: {"$match": {"b": {"$regex": p}}},
              st.sampled_from(["x", "^y", "."])),
    # r14 additions: bitwise, type introspection, week family with
    # startOfWeek/timezone, $dateFromParts carry, arity-3 $zip
    st.builds(lambda f, op, v: {"$addFields": {f: {op: ["$a", v]}}},
              st.sampled_from(["c", "d"]),
              st.sampled_from(["$bitAnd", "$bitOr", "$bitXor"]),
              st.integers(-4, 15)),
    st.builds(lambda f: {"$addFields": {f: {"$bitNot": "$a"}}},
              st.sampled_from(["c", "d"])),
    st.builds(lambda f, src: {"$addFields": {f: {"$type": src}}},
              st.sampled_from(["c", "d"]),
              st.sampled_from(["$a", "$b", "$arr", "$nest", "$zz"])),
    st.builds(lambda f, src: {"$addFields": {f: {"$isNumber": src}}},
              st.sampled_from(["c", "d"]),
              st.sampled_from(["$a", "$b", "$arr"])),
    st.builds(lambda t: {"$match": {"a": {"$type": t}}},
              st.sampled_from(["number", "int", "long", "string",
                               ["null", "double"], 16, 2])),
    st.builds(lambda f, dy, sow: {"$addFields": {f: {"$dateTrunc": {
                  "date": {"$dateFromParts": {"year": 2021, "day": dy}},
                  "unit": "week", "startOfWeek": sow}}}},
              st.sampled_from(["c", "d"]), st.integers(-40, 400),
              st.sampled_from(["sunday", "mon", "Friday"])),
    st.builds(lambda f, dy: {"$addFields": {f: {"$week": {
                  "$dateFromParts": {"year": 2021, "day": dy}}}}},
              st.sampled_from(["c", "d"]), st.integers(-40, 400)),
    st.builds(lambda f, tz: {"$addFields": {f: {"$hour": {
                  "date": {"$dateFromParts": {"year": 2021,
                                              "hour": "$a"}},
                  "timezone": tz}}}},
              st.sampled_from(["c", "d"]),
              st.sampled_from(["UTC", "America/New_York",
                               "Asia/Kolkata"])),
    st.builds(lambda f: {"$addFields": {f: {"$zip": {
                  "inputs": ["$arr", [9, 9, 9], [0]],
                  "useLongestLength": True}}}},
              st.sampled_from(["c", "d"])),
    # r17 additions: partition-less $setWindowFields across the whole
    # distributed frame family (finite/half-open documents frames over
    # numeric AND string leading keys — compositions exercise the
    # range-bucket + halo lowering; out-of-family shapes like
    # ["unbounded", -1] must fall back warned, never crash), $shift,
    # and $vectorSearch (first-stage-only rule + option validation +
    # $meta plumbing are all declared ValueErrors mid-composition)
    st.builds(lambda key, op, frame: {"$setWindowFields": {
                  "sortBy": ({"a": 1} if key == "a"
                             else {"b": 1, "a": 1}),
                  "output": {"wf": ({op: "$a", "window":
                                     {"documents": frame}}
                                    if frame is not None
                                    else {op: "$a"})}}},
              st.sampled_from(["a", "b"]),
              st.sampled_from(["$sum", "$avg", "$min", "$max",
                               "$count", "$first", "$last"]),
              st.sampled_from([None, [-2, 1], [0, 0], [1, 3],
                               [-3, -1], ["current", 2],
                               ["unbounded", "current"],
                               ["unbounded", 2], [-2, "unbounded"],
                               ["unbounded", -1], [2, "unbounded"],
                               ["unbounded", "unbounded"]])),
    st.builds(lambda by, d: {"$setWindowFields": {
                  "sortBy": {"a": 1},
                  "output": {"sh": {"$shift": {
                      "output": "$b", "by": by, "default": d}}}}},
              st.integers(-3, 3), st.sampled_from([None, "edge"])),
    st.builds(lambda k, ex, nc: {"$vectorSearch": {
                  "path": "arr", "queryVector": [1.0, 2.0],
                  "limit": k,
                  **({"exact": True} if ex else
                     {"numCandidates": nc})}},
              st.integers(1, 3), st.booleans(), st.integers(1, 20)),
    st.builds(lambda f: {"$addFields": {f: {
                  "$meta": "vectorSearchScore"}}},
              st.sampled_from(["c", "d"])),
)


@given(stages=st.lists(_mql_stage, min_size=1, max_size=4))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_mongoql_random_pipelines_never_crash_outside_contract(spark, stages):
    """Fuzz the aggregation-pipeline translator: any composition of
    supported stages either evaluates (collect succeeds) or fails with
    the translator's declared error classes (ValueError for unsupported
    specs, Spark AnalysisException for schema mismatches like
    projecting a column a $group already consumed) — never an untyped
    crash. Stage semantics are covered by the directed tests; this
    guards the COMPOSITION space. A field an earlier stage removed reads
    as missing, so UNRESOLVED_COLUMN is never inside the contract."""
    from pyspark.sql.utils import AnalysisException

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, "x", [1, 2], (7,)), (2, "y", [], (8,)), (-3, "x", None, (9,))],
        "a int, b string, arr array<int>, nest struct<x:int>")
    try:
        apply_pipeline(df, stages).collect()
    except AnalysisException as e:
        assert not (e.getErrorClass() or "").startswith(
            "UNRESOLVED_COLUMN"), (stages, e)
    except ValueError:
        pass


# variant-mode pipeline parity: stage set restricted to order-insensitive
# stages (no $sort/$limit/$skip) so multiset comparison is well-defined,
# and no $exists (struct-mode brackets it against the DECLARED schema,
# variant-mode per-row presence — both documented, intentionally different
# on absent-vs-null fields)
_vp_stage = st.one_of(
    st.builds(lambda v: {"$match": {"a": {"$gte": v}}}, st.integers(-5, 5)),
    st.builds(lambda v: {"$match": {"nest.x": {"$lt": v}}},
              st.integers(-2, 9)),
    st.builds(lambda v, w: {"$match": {"$or": [{"a": v}, {"b": w}]}},
              st.integers(-5, 5), st.sampled_from(["x", "y", "z"])),
    st.just({"$unwind": "$arr"}),
    st.just({"$unwind": {"path": "$arr",
                         "preserveNullAndEmptyArrays": True}}),
    st.builds(lambda f, op, v: {"$addFields": {f: {op: ["$a", v]}}},
              st.sampled_from(["c", "d"]),
              st.sampled_from(["$add", "$subtract", "$multiply"]),
              st.integers(-3, 3)),
    st.builds(lambda f: {"$addFields": {f: {"$ifNull": ["$b", "zz"]}}},
              st.sampled_from(["c", "d"])),
    st.builds(lambda f, s: {"$addFields": {f: {"$concat": ["$b", s]}}},
              st.sampled_from(["c", "d"]), st.sampled_from(["", "q"])),
    st.builds(lambda f: {"$project": {f: 1, "a": 1}},
              st.sampled_from(["b", "nest.x"])),
    st.builds(lambda k, op: {"$group": {"_id": f"${k}", "out": {op: "$a"},
                                        "n": {"$sum": 1}}},
              st.sampled_from(["b", "nest.x"]),
              st.sampled_from(["$sum", "$min", "$max", "$avg"])),
    # round-9 stages: bucket histograms (string default coerces labels),
    # sortByCount sugar, whole-partition window accumulators (order-free
    # ops only — ties in the generated data make framed sums ambiguous),
    # and replaceRoot promotion of the nested doc
    st.builds(lambda b: {"$bucket": {"groupBy": "$a",
                                     "boundaries": [-5, 0, b],
                                     "default": "ovf"}},
              st.integers(1, 10)),
    st.just({"$sortByCount": "$b"}),
    st.builds(lambda op: {"$setWindowFields": {"partitionBy": "$b",
                                               "output": {"t": {op: "$a"}}}},
              st.sampled_from(["$sum", "$min", "$max"])),
    st.just({"$replaceRoot": {"newRoot": "$nest"}}),
)

_vp_row = st.tuples(
    st.integers(-5, 9),
    st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
    st.one_of(st.none(), st.lists(st.integers(-3, 3), max_size=3)),
    st.one_of(st.none(), st.tuples(st.integers(-2, 9))),
)


@given(rows=st.lists(_vp_row, min_size=1, max_size=6),
       stages=st.lists(_vp_stage, min_size=1, max_size=3))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_variant_pipeline_matches_struct_translator(spark, rows, stages):
    """variant_pipeline (schemaless: JSON -> binary variant ->
    variant_select -> translator) returns the same multiset of rows as
    apply_pipeline over the original TYPED DataFrame, for any
    composition of supported stages — or both fail with the declared
    error classes. This is the round-trip property: JSON encode +
    variant path extraction is lossless for every value the pipeline
    can observe."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from airflow_pipelines_from_mongo_to_postgres_spark.functions.variantdoc import (
        variant_pipeline,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        apply_pipeline,
    )

    df = spark.createDataFrame(
        rows, "a bigint, b string, arr array<bigint>, nest struct<x:bigint>")
    try:
        want = apply_pipeline(df, stages).collect()
    except (ValueError, AnalysisException):
        with pytest.raises((ValueError, AnalysisException)):
            variant_pipeline(
                df.select(F.try_parse_json(
                    F.to_json(F.struct("a", "b", "arr", "nest"))).alias("doc")),
                "doc", stages,
                fields={"a": "bigint", "b": "string",
                        "arr": "array<bigint>", "nest.x": "bigint"}).collect()
        return
    docs = df.select(F.try_parse_json(
        F.to_json(F.struct("a", "b", "arr", "nest"))).alias("doc"))
    got = variant_pipeline(
        docs, "doc", stages,
        fields={"a": "bigint", "b": "string",
                "arr": "array<bigint>", "nest.x": "bigint"}).collect()

    def canon(batch):
        return sorted(sorted((k, repr(v)) for k, v in r.asDict(True).items())
                      for r in batch)

    assert canon(got) == canon(want)


_cdc_op = st.tuples(st.sampled_from("IUD"), st.integers(1, 6),
                    st.sampled_from(["d1", "d2"]),
                    st.integers(0, 99))


@given(ledger=st.lists(_cdc_op, min_size=1, max_size=10))
@example(ledger=[("U", 1, "d2", 11)])
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_snap_apply_cdc_matches_dict_replay(spark, tmp_path_factory, ledger):
    """snap_apply_cdc with ts compaction == replaying the ledger into a
    plain dict (latest op per key wins; D removes, I/U replace the whole
    row) — hypothesis-generated ledgers over a seeded partitioned table,
    each op carrying its own partition value, so keys MOVE partitions
    (the explicit example moves key 1 into a partition the batch alone
    touches)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
        read_snapshot,
        snap_append,
        snap_apply_cdc,
    )

    tmp = tmp_path_factory.mktemp("cdcprop")
    path = str(tmp / "cdc")
    seed = {1: ("d1", 10.0), 3: ("d2", 30.0), 5: ("d1", 50.0)}
    snap_append(
        spark, path,
        spark.createDataFrame([(dt, k, v) for k, (dt, v) in seed.items()],
                              "dt string, k int, v double"),
        partition_by=("dt",))

    rows = [(op, dt, k, float(v), i)             # unique ts per op: the
            for i, (op, k, dt, v) in enumerate(ledger)]  # ledger is ordered
    changes = spark.createDataFrame(
        rows, "op string, dt string, k int, v double, ts int")
    snap_apply_cdc(spark, path, changes, "k", ts_col="ts")

    state = dict(seed)
    last = {k: (op, dt, float(v)) for op, k, dt, v in ledger}
    for k, (op, dt, v) in last.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = (dt, v)

    got = sorted((r.dt, r.k, r.v)
                 for r in read_snapshot(spark, path).collect())
    want = sorted((dt, k, v) for k, (dt, v) in state.items())
    assert got == want


_snap_cmd = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 99)),
    st.tuples(st.just("overwrite"), st.integers(0, 99)),
    st.tuples(st.just("replace_even"), st.integers(0, 99)),
)


@given(cmds=st.lists(_snap_cmd, min_size=1, max_size=5))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_snapshot_table_matches_list_model(spark, tmp_path_factory, cmds):
    """Model-based check of the snapshot table: random
    append/overwrite/replace_where sequences tracked against a plain
    Python list model — EVERY retained version must read back exactly
    its model state (time travel included), and history depth equals
    the number of commits."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    tmp = tmp_path_factory.mktemp("snapprop")
    t = str(tmp / "tab")
    model_versions = []          # version -> sorted list of (k, v)
    state = []

    def df_of(rows):
        return spark.createDataFrame(rows, "k int, v int")

    for i, (cmd, val) in enumerate(cmds):
        rows = [(i * 10 + j, val) for j in range(2)]     # unique keys per cmd
        if cmd == "append":
            S.snap_append(spark, t, df_of(rows))
            state = state + rows
        elif cmd == "overwrite":
            S.snap_overwrite(spark, t, df_of(rows))
            state = list(rows)
        else:                    # replace rows with even k
            S.snap_replace_where(spark, t, df_of(rows), "k % 2 = 0")
            state = [r for r in state if r[0] % 2 != 0] + rows
        model_versions.append(sorted(state))

    assert S.current_version(spark, t) == len(cmds)
    assert len(S.snap_history(spark, t)) == len(cmds)
    for v, want in enumerate(model_versions, start=1):
        got = sorted((r.k, r.v) for r in
                     S.read_snapshot(spark, t, version=v).collect())
        assert got == want, (v, cmds)


_lk_key = st.one_of(st.none(), st.sampled_from("abcd"))
_lk_outer = st.lists(
    st.tuples(_lk_key, st.integers(0, 8)), min_size=1, max_size=6)
_lk_foreign = st.lists(
    st.tuples(_lk_key, st.integers(0, 8)), min_size=0, max_size=8)


@given(outer=_lk_outer, foreign=_lk_foreign)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_correlated_lookup_matches_per_document_reference(
        spark, outer, foreign):
    """The correlated-$lookup unnesting rewrite (general distinct-let-
    tuples path: equality pair + a NON-EQUI correlated conjunct +
    terminal {$group: {_id: null}}) must agree with a literal
    per-document Python evaluation of Mongo's semantics — including
    null join keys (Mongo's $eq matches null to null) and empty match
    sets ($group over zero docs emits no doc -> empty array)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        apply_pipeline,
    )

    odf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(outer)],
        "oid int, key string, thr int")
    fdf = spark.createDataFrame(foreign, "sku string, qty int") \
        if foreign else spark.createDataFrame([], "sku string, qty int")

    out = apply_pipeline(odf, [{"$lookup": {
        "from": "inv",
        "let": {"k": "$key", "t": "$thr"},
        "pipeline": [
            {"$match": {"$expr": {"$and": [
                {"$eq": ["$$k", "$sku"]},
                {"$gte": ["$qty", "$$t"]}]}}},
            {"$group": {"_id": None, "n": {"$sum": 1},
                        "mx": {"$max": "$qty"}}}],
        "as": "s"}}], collections={"inv": fdf})
    got = {r.oid: [(x.n, x.mx) for x in r.s] for r in out.collect()}

    want = {}
    for i, (k, t) in enumerate(outer):
        matched = [q for (sk, q) in foreign if sk == k and q >= t]
        want[i] = [(len(matched), max(matched))] if matched else []
    assert got == want, (outer, foreign)


@given(outer=_lk_outer, foreign=_lk_foreign)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_correlated_lookup_terminal_group_matches_reference(
        spark, outer, foreign):
    """r14 terminal $group with a GROUPING _id inside a correlated
    $lookup vs a literal per-document Python evaluation of Mongo's
    semantics: per outer doc, the matched foreign docs grouped by qty
    parity — one array element per distinct sub-key, array sorted by
    _id (the translator's determinism convention), empty array when
    nothing matches (zero-input $group emits no docs)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        apply_pipeline,
    )

    odf = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(outer)], "oid int, key string")
    fdf = spark.createDataFrame(foreign, "sku string, qty int") \
        if foreign else spark.createDataFrame([], "sku string, qty int")

    out = apply_pipeline(odf, [{"$lookup": {
        "from": "inv",
        "let": {"k": "$key"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$$k", "$sku"]}}},
            {"$group": {"_id": {"$mod": ["$qty", 2]},
                        "n": {"$sum": 1}, "mx": {"$max": "$qty"}}}],
        "as": "s"}}], collections={"inv": fdf})
    got = {r.oid: [(x["_id"], x["n"], x["mx"]) for x in r.s]
           for r in out.collect()}

    want = {}
    for i, (k, _) in enumerate(outer):
        groups: dict = {}
        for sk, q in foreign:
            if sk == k:          # Mongo $eq: null matches null
                groups.setdefault(q % 2, []).append(q)
        want[i] = sorted((g, len(v), max(v)) for g, v in groups.items())
    assert got == want, (outer, foreign)


@given(outer=_lk_outer, foreign=_lk_foreign)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_correlated_lookup_window_matches_reference(spark, outer, foreign):
    """r14 partition augmentation: $setWindowFields inside a correlated
    $lookup vs a literal per-document Python evaluation — rank (desc by
    qty, translator ties by the whole row) and a running count per
    OUTER document's matched set; a window leaking across documents
    would corrupt both. Uses a deterministic (qty, sku-duplicate-index)
    sort so ranks are well-defined."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        apply_pipeline,
    )

    odf = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(outer)], "oid int, key string")
    fdf = spark.createDataFrame(
        [(sk, q, j) for j, (sk, q) in enumerate(foreign)],
        "sku string, qty int, fid int") \
        if foreign else spark.createDataFrame(
            [], "sku string, qty int, fid int")

    out = apply_pipeline(odf, [{"$lookup": {
        "from": "inv", "let": {"k": "$key"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$$k", "$sku"]}}},
            {"$setWindowFields": {
                "sortBy": {"qty": -1, "fid": 1},
                "output": {"rk": {"$rank": {}},
                           "run": {"$sum": 1,
                                   "window": {"documents":
                                              ["unbounded", "current"]}}}}},
            {"$project": {"fid": 1, "rk": 1, "run": 1, "sku": 1}},
            {"$sort": {"fid": 1}}],
        "as": "s"}}], collections={"inv": fdf})
    got = {r.oid: [(x["fid"], x["rk"], x["run"]) for x in r.s]
           for r in out.collect()}

    want = {}
    for i, (k, _) in enumerate(outer):
        matched = [(j, q) for j, (sk, q) in enumerate(foreign) if sk == k]
        order = sorted(matched, key=lambda t: (-t[1], t[0]))
        rk = {j: pos + 1 for pos, (j, _) in enumerate(order)}
        run = {j: pos + 1 for pos, (j, _) in enumerate(order)}
        want[i] = sorted((j, rk[j], run[j]) for j, _ in matched)
    assert got == want, (outer, foreign)


_mg_batch = st.lists(
    st.tuples(st.sampled_from("abcde"), st.integers(0, 9)),
    min_size=1, max_size=5, unique_by=lambda t: t[0])


@given(seed=_mg_batch, batches=st.lists(_mg_batch, min_size=1, max_size=3))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_merge_update_pipeline_matches_dict_model(spark, tmp_path_factory,
                                                  seed, batches):
    """Model-based check of $merge whenMatched update pipelines: a
    sequence of conflict-increment batches applied through the snapshot
    sink must equal a plain Python dict fold of the same semantics
    (matched -> qty += new.qty; miss -> insert). Exercises the
    bootstrap path, repeated merges against evolving state, and the
    one-commit-per-batch contract."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        apply_pipeline,
    )

    t = str(tmp_path_factory.mktemp("mgmodel") / "t")
    S.snap_append(spark, t, spark.createDataFrame(
        seed, "_id string, qty int"))
    model = dict(seed)
    for batch in batches:
        apply_pipeline(
            spark.createDataFrame(batch, "_id string, qty int"),
            [{"$merge": {"into": "tm", "on": "_id",
                         "whenMatched": [{"$set": {
                             "qty": {"$add": ["$qty", "$$new.qty"]}}}],
                         "whenNotMatched": "insert"}}],
            targets={"tm": t})
        for k, v in batch:
            model[k] = model.get(k, 0) + v if k in model else v
    got = {r._id: r.qty for r in S.read_snapshot(spark, t).collect()}
    assert got == model, (seed, batches)
    # one commit per write: seed + len(batches) versions
    assert S.current_version(spark, t) == 1 + len(batches)


@given(series=st.lists(
    st.tuples(st.sampled_from(["a", "b"]),
              st.one_of(st.none(),
                        st.floats(min_value=-1e6, max_value=1e6,
                                  allow_nan=False, width=32))),
    min_size=1, max_size=24),
    n=st.integers(min_value=1, max_value=9))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_exp_moving_avg_matches_sequential_reference(spark, series, n):
    """$expMovingAvg's distributed fold is BIT-IDENTICAL to the
    sequential recurrence ema_i = a*x_i + (1-a)*ema_{i-1} walked
    row-by-row in Python (same flop order — exact ==, no tolerance),
    including null inputs (emit null, don't advance state) and
    multi-partition series."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    rows = [(g, i, x) for i, (g, x) in enumerate(series)]
    df = spark.createDataFrame(rows, "g string, k long, x double")
    out = apply_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"k": 1},
        "output": {"ema": {"$expMovingAvg": {"input": "$x",
                                             "N": n}}}}}])
    got = {(r.g, r.k): r.ema for r in out.collect()}

    alpha = 2.0 / (n + 1)
    want = {}
    state: dict = {}
    for g, k, x in sorted(rows):
        if x is None:
            want[(g, k)] = None
            continue
        prev = state.get(g)
        ema = x if prev is None else alpha * x + (1.0 - alpha) * prev
        state[g] = ema
        want[(g, k)] = ema
    assert got == want


_lk15_shape = st.integers(0, 3)
_lk15_dir = st.sampled_from([1, -1])
_lk15_skip = st.integers(0, 2)
_lk15_limit = st.integers(1, 3)


@given(outer=_lk_outer, foreign=_lk_foreign, shape=_lk15_shape,
       sdir=_lk15_dir, skip=_lk15_skip, limit=_lk15_limit)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_correlated_lookup_r15_grammar_matches_reference(
        spark, outer, foreign, shape, sdir, skip, limit):
    """Model check for the r15 lookup lowerings: random sub-pipelines
    from the newly supported grammar — (0) MID $sort+$skip+$limit then
    row-local transforms, (1) NON-terminal $group then $match on the
    aggregate, (2) $sort absorbed into ordered $group accumulators,
    (3) [$group, $sort, $limit] top-k groups — each compared against a
    LITERAL per-document Python evaluation of Mongo's semantics. A
    unique fid tiebreak keeps every sort total, so the reference is
    exact (no tie latitude). Covers null join keys (Mongo $eq matches
    null to null) and empty match sets."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        apply_pipeline,
    )

    frows = [(sk, q, i) for i, (sk, q) in enumerate(foreign)]
    odf = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(outer)], "oid int, key string")
    fdf = spark.createDataFrame(frows, "sku string, qty int, fid int") \
        if frows else spark.createDataFrame([], "sku string, qty int, fid int")

    def matches(k):
        return [(q, f) for (sk, q, f) in frows if sk == k]

    if shape == 0:
        pipeline = [
            {"$match": {"$expr": {"$eq": ["$$k", "$sku"]}}},
            {"$sort": {"qty": sdir, "fid": 1}},
            {"$skip": skip},
            {"$limit": limit},
            {"$addFields": {"dbl": {"$multiply": ["$qty", 2]}}},
            {"$project": {"fid": 1, "dbl": 1, "sku": 1}}]

        def ref(k):
            rows = sorted(matches(k),
                          key=lambda t: (sdir * t[0], t[1]))
            return [(f, q * 2) for (q, f) in rows[skip:skip + limit]]

        def read(arr):
            return [(x["fid"], x["dbl"]) for x in arr]
    elif shape == 1:
        pipeline = [
            {"$match": {"$expr": {"$eq": ["$$k", "$sku"]}}},
            {"$group": {"_id": {"$mod": ["$qty", 2]},
                        "n": {"$sum": 1}, "mx": {"$max": "$qty"}}},
            {"$match": {"n": {"$gte": 2}}}]

        def ref(k):
            groups: dict = {}
            for q, _ in matches(k):
                groups.setdefault(q % 2, []).append(q)
            return sorted((g, len(v), max(v)) for g, v in groups.items()
                          if len(v) >= 2)

        def read(arr):
            return sorted((x["_id"], x["n"], x["mx"]) for x in arr)
    elif shape == 2:
        pipeline = [
            {"$match": {"$expr": {"$eq": ["$$k", "$sku"]}}},
            {"$sort": {"qty": -1, "fid": 1}},
            {"$group": {"_id": {"$mod": ["$qty", 2]},
                        "first": {"$first": "$fid"},
                        "ordered": {"$push": "$fid"}}}]

        def ref(k):
            groups: dict = {}
            for q, f in sorted(matches(k), key=lambda t: (-t[0], t[1])):
                groups.setdefault(q % 2, []).append(f)
            return sorted((g, v[0], tuple(v)) for g, v in groups.items())

        def read(arr):
            return sorted((x["_id"], x["first"], tuple(x["ordered"]))
                          for x in arr)
    else:
        pipeline = [
            {"$match": {"$expr": {"$eq": ["$$k", "$sku"]}}},
            {"$group": {"_id": {"$mod": ["$qty", 2]},
                        "total": {"$sum": "$qty"}}},
            {"$sort": {"total": -1, "_id": 1}},
            {"$limit": limit}]

        def ref(k):
            groups: dict = {}
            for q, _ in matches(k):
                groups[q % 2] = groups.get(q % 2, 0) + q
            ranked = sorted(groups.items(), key=lambda t: (-t[1], t[0]))
            return [(g, t) for g, t in ranked[:limit]]

        def read(arr):
            return [(x["_id"], x["total"]) for x in arr]

    out = apply_pipeline(odf, [{"$lookup": {
        "from": "inv", "let": {"k": "$key"}, "pipeline": pipeline,
        "as": "s"}}], collections={"inv": fdf})
    got = {r.oid: read(r.s) for r in out.collect()}
    want = {i: ref(k) for i, (k, _) in enumerate(outer)}
    assert got == want, (shape, sdir, skip, limit, outer, foreign)


_lk15_sub_stage = st.one_of(
    st.builds(lambda d: {"$sort": {"qty": d, "fid": 1}},
              st.sampled_from([1, -1])),
    st.builds(lambda n: {"$skip": n}, st.integers(0, 2)),
    st.builds(lambda n: {"$limit": n}, st.integers(1, 3)),
    st.builds(lambda n: {"$sample": {"size": n}}, st.integers(0, 3)),
    st.just({"$count": "n"}),
    st.just({"$sortByCount": {"$mod": ["$qty", 2]}}),
    st.builds(lambda b: {"$bucket": {"groupBy": "$qty",
                                     "boundaries": [0, b, 20],
                                     "default": -1}},
              st.integers(1, 10)),
    st.builds(lambda b, g: {"$bucketAuto": {
                  "groupBy": "$qty", "buckets": b,
                  **({"granularity": g} if g else {})}},
              st.integers(1, 4),
              st.sampled_from([None, "R5", "E12", "POWERSOF2"])),
    st.builds(lambda op: {"$group": {"_id": {"$mod": ["$qty", 2]},
                                     "out": {op: "$qty"},
                                     "n": {"$sum": 1}}},
              st.sampled_from(["$sum", "$min", "$max", "$first",
                               "$last", "$push"])),
    st.builds(lambda v: {"$match": {"qty": {"$gte": v}}},
              st.integers(0, 6)),
    st.builds(lambda f: {"$addFields": {f: {"$add": ["$qty", 1]}}},
              st.sampled_from(["c", "d"])),
    st.just({"$project": {"qty": 1, "fid": 1, "sku": 1}}),
    st.just({"$unset": "fid"}),
    st.builds(lambda op: {"$setWindowFields": {
                  "sortBy": {"qty": 1, "fid": 1},
                  "output": {"w": {op: {}}}}},
              st.sampled_from(["$rank", "$documentNumber"])),
    st.just({"$replaceWith": {"q2": "$qty", "sku": "$sku"}}),
)


@given(sub=st.lists(_lk15_sub_stage, min_size=1, max_size=4))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_lookup_subpipeline_compositions_never_crash_outside_contract(
        spark, sub):
    """Fuzz the correlated-$lookup SUB-pipeline composition space over
    the full r15 per-document grammar ($sort/$skip/$limit/$sample
    anywhere, mid and terminal $group/$count/$sortByCount/$bucket,
    windows, projections, root swaps): every drawn composition either
    evaluates or fails with the declared error classes (ValueError for
    refused/malformed shapes like a $skip with no preceding $sort or a
    projected-away join field; AnalysisException for schema mismatches
    like referencing a column a $group consumed) — never an untyped
    crash, and never a wrong SHAPE (the `as` column is always an
    array). Result values are covered by the directed + model tests;
    this guards the composition space."""
    from pyspark.sql import types as ST
    from pyspark.sql.utils import AnalysisException

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    outer = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "oid int, key string")
    foreign = spark.createDataFrame(
        [("x", 3, 0), ("x", 7, 1), ("x", 7, 2), ("y", 11, 3),
         (None, 5, 4)],
        "sku string, qty int, fid int")
    try:
        out = apply_pipeline(outer, [{"$lookup": {
            "from": "inv", "let": {"k": "$key"},
            "pipeline": [{"$match": {"$expr": {"$eq": ["$$k", "$sku"]}}}]
            + sub,
            "as": "s"}}], collections={"inv": foreign})
        assert isinstance(out.schema["s"].dataType, ST.ArrayType)
        rows = out.collect()
        assert {r["oid"] for r in rows} == {1, 2, 3}   # outer preserved
    except (ValueError, AnalysisException):
        pass
