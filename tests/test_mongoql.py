"""Tests for the Mongo aggregation-pipeline translator: the reference's
own pipeline shape (ref dags/includes/loanapplication_table.py:26-49 —
$match on a datetime bound, $unwind {path}, dotted-path $project) runs
verbatim, plus the common $group/$sort/$limit/$in tail."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Row

from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline


@pytest.fixture()
def apps(spark):
    def doc(i, created, products, deleted=False):
        return Row(
            _id=f"a{i}",
            dateCreated=created,
            deleted=deleted,
            status="open" if i % 2 == 0 else "closed",
            personalDetails=Row(email=f"u{i}@x.io", primaryPhoneNumber=f"07{i}"),
            products=products,
            amount=float(10 * i),
        )
    return spark.createDataFrame([
        doc(1, datetime(2022, 1, 1), ["p1", "p2"]),
        doc(2, datetime(2023, 1, 1), ["p3"]),
        doc(3, datetime(2023, 6, 1), []),            # empty → $unwind drops
        doc(4, datetime(2023, 7, 1), None),          # null  → $unwind drops
        doc(5, datetime(2024, 1, 1), ["p4", "p5"]),
    ])


def test_reference_pipeline_shape(apps):
    out = apply_pipeline(apps, [
        {"$match": {"dateCreated": {"$gt": datetime(2022, 10, 5)}}},
        {"$unwind": {"path": "$products"}},
        {"$project": {"personalDetails.email": 1, "deleted": 1,
                      "dateCreated": 1, "status": 1, "products": 1}},
    ])
    rows = out.collect()
    # docs 2 and 5 survive the date bound AND carry products: 1 + 2 rows
    assert len(rows) == 3
    # Mongo semantics: a dotted include keeps the NESTED document shape
    assert out.columns == ["_id", "personalDetails", "deleted",
                           "dateCreated", "status", "products"]
    assert out.schema["personalDetails"].dataType.fieldNames() == ["email"]
    assert {r["products"] for r in rows} == {"p3", "p4", "p5"}
    assert {r["personalDetails"]["email"] for r in rows} == \
        {"u2@x.io", "u5@x.io"}


def test_unwind_preserve_nulls(apps):
    out = apply_pipeline(apps, [
        {"$unwind": {"path": "$products", "preserveNullAndEmptyArrays": True}},
    ])
    # empty array contributes a null row; null array too: 2+1+1+1+2 rows
    assert out.count() == 7
    assert out.filter("products IS NULL").count() == 2


def test_match_operators(apps):
    assert apply_pipeline(apps, [
        {"$match": {"status": {"$in": ["open"]}, "deleted": False}},
    ]).count() == 2
    assert apply_pipeline(apps, [
        {"$match": {"$or": [{"_id": "a1"}, {"amount": {"$gte": 50.0}}]}},
    ]).count() == 2
    assert apply_pipeline(apps, [
        {"$match": {"products": {"$exists": True}}},
    ]).count() == 4


def test_group_sort_limit(apps):
    out = apply_pipeline(apps, [
        {"$group": {"_id": "$status",
                    "n": {"$sum": 1},
                    "total": {"$sum": "$amount"}}},
        {"$sort": {"_id": 1}},
        {"$limit": 1},
    ]).collect()
    assert len(out) == 1
    assert out[0]["_id"] == "closed"
    assert out[0].n == 3 and out[0].total == 90.0

    global_agg = apply_pipeline(apps, [
        {"$group": {"_id": None, "mx": {"$max": "$amount"}}},
    ]).collect()
    assert global_agg[0]["_id"] is None and global_agg[0].mx == 50.0


def test_project_exclude_and_addfields(apps):
    out = apply_pipeline(apps, [
        {"$addFields": {"amount2": "$amount"}},
        {"$project": {"personalDetails": 0, "products": 0, "_id": 0}},
    ])
    assert "_id" not in out.columns and "products" not in out.columns
    assert out.select("amount2").first()[0] is not None


def test_count_stage(apps):
    assert apply_pipeline(apps, [{"$count": "n"}]).first().n == 5


def test_empty_match_is_match_all(apps):
    """Mongo treats {$match: {}} (the output of a dynamically-built filter
    with nothing selected) as match-all, not an error."""
    assert apply_pipeline(apps, [{"$match": {}}]).count() == 5
    assert apply_pipeline(apps, [{"$match": {"$and": []}}]).count() == 5
    assert apply_pipeline(apps, [{"$match": {"$or": []}}]).count() == 5


def test_dotted_unwind_replaces_nested_field(spark):
    """$unwind on a dotted path must replace the array INSIDE the struct
    (Mongo semantics), so later stages referencing the path see the
    exploded element, not the pre-unwind array."""
    from pyspark.sql import Row

    df = spark.createDataFrame([
        Row(_id="x", personalDetails=Row(name="a", emails=["e1", "e2"])),
        Row(_id="y", personalDetails=Row(name="b", emails=["e3"])),
    ])
    out = apply_pipeline(df, [
        {"$unwind": {"path": "$personalDetails.emails"}},
        {"$match": {"personalDetails.emails": "e2"}},
    ])
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].personalDetails.emails == "e2"   # scalar, not array
    assert rows[0].personalDetails.name == "a"      # siblings intact
    assert out.columns == ["_id", "personalDetails"]  # no stray top-level col


def test_dotted_project_exclusion_raises(apps):
    """DataFrame.drop silently ignores nested fields, so a dotted
    exclusion would diverge from Mongo semantics — it must fail loudly
    (ADVICE r4)."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    with pytest.raises(ValueError, match="nested"):
        apply_pipeline(apps, [{"$project": {"personalDetails.email": 0}}])


def test_all_13_reference_pipelines_drive_migrate_e2e(spark, tmp_path):
    """VERDICT r4 #6: every entity's reference aggregation pipeline (the
    verbatim $project/$match/$unwind lists from ref dags/includes/
    *_table.py) runs through apply_pipeline over nested fixtures, feeds
    plans/pipeline.migrate, and lands EXACTLY the warehouse a raw-source
    migrate lands — proving the reference's own per-collection pipeline
    definitions drive the engine end to end, not just one shape."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans.entities import (
        ENTITIES,
        REFERENCE_PIPELINES,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.plans.pipeline import (
        Warehouse,
        migrate,
    )
    from tests.datagen import gen_rows

    assert set(REFERENCE_PIPELINES) == set(ENTITIES)

    raw, piped = {}, {}
    for i, (name, spec) in enumerate(ENTITIES.items()):
        df = spark.createDataFrame(gen_rows(spec.schema, 30, seed=100 + i),
                                   spec.schema)
        raw[name] = df
        piped[name] = apply_pipeline(df, REFERENCE_PIPELINES[name])

    # flatten parity per entity: conform over the raw nested source ==
    # conform over the pipeline's (nested-shape-preserving) output
    for name, spec in ENTITIES.items():
        want = sorted(map(repr, spec.conform(raw[name]).collect()))
        got = sorted(map(repr, spec.conform(piped[name]).collect()))
        assert got == want, f"flatten parity broke for {name}"
        assert len(want) > 0 or name == "loanapplications"

    # the pipeline-fed migrate lands the same warehouse as the raw one
    wh_raw = Warehouse(spark, str(tmp_path / "raw"))
    wh_piped = Warehouse(spark, str(tmp_path / "piped"))
    assert migrate(spark, wh_raw, raw).ok
    assert migrate(spark, wh_piped, piped).ok
    for name in ENTITIES:
        a = sorted(map(repr, wh_raw.read(name).collect()))
        b = sorted(map(repr, wh_piped.read(name).collect()))
        assert a == b and len(a) > 0, f"warehouse parity broke for {name}"


def test_project_include_through_array_raises(spark):
    """Mongo projects through arrays of documents; our struct
    reconstruction doesn't build that shape — the include must fail
    loudly ('$unwind first'), never silently drop the field."""
    import pytest
    from pyspark.sql import Row

    df = spark.createDataFrame([
        Row(_id="t1", products=[Row(price=1.0), Row(price=2.0)]),
    ])
    with pytest.raises(ValueError, match="unwind"):
        apply_pipeline(df, [{"$project": {"products.price": 1}}])
    # after $unwind the same include works (the reference's own shape)
    out = apply_pipeline(df, [
        {"$unwind": {"path": "$products"}},
        {"$project": {"products.price": 1}},
    ])
    assert [r.products.price for r in out.collect()] == [1.0, 2.0]


def test_lookup_equality_join_semantics(spark):
    """$lookup: every local doc gains the 'as' array of matching foreign
    docs — [] on no match (never null), multi-match keeps all rows, and
    the unwind-after-lookup idiom flattens like Mongo does."""
    import pytest

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    orders = spark.createDataFrame(
        [(1, "apple"), (2, "pear"), (3, "nothing")],
        ["_id", "item"])
    inventory = spark.createDataFrame(
        [("apple", 10, "A"), ("apple", 5, "B"), ("pear", 7, "A")],
        ["sku", "qty", "wh"])

    out = apply_pipeline(
        orders,
        [{"$lookup": {"from": "inventory", "localField": "item",
                      "foreignField": "sku", "as": "stock"}}],
        collections={"inventory": inventory})
    rows = {r._id: r.stock for r in out.collect()}
    assert [(s.sku, s.qty) for s in rows[1]] == [("apple", 5), ("apple", 10)]
    assert [(s.sku, s.qty) for s in rows[2]] == [("pear", 7)]
    assert rows[3] == []                    # no match -> empty array, not null

    # lookup -> unwind flattens to one row per match (the join idiom)
    flat = apply_pipeline(
        orders,
        [{"$lookup": {"from": "inventory", "localField": "item",
                      "foreignField": "sku", "as": "stock"}},
         {"$unwind": "$stock"}],
        collections={"inventory": inventory})
    assert flat.count() == 3                # order 3 drops (strict unwind)

    with pytest.raises(ValueError, match="collections"):
        apply_pipeline(orders, [{"$lookup": {
            "from": "inventory", "localField": "item",
            "foreignField": "sku", "as": "stock"}}])
    # let with an EMPTY pipeline has no correlation to decompile
    with pytest.raises(ValueError, match="START with a .match"):
        apply_pipeline(orders, [{"$lookup": {
            "from": "inventory", "let": {"i": "$item"}, "pipeline": [],
            "as": "stock"}}], collections={"inventory": inventory})


def test_correlated_lookup_let_group(spark):
    """$lookup with let + pipeline, equality subset: the leading $match
    $expr equality decompiles to a join; a terminal $group {_id: null}
    becomes a per-key aggregate; empty groups yield [] like Mongo."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    orders = spark.createDataFrame(
        [(1, "apple"), (2, "pear"), (3, "nothing")], ["_id", "item"])
    inventory = spark.createDataFrame(
        [("apple", 10, "A"), ("apple", 5, "B"), ("pear", 7, "A"),
         ("apple", 99, "X")],  # wh X filtered by the residual predicate
        ["sku", "qty", "wh"])

    out = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory",
        "let": {"it": "$item"},
        "pipeline": [
            {"$match": {"$expr": {"$and": [
                {"$eq": ["$$it", "$sku"]},
                {"$ne": ["$wh", "X"]},      # residual, non-correlated
            ]}}},
            {"$group": {"_id": None, "total": {"$sum": "$qty"},
                        "n": {"$sum": 1}}},
        ],
        "as": "stock"}}], collections={"inventory": inventory})
    rows = {r._id: r.stock for r in out.collect()}
    assert [(s.total, s.n) for s in rows[1]] == [(15, 2)]
    assert [(s.total, s.n) for s in rows[2]] == [(7, 1)]
    assert rows[3] == []            # $group over zero docs emits no doc

    # reversed operand order ({$eq: ['$field', '$$var']}) joins the same
    out2 = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory", "let": {"it": "$item"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$sku", "$$it"]}}},
            {"$group": {"_id": None, "total": {"$sum": "$qty"}}},
        ],
        "as": "stock"}}], collections={"inventory": inventory})
    assert {r._id: [s.total for s in r.stock]
            for r in out2.collect()} == {1: [114], 2: [7], 3: []}


def test_correlated_lookup_rowlocal_and_concise(spark):
    """Row-local residual stages apply per matched doc; the concise
    correlated form (localField/foreignField + pipeline) is sugar for
    the let/$expr equality prefix."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    orders = spark.createDataFrame(
        [(1, "apple"), (2, "pear"), (3, "nothing")], ["_id", "item"])
    inventory = spark.createDataFrame(
        [("apple", 10, "A"), ("apple", 5, "B"), ("pear", 7, "A")],
        ["sku", "qty", "wh"])

    out = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory", "let": {"it": "$item"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$$it", "$sku"]}}},
            {"$addFields": {"qty2": {"$multiply": ["$qty", 2]}}},
            {"$match": {"qty2": {"$gte": 14}}},
        ],
        "as": "stock"}}], collections={"inventory": inventory})
    rows = {r._id: r.stock for r in out.collect()}
    assert sorted((s.sku, s.qty2) for s in rows[1]) == [("apple", 20)]
    assert [(s.sku, s.qty2) for s in rows[2]] == [("pear", 14)]
    assert rows[3] == []

    concise = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory", "localField": "item", "foreignField": "sku",
        "pipeline": [{"$group": {"_id": None, "mx": {"$max": "$qty"}}}],
        "as": "stock"}}], collections={"inventory": inventory})
    assert {r._id: [s.mx for s in r.stock]
            for r in concise.collect()} == {1: [10], 2: [7], 3: []}


def test_correlated_lookup_general_path(spark):
    """The general distinct-let-tuples path: NON-EQUI correlated
    conjuncts become post-join filters, and $$var refs in stages after
    the leading $match substitute to joined columns — per-document
    semantics at per-distinct-tuple cost."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    orders = spark.createDataFrame(
        [(1, "apple", 6), (2, "apple", 11), (3, "pear", 1),
         (4, "none", 0)],
        ["_id", "item", "minq"])
    inventory = spark.createDataFrame(
        [("apple", 10, "A"), ("apple", 5, "B"), ("pear", 7, "A")],
        ["sku", "qty", "wh"])
    coll = {"inventory": inventory}

    # non-equi correlation: only stock rows with qty > this order's minq
    out = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory", "let": {"it": "$item", "mn": "$minq"},
        "pipeline": [
            {"$match": {"$expr": {"$and": [
                {"$eq": ["$$it", "$sku"]},
                {"$gt": ["$qty", "$$mn"]}]}}},
            {"$group": {"_id": None, "n": {"$sum": 1},
                        "q": {"$sum": "$qty"}}}],
        "as": "s"}}], collections=coll)
    got = {r._id: [(x.n, x.q) for x in r.s] for r in out.collect()}
    assert got == {1: [(1, 10)], 2: [], 3: [(1, 7)], 4: []}

    # $$var used in a stage AFTER the leading $match (row-local output)
    out2 = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory", "let": {"it": "$item", "mn": "$minq"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$$it", "$sku"]}}},
            {"$addFields": {"slack": {"$subtract": ["$qty", "$$mn"]}}},
            {"$match": {"slack": {"$gte": 0}}}],
        "as": "s"}}], collections=coll)
    got2 = {r._id: sorted((x.wh, x.slack) for x in r.s)
            for r in out2.collect()}
    assert got2 == {1: [("A", 4)], 2: [], 3: [("A", 6)], 4: []}

    # same let tuple appearing on many outer rows: evaluated once per
    # DISTINCT tuple, every row still gets its array
    dup = orders.unionByName(orders)
    out3 = apply_pipeline(dup, [{"$lookup": {
        "from": "inventory", "let": {"it": "$item", "mn": "$minq"},
        "pipeline": [
            {"$match": {"$expr": {"$and": [
                {"$eq": ["$$it", "$sku"]},
                {"$gt": ["$qty", "$$mn"]}]}}},
            {"$group": {"_id": None, "n": {"$sum": 1}}}],
        "as": "s"}}], collections=coll)
    assert out3.count() == 8
    assert {(r._id, tuple(x.n for x in r.s)) for r in out3.collect()} == \
        {(1, (1,)), (2, ()), (3, (1,)), (4, ())}


def test_correlated_lookup_raise_paths(spark):
    """Remaining contracts raise with guidance, never silently diverge:
    a sub-pipeline that projects away the join/let key columns, and a
    correlation with no equality conjunct to bound the join."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    orders = spark.createDataFrame([(1, "apple", 6)],
                                   ["_id", "item", "minq"])
    inventory = spark.createDataFrame([("apple", 10)], ["sku", "qty"])
    coll = {"inventory": inventory}

    with pytest.raises(ValueError, match="projected away"):
        apply_pipeline(orders, [{"$lookup": {
            "from": "inventory", "let": {"it": "$item"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$$it", "$sku"]}}},
                {"$project": {"qty": 1, "_id": 0}}],
            "as": "s"}}], collections=coll)
    with pytest.raises(ValueError, match="no .*conjunct to join"):
        apply_pipeline(orders, [{"$lookup": {
            "from": "inventory", "let": {"it": "$item"},
            "pipeline": [{"$match": {"$expr": {"$gt": [1, 0]}}}],
            "as": "s"}}], collections=coll)
    # pure non-equi correlation (no equality at all) is a cross product
    with pytest.raises(ValueError, match="no .*conjunct to join"):
        apply_pipeline(orders, [{"$lookup": {
            "from": "inventory", "let": {"q": "$minq"},
            "pipeline": [{"$match": {"$expr": {"$gt": ["$qty", "$$q"]}}}],
            "as": "s"}}], collections=coll)


def test_match_is_type_bracketed_like_mongo(spark):
    """Cross-type $match follows Mongo's type bracketing: an int query
    on a string field matches nothing (never a runtime cast crash under
    ANSI mode — the fuzz-found bug), $ne across types matches all typed
    values, $in drops mismatched members, and same-type matching is
    unchanged."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, "x", 2.5), (2, "y", 7.0), (3, "3", 1.0)],
        "a int, b string, c double")

    assert apply_pipeline(df, [{"$match": {"b": 3}}]).count() == 0
    assert apply_pipeline(df, [{"$match": {"b": "3"}}]).count() == 1
    assert apply_pipeline(df, [{"$match": {"b": {"$ne": 3}}}]).count() == 3
    assert apply_pipeline(df, [{"$match": {"b": {"$gt": 1}}}]).count() == 0
    assert apply_pipeline(
        df, [{"$match": {"b": {"$in": [3, "y"]}}}]).count() == 1
    assert apply_pipeline(
        df, [{"$match": {"b": {"$nin": [3, "y"]}}}]).count() == 2
    # numeric family unifies int and double literals (Mongo numerics do)
    assert apply_pipeline(df, [{"$match": {"c": 7}}]).count() == 1
    assert apply_pipeline(df, [{"$match": {"a": {"$gte": 2}}}]).count() == 2


def test_match_reads_a_dropped_field_as_missing(spark):
    """A field an earlier $project dropped is missing from every
    document: $match on it matches nothing, ``$exists: false`` matches
    everything, and $sort on it leaves the order to later keys. Spark
    would otherwise resolve the filter or sort below the projection and
    use the dropped values (an int query on the dropped string column
    crashed under ANSI — found by the pipeline fuzz test)."""
    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    proj = [{"$project": {"a": 1}}]
    assert apply_pipeline(df, proj + [{"$match": {"b": 0}}]).count() == 0
    assert apply_pipeline(df, proj + [{"$match": {"b": "x"}}]).count() == 0
    assert apply_pipeline(
        df, proj + [{"$match": {"b": {"$exists": False}}}]).count() == 2
    # $sort on the dropped key sorts every document as missing, so the
    # next key decides (Spark would sort by the values below the Project)
    df = spark.createDataFrame([(1, "z"), (2, "a"), (3, "m")],
                               "a int, b string")
    for drop in ({"$project": {"a": 1}}, {"$unset": "b"}):
        out = apply_pipeline(df, [drop, {"$sort": {"b": 1, "a": 1}}])
        assert [r.a for r in out.collect()] == [1, 2, 3]


_DROPPED_FIELD_CONSUMERS = {
    "match_expr": {"$match": {"$expr": {"$eq": ["$b", "z"]}}},
    "match_path": {"$match": {"b": "z"}},
    "addFields": {"$addFields": {"x": "$b"}},
    "group_key": {"$group": {"_id": "$b", "n": {"$sum": 1}}},
    "group_sum": {"$group": {"_id": None, "s": {"$sum": "$c"}}},
    "unwind": {"$unwind": "$b"},
    "unwind_preserve": {"$unwind": {"path": "$b", "includeArrayIndex": "i",
                                    "preserveNullAndEmptyArrays": True}},
    "project_computed": {"$project": {"y": "$b"}},
    "sortByCount": {"$sortByCount": "$b"},
    "replaceRoot": {"$replaceRoot": {"newRoot": {"q": "$b"}}},
    "bucket": {"$bucket": {"groupBy": "$c", "boundaries": [0, 100],
                           "default": "other"}},
    "setWindowFields": {"$setWindowFields": {
        "partitionBy": "$a", "output": {"s": {"$sum": "$c"}}}},
    "sort": {"$sort": {"b": 1, "a": -1}},
    "lookup": {"$lookup": {"from": "o", "localField": "b",
                           "foreignField": "k", "as": "m"}},
}


@pytest.mark.parametrize("case", sorted(_DROPPED_FIELD_CONSUMERS))
def test_a_dropped_field_reads_as_an_all_null_column(spark, case):
    """The missing-field contract: after ``$project``/``$unset`` removed
    ``b`` and ``c``, every consumer reads them exactly as all-null
    columns of their types would read (compared on the output's
    columns). Spark would resolve a Filter below the Project and read
    the dropped values, and fail to resolve the field anywhere else.
    ``$unwind`` needs an array, so its all-null stand-in for ``b`` is
    an array column."""
    from pyspark.sql import functions as F

    stage = _DROPPED_FIELD_CONSUMERS[case]
    df = spark.createDataFrame([(1, "z", 10), (2, "a", 20), (3, "m", 30)],
                               "a int, b string, c int")
    colls = {"o": spark.createDataFrame([("z", 1), (None, 2)],
                                        "k string, v int")}
    btype = "array<string>" if "$unwind" in stage else "string"
    nulled = (df.withColumn("b", F.lit(None).cast(btype))
              .withColumn("c", F.lit(None).cast("int")))
    for drop in ({"$project": {"a": 1}}, {"$unset": ["b", "c"]}):
        out = apply_pipeline(df, [drop, stage], colls)
        want = apply_pipeline(nulled, [stage], colls).select(*out.columns)
        got, exp = out.collect(), want.collect()
        if case != "sort":
            got, exp = sorted(got, key=repr), sorted(exp, key=repr)
        assert got == exp, (drop, got, exp)
        if case == "match_expr":
            assert got == []  # Mongo returns no document


def test_field_names_are_case_sensitive(spark):
    """Mongo field names are case-sensitive; Spark's analyzer is not.
    ``A`` over a column ``a`` is a missing field."""
    df = spark.createDataFrame([(1, "z"), (2, "a")], "a int, b string")
    assert apply_pipeline(df, [{"$match": {"A": 1}}]).count() == 0
    out = apply_pipeline(df, [{"$addFields": {"x": "$A"}}]).collect()
    assert [r.x for r in out] == [None, None]


def test_expression_operators_cond_ifnull_concat_arith(apps):
    """Aggregation expressions in computed values: $cond (both forms),
    $ifNull, $concat (null-if-any-null), n-ary $add/$multiply, binary
    $subtract/$divide/$mod, $abs, case ops, expression comparisons and
    $and/$or/$not — in $addFields, computed $project fields, and
    $group accumulator arguments, nested."""
    out = apply_pipeline(apps, [
        {"$addFields": {
            "tier": {"$cond": [{"$gte": ["$amount", 30]}, "big", "small"]},
            "tier2": {"$cond": {"if": {"$and": [{"$gt": ["$amount", 5]},
                                                {"$not": [{"$eq": ["$status",
                                                                   "closed"]}]}]},
                      "then": "keep", "else": "drop"}},
            "label": {"$concat": ["$status", "-", "$_id"]},
            "net": {"$subtract": [{"$multiply": ["$amount", 2]}, 5]},
            "third": {"$divide": ["$amount", 4]},
            "parity": {"$mod": [{"$add": ["$amount", 1]}, 2]},
            "mag": {"$abs": {"$subtract": [0, "$amount"]}},
            "fallback": {"$ifNull": [{"$literal": None}, "$status", "zz"]},
        }},
    ])
    got = {r._id: r for r in out.collect()}
    assert got["a1"].tier == "small" and got["a5"].tier == "big"
    assert got["a1"].tier2 == "drop"       # closed
    assert got["a2"].tier2 == "keep"       # open, amount > 5
    assert got["a3"].label == "closed-a3"
    assert got["a2"].net == 35.0           # 20*2-5
    assert got["a4"].third == 10.0
    assert got["a1"].parity == 1.0 and got["a2"].parity == 1.0
    assert got["a5"].mag == 50.0

    # computed $project field + $group accumulator expression
    out2 = apply_pipeline(apps, [
        {"$project": {"status": 1,
                      "double_amt": {"$multiply": ["$amount", 2]}}},
        {"$group": {"_id": "$status",
                    "tot": {"$sum": {"$add": ["$double_amt", 1]}}}},
    ])
    g = {r._id: r.tot for r in out2.collect()}
    # closed: a1(10)+a3(30)+a5(50) doubled +1 each = 20+60+100+3 = 183
    assert g["closed"] == 183.0
    assert g["open"] == 2 * (20 + 40) + 2

    # $concat with a null operand is null (Mongo's rule)
    out3 = apply_pipeline(apps, [
        {"$addFields": {"x": {"$concat": ["$status",
                                          {"$literal": None}]}}},
    ])
    assert all(r.x is None for r in out3.collect())


def test_expression_operator_errors_are_typed(apps):
    """Unknown operators, wrong arities, and multi-key operator docs
    raise the translator's declared ValueError."""
    import pytest

    for bad in (
        {"$addFields": {"x": {"$frobnicate": ["$amount"]}}},
        {"$addFields": {"x": {"$subtract": ["$amount"]}}},
        {"$addFields": {"x": {"$ifNull": ["$amount"]}}},
        {"$addFields": {"x": {"$cond": ["$deleted", 1]}}},
        {"$addFields": {"x": {"$add": ["$a"], "$mul": ["$b"]}}},
        # document literals are expressions now; MIXED keys still raise
        {"$addFields": {"x": {"nested": "doc", "$add": [1, 2]}}},
    ):
        with pytest.raises(ValueError):
            apply_pipeline(apps, [bad])


def test_expression_operators_batch2(apps, spark):
    """Second expression batch: $switch, string ops ($substrCP 0-indexed,
    $split literal delimiter, $strLenCP, trims), array ops ($size,
    $arrayElemAt with negative index, $in), date parts + $dateToString
    (strftime -> Spark pattern translation), numeric ($floor/$round/
    $pow), and $to* conversions."""
    out = apply_pipeline(apps, [
        {"$addFields": {
            "sw": {"$switch": {"branches": [
                {"case": {"$lt": ["$amount", 15]}, "then": "low"},
                {"case": {"$lt": ["$amount", 35]}, "then": "mid"},
            ], "default": "high"}},
            "prefix": {"$substrCP": ["$_id", 0, 1]},
            "idlen": {"$strLenCP": "$_id"},
            "mailbox": {"$arrayElemAt": [
                {"$split": ["$personalDetails.email", "@"]}, 0]},
            "domain": {"$arrayElemAt": [
                {"$split": ["$personalDetails.email", "@"]}, -1]},
            "nprod": {"$size": {"$ifNull": ["$products",
                                            {"$literal": []}]}},
            "has_p1": {"$in": ["p1", {"$ifNull": ["$products",
                                                  {"$literal": []}]}]},
            "yr": {"$year": "$dateCreated"},
            "day": {"$dateToString": {"date": "$dateCreated",
                                      "format": "%Y-%m-%d"}},
            "amt_i": {"$toInt": "$amount"},
            "rounded": {"$round": [{"$divide": ["$amount", 3]}, 1]},
            "cube": {"$pow": [{"$toInt": 2}, 3]},
        }},
    ])
    got = {r._id: r for r in out.collect()}
    assert got["a1"].sw == "low" and got["a3"].sw == "mid" \
        and got["a5"].sw == "high"
    assert got["a2"].prefix == "a" and got["a2"].idlen == 2
    assert got["a4"].mailbox == "u4" and got["a4"].domain == "x.io"
    assert got["a1"].nprod == 2 and got["a3"].nprod == 0 \
        and got["a4"].nprod == 0
    assert got["a1"].has_p1 is True and got["a2"].has_p1 is False
    assert got["a2"].yr == 2023
    assert got["a2"].day == "2023-01-01"
    assert got["a4"].amt_i == 40
    assert got["a4"].rounded == 13.3
    assert got["a1"].cube == 8.0

    # unsupported date specifier fails loudly, never mistranslates
    import pytest
    with pytest.raises(ValueError, match="specifier"):
        apply_pipeline(apps, [{"$addFields": {"x": {"$dateToString": {
            "date": "$dateCreated", "format": "%Q"}}}}])
    # $split on a non-literal delimiter is rejected (regex surprise)
    with pytest.raises(ValueError, match="literal"):
        apply_pipeline(apps, [{"$addFields": {"x": {
            "$split": ["$_id", "$status"]}}}])


def test_group_accumulators_batch2(apps):
    """$push/$addToSet (sorted — deterministic where Mongo is
    unspecified), $first/$last after $sort, $stdDevPop."""
    out = apply_pipeline(apps, [
        {"$sort": {"amount": 1}},
        {"$group": {"_id": "$status",
                    "ids": {"$push": "$_id"},
                    "statuses": {"$addToSet": "$status"},
                    "cheapest": {"$first": "$_id"},
                    "dearest": {"$last": "$_id"},
                    "sd": {"$stdDevPop": "$amount"}}},
    ])
    got = {r._id: r for r in out.collect()}
    assert got["closed"].ids == ["a1", "a3", "a5"]
    assert got["open"].statuses == ["open"]
    # closed amounts: 10, 30, 50 ascending
    assert got["closed"].cheapest == "a1"
    assert got["closed"].dearest == "a5"
    import math
    assert math.isclose(got["closed"].sd,
                        (((10 - 30) ** 2 + 0 + (50 - 30) ** 2) / 3) ** 0.5)


def test_sortbycount_replaceroot_unionwith(apps, spark):
    """$sortByCount orders by count desc with the pinned _id tiebreak;
    $replaceRoot promotes a nested document to the root; $unionWith
    runs its sub-pipeline and unions heterogeneous schemas with NULLs
    for absent fields."""
    out = apply_pipeline(apps, [{"$sortByCount": "$status"}]).collect()
    assert [(r._id, r["count"]) for r in out] == \
        [("closed", 3), ("open", 2)]

    roots = apply_pipeline(apps, [
        {"$match": {"_id": "a1"}},
        {"$replaceRoot": {"newRoot": "$personalDetails"}}]).collect()
    assert roots[0].asDict() == {"email": "u1@x.io",
                                 "primaryPhoneNumber": "071"}

    extra = spark.createDataFrame(
        [("z9", "archived"), ("z8", "open")], "_id string, status string")
    u = apply_pipeline(apps, [
        {"$project": {"_id": 1, "status": 1, "amount": 1}},
        {"$unionWith": {"coll": "legacy",
                        "pipeline": [{"$match": {"status": "archived"}}]}},
    ], {"legacy": extra})
    rows = {r._id: (r.status, r.amount) for r in u.collect()}
    assert len(rows) == 6
    assert rows["z9"] == ("archived", None)       # missing field -> NULL
    assert rows["a5"] == ("closed", 50.0)

    with pytest.raises(ValueError, match="unionWith"):
        apply_pipeline(apps, [{"$unionWith": "nope"}])


def test_bucket_semantics(apps, spark):
    """Left-closed boundaries, _id = lower bound, $group-compiled
    output accumulators, string-default label coercion, and Mongo's
    error on out-of-bounds without a default."""
    out = apply_pipeline(apps, [
        {"$bucket": {"groupBy": "$amount", "boundaries": [0, 25, 45],
                     "default": "overflow",
                     "output": {"n": {"$sum": 1},
                                "hi": {"$max": "$amount"}}}}])
    assert sorted(tuple(r) for r in out.collect()) == \
        [("0", 2, 20.0), ("25", 2, 40.0), ("overflow", 1, 50.0)]

    # numeric default keeps the native label type
    out2 = apply_pipeline(apps, [
        {"$bucket": {"groupBy": "$amount", "boundaries": [0, 25, 45],
                     "default": -1}}])
    assert sorted(tuple(r) for r in out2.collect()) == \
        [(-1, 1), (0, 2), (25, 2)]

    # no default + out-of-bounds document = Mongo's aggregation error
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        apply_pipeline(apps, [
            {"$bucket": {"groupBy": "$amount",
                         "boundaries": [0, 25, 45]}}]).collect()
    assert "outside boundaries" in str(exc.value)

    with pytest.raises(ValueError, match="strictly increasing"):
        apply_pipeline(apps, [
            {"$bucket": {"groupBy": "$amount", "boundaries": [25, 0]}}])

    # duplicated boundary: sorted but NOT strictly increasing — Mongo
    # rejects it; accepting it would create an unreachable empty bucket
    with pytest.raises(ValueError, match="strictly increasing"):
        apply_pipeline(apps, [
            {"$bucket": {"groupBy": "$amount",
                         "boundaries": [0, 10, 10, 20]}}])


def test_set_window_fields(apps):
    """Running sums over documents frames, whole-partition default
    frame, rank family, $shift lead/lag, and the range frame — Mongo
    5.0's window stage on Spark windows."""
    out = apply_pipeline(apps, [
        {"$setWindowFields": {
            "partitionBy": "$status",
            "sortBy": {"dateCreated": 1},
            "output": {
                "running": {"$sum": "$amount",
                            "window": {"documents": ["unbounded",
                                                     "current"]}},
                "total": {"$sum": "$amount"},
                "pos": {"$documentNumber": {}},
                "prev": {"$shift": {"output": "$_id", "by": -1,
                                    "default": "none"}},
            }}}])
    got = {r._id: (r.running, r.total, r.pos, r.prev)
           for r in out.collect()}
    # closed partition: a1 (10), a3 (30), a5 (50) by date
    assert got["a1"] == (10.0, 90.0, 1, "none")
    assert got["a3"] == (40.0, 90.0, 2, "a1")
    assert got["a5"] == (90.0, 90.0, 3, "a3")
    # open partition: a2 (20), a4 (40)
    assert got["a2"] == (20.0, 60.0, 1, "none")
    assert got["a4"] == (60.0, 60.0, 2, "a2")

    near = apply_pipeline(apps, [
        {"$setWindowFields": {
            "sortBy": {"amount": 1},
            "output": {"n_near": {"$count": {},
                                  "window": {"range": [-10, 10]}}}}}])
    assert {r._id: r.n_near for r in near.collect()} == \
        {"a1": 2, "a2": 3, "a3": 3, "a4": 3, "a5": 2}

    with pytest.raises(ValueError, match="requires sortBy"):
        apply_pipeline(apps, [
            {"$setWindowFields": {"partitionBy": "$status",
                                  "output": {"r": {"$rank": {}}}}}])
    with pytest.raises(ValueError, match="does not accept"):
        apply_pipeline(apps, [
            {"$setWindowFields": {"partitionBy": "$status",
                                  "sortBy": {"amount": 1},
                                  "output": {"r": {"$rank": {},
                                                   "window": {"documents":
                                                              [0, 0]}}}}}])
    with pytest.raises(ValueError, match="ascending"):
        apply_pipeline(apps, [
            {"$setWindowFields": {"sortBy": {"amount": -1},
                                  "output": {"n": {"$count": {},
                                                   "window": {"range":
                                                              [-1, 1]}}}}}])


def test_set_window_fields_range_unit(spark):
    """Time-unit range windows (Mongo 5.0's trailing-N-days shape):
    bounds scale to epoch milliseconds on the order key, inclusive both
    ends, per-partition; ties share a window; calendar units and a unit
    on a documents frame raise."""
    from datetime import datetime as dt

    ev = spark.createDataFrame(
        [("u1", dt(2024, 1, 1), 1), ("u1", dt(2024, 1, 2), 2),
         ("u1", dt(2024, 1, 4), 4), ("u1", dt(2024, 1, 8), 8),
         ("u2", dt(2024, 1, 2), 100)],
        "u string, ts timestamp, v int")
    out = apply_pipeline(ev, [
        {"$setWindowFields": {
            "partitionBy": "$u", "sortBy": {"ts": 1},
            "output": {
                "s": {"$sum": "$v", "window": {"range": [-2, 0],
                                               "unit": "day"}},
                # unit key FIRST in the frame dict: order must not matter
                "n": {"$count": {}, "window": {"unit": "day",
                                               "range": [-1, 1]}},
            }}}])
    got = {(r.u, r.v): (r.s, r.n) for r in out.collect()}
    assert got == {("u1", 1): (1, 2), ("u1", 2): (3, 2),
                   ("u1", 4): (6, 1), ("u1", 8): (8, 1),
                   ("u2", 100): (100, 1)}

    # ties on the sort key share one range window (peers, both engines)
    tie = spark.createDataFrame(
        [("a", dt(2024, 1, 1, 12), 1), ("b", dt(2024, 1, 1, 12), 2),
         ("c", dt(2024, 1, 1, 18), 4)], "k string, ts timestamp, v int")
    out2 = apply_pipeline(tie, [
        {"$setWindowFields": {
            "sortBy": {"ts": 1},
            "output": {"s": {"$sum": "$v",
                             "window": {"range": [-7, 0],
                                        "unit": "hour"}}}}}])
    assert {r.k: r.s for r in out2.collect()} == {"a": 3, "b": 3, "c": 7}

    with pytest.raises(ValueError, match="range unit"):
        apply_pipeline(ev, [
            {"$setWindowFields": {"sortBy": {"ts": 1},
                                  "output": {"s": {"$sum": "$v",
                                                   "window": {
                                                       "range": [-1, 0],
                                                       "unit": "fortnight"}}}}}])
    with pytest.raises(ValueError, match="applies to range"):
        apply_pipeline(ev, [
            {"$setWindowFields": {"sortBy": {"ts": 1},
                                  "output": {"s": {"$sum": "$v",
                                                   "window": {
                                                       "documents": [0, 0],
                                                       "unit": "day"}}}}}])
    with pytest.raises(ValueError, match="one frame kind"):
        apply_pipeline(ev, [
            {"$setWindowFields": {"sortBy": {"ts": 1},
                                  "output": {"s": {"$sum": "$v",
                                                   "window": {
                                                       "documents": [0, 0],
                                                       "range": [0, 0]}}}}}])


def test_set_window_fields_calendar_range(spark):
    """Calendar range units (month/quarter/year, Mongo 5.0): trailing-N
    windows on a MONTHS-SINCE-EPOCH key — gaps in the series honored
    (unlike a documents frame), quarter/year scale in months, and a
    non-month-aligned sort value raises AT RUNTIME (exact Mongo parity
    needs day-anchored arithmetic a constant-width frame can't do)."""
    from datetime import datetime as dt

    m = spark.createDataFrame(
        [("a", dt(2023, 11, 1), 1), ("a", dt(2023, 12, 1), 2),
         ("a", dt(2024, 1, 1), 4),
         # gap: feb missing — apr's trailing-3mo window excludes jan
         ("a", dt(2024, 4, 1), 8),
         ("b", dt(2024, 1, 1), 100)],
        "k string, m timestamp, v int")
    out = apply_pipeline(m, [
        {"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"m": 1},
            "output": {
                "s3": {"$sum": "$v", "window": {"range": [-2, 0],
                                                "unit": "month"}},
                "sq": {"$sum": "$v", "window": {"range": [-1, 0],
                                                "unit": "quarter"}},
                "sy": {"$sum": "$v", "window": {"range": ["unbounded", 0],
                                                "unit": "year"}},
            }}}])
    got = {(r.k, r.v): (r.s3, r.sq, r.sy) for r in out.collect()}
    assert got == {
        ("a", 1): (1, 1, 1),       # nov23
        ("a", 2): (3, 3, 3),       # dec23: nov+dec
        ("a", 4): (7, 7, 7),       # jan24: nov+dec+jan (3mo & 1q back)
        ("a", 8): (8, 12, 15),     # apr24: 3mo=apr only; q back=jan+apr
        ("b", 100): (100, 100, 100),
    }

    # non-month-aligned sort value -> runtime raise (distributed check)
    bad = spark.createDataFrame([("a", dt(2024, 1, 15), 1)],
                                "k string, m timestamp, v int")
    out_bad = apply_pipeline(bad, [
        {"$setWindowFields": {
            "sortBy": {"m": 1},
            "output": {"s": {"$sum": "$v", "window": {
                "range": [-1, 0], "unit": "month"}}}}}])
    with pytest.raises(Exception, match="month-aligned"):
        out_bad.collect()

    with pytest.raises(ValueError, match="integer"):
        apply_pipeline(m, [
            {"$setWindowFields": {
                "sortBy": {"m": 1},
                "output": {"s": {"$sum": "$v", "window": {
                    "range": [-1.5, 0], "unit": "month"}}}}}])


def test_facet_shared_scan(apps):
    """$facet: N sub-pipelines over one persisted input collapse into a
    single document of arrays; results equal the sub-pipelines run
    independently; the shared-scan cache is RELEASED once the facet doc
    materializes (eager localCheckpoint — a long-lived session must not
    accumulate pinned blocks per $facet); Mongo's banned-stage rule
    enforced."""
    spark = apps.sparkSession
    spark.catalog.clearCache()
    spec = {
        "by_status": [{"$sortByCount": "$status"}],
        "big": [{"$match": {"amount": {"$gte": 30.0}}},
                {"$project": {"amount": 1}}],
        "total": [{"$group": {"_id": None, "n": {"$sum": 1},
                              "amt": {"$sum": "$amount"}}}],
    }
    out = apply_pipeline(apps, [{"$facet": spec}])
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert sorted((x["_id"], x["count"]) for x in r["by_status"]) == \
        [("closed", 3), ("open", 2)]
    assert sorted((x["_id"], x["amount"]) for x in r["big"]) == \
        [("a3", 30.0), ("a4", 40.0), ("a5", 50.0)]
    assert [(x["n"], x["amt"]) for x in r["total"]] == [(5, 150.0)]
    # facet arrays == the sub-pipelines run independently
    for name, sub in spec.items():
        indep = apply_pipeline(apps, sub).collect()
        assert len(r[name]) == len(indep)
    # leak gate: the facet document is already materialized (eager) and
    # the shared-scan cache released — nothing left in the CacheManager
    # (the sub-pipelines DID read one persisted input during
    # materialization; post-hoc the plan shows the checkpointed rows)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan

    # composes with $project expression ops over the facet arrays
    sizes = apply_pipeline(apps, [
        {"$facet": {"st": [{"$sortByCount": "$status"}]}},
        {"$project": {"n_st": {"$size": "$st"},
                      "first": {"$arrayElemAt": ["$st._id", 0]}}}])
    got = sizes.collect()[0]
    assert (got["n_st"], got["first"]) == (2, "closed")

    with pytest.raises(ValueError, match="may not contain"):
        apply_pipeline(apps, [{"$facet": {"x": [{"$facet": {"y": []}}]}}])
    with pytest.raises(ValueError, match="non-empty"):
        apply_pipeline(apps, [{"$facet": {}}])


def test_out_stage_replaces_target(spark, tmp_path):
    """$out overwrites the whole target snapshot table atomically and
    returns the post-write state; both the bare-string and {db, coll}
    forms resolve through targets."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    t = str(tmp_path / "out_t")
    targets = {"t": t}
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "_id string, n int")
    got = apply_pipeline(base, [{"$out": "t"}], targets=targets)
    assert sorted((r._id, r.n) for r in got.collect()) == \
        [("a", 1), ("b", 2), ("c", 3)]
    # second $out REPLACES (not appends); {db, coll} form
    got = apply_pipeline(base.filter("n >= 3"),
                         [{"$out": {"db": "d", "coll": "t"}}],
                         targets=targets)
    assert [(r._id, r.n) for r in got.collect()] == [("c", 3)]
    assert [(r._id, r.n) for r in
            S.read_snapshot(spark, t).collect()] == [("c", 3)]

    with pytest.raises(ValueError, match="final pipeline stage"):
        apply_pipeline(base, [{"$out": "t"}, {"$limit": 1}],
                       targets=targets)
    with pytest.raises(ValueError, match="targets"):
        apply_pipeline(base, [{"$out": "nope"}], targets=targets)


def test_merge_stage_mode_matrix(spark, tmp_path):
    """$merge whenMatched x whenNotMatched lowered onto single snapshot
    commits: every supported combination, field-wise 'merge' carry,
    bootstrap into an empty target, composite keys, and the error
    contracts (fail modes, duplicate batch keys, schema widening)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    def seed(name):
        t = str(tmp_path / name)
        S.snap_append(spark, t, spark.createDataFrame(
            [("a", 1, 10.0), ("b", 2, 20.0)],
            "_id string, n int, x double"))
        return t

    def merged(t):
        return sorted((r._id, r.n, r.x)
                      for r in S.read_snapshot(spark, t).collect())

    # batch misses column n (carry candidate), hits a, adds c
    batch = spark.createDataFrame(
        [("a", 99.0), ("c", 33.0)], "_id string, x double")

    # defaults = merge + insert: batch cols overwrite, n carried / null
    t = seed("m_default")
    out = apply_pipeline(batch, [{"$merge": "tm"}], targets={"tm": t})
    assert merged(t) == [("a", 1, 99.0), ("b", 2, 20.0), ("c", None, 33.0)]
    assert sorted((r._id, r.n, r.x) for r in out.collect()) == merged(t)

    # replace + insert: the whole row is the batch's (n nulled)
    t = seed("m_replace")
    apply_pipeline(batch, [{"$merge": {
        "into": "tm", "whenMatched": "replace",
        "whenNotMatched": "insert"}}], targets={"tm": t})
    assert merged(t) == [("a", None, 99.0), ("b", 2, 20.0),
                         ("c", None, 33.0)]

    # keepExisting + insert: matched rows untouched, new keys land
    t = seed("m_keep")
    apply_pipeline(batch, [{"$merge": {
        "into": "tm", "whenMatched": "keepExisting"}}], targets={"tm": t})
    assert merged(t) == [("a", 1, 10.0), ("b", 2, 20.0), ("c", None, 33.0)]

    # merge + discard: only the matched update lands
    t = seed("m_discard")
    apply_pipeline(batch, [{"$merge": {
        "into": "tm", "whenNotMatched": "discard"}}], targets={"tm": t})
    assert merged(t) == [("a", 1, 99.0), ("b", 2, 20.0)]

    # keepExisting + discard: a no-op, and no new table version
    t = seed("m_noop")
    v0 = S.current_version(spark, t)
    apply_pipeline(batch, [{"$merge": {
        "into": "tm", "whenMatched": "keepExisting",
        "whenNotMatched": "discard"}}], targets={"tm": t})
    assert S.current_version(spark, t) == v0
    assert merged(t) == [("a", 1, 10.0), ("b", 2, 20.0)]

    # fail modes
    t = seed("m_fail")
    with pytest.raises(ValueError, match="whenMatched='fail'"):
        apply_pipeline(batch, [{"$merge": {
            "into": "tm", "whenMatched": "fail"}}], targets={"tm": t})
    with pytest.raises(ValueError, match="whenNotMatched='fail'"):
        apply_pipeline(batch, [{"$merge": {
            "into": "tm", "whenNotMatched": "fail"}}], targets={"tm": t})
    # and a batch that only matches passes whenNotMatched='fail'
    apply_pipeline(batch.filter("_id = 'a'"), [{"$merge": {
        "into": "tm", "whenNotMatched": "fail"}}], targets={"tm": t})
    assert merged(t) == [("a", 1, 99.0), ("b", 2, 20.0)]

    # bootstrap: $merge into a never-written target inserts everything
    t = str(tmp_path / "m_boot")
    apply_pipeline(batch, [{"$merge": "tm"}], targets={"tm": t})
    assert sorted((r._id, r.x)
                  for r in S.read_snapshot(spark, t).collect()) == \
        [("a", 99.0), ("c", 33.0)]

    # composite 'on' keys
    t = str(tmp_path / "m_comp")
    S.snap_append(spark, t, spark.createDataFrame(
        [("a", 1, 10.0)], "k1 string, k2 int, x double"))
    apply_pipeline(
        spark.createDataFrame([("a", 1, 11.0), ("a", 2, 12.0)],
                              "k1 string, k2 int, x double"),
        [{"$merge": {"into": "tm", "on": ["k1", "k2"]}}],
        targets={"tm": t})
    assert sorted((r.k1, r.k2, r.x)
                  for r in S.read_snapshot(spark, t).collect()) == \
        [("a", 1, 11.0), ("a", 2, 12.0)]

    # error contracts
    t = seed("m_err")
    dup = spark.createDataFrame([("a", 1.0), ("a", 2.0)],
                                "_id string, x double")
    with pytest.raises(ValueError, match="multiple rows"):
        apply_pipeline(dup, [{"$merge": "tm"}], targets={"tm": t})
    wide = spark.createDataFrame([("a", 1.0)], "_id string, extra double")
    with pytest.raises(ValueError, match="absent from target"):
        apply_pipeline(wide, [{"$merge": "tm"}], targets={"tm": t})
    with pytest.raises(ValueError, match="missing from"):
        apply_pipeline(batch.drop("_id"), [{"$merge": "tm"}],
                       targets={"tm": t})
    # 'on' keys join as top-level columns: a nested path is refused
    nested = spark.createDataFrame([(("a",), 1.0)],
                                   "s struct<b:string>, x double")
    with pytest.raises(ValueError, match="missing from"):
        apply_pipeline(nested, [{"$merge": {"into": "tm", "on": "s.b"}}],
                       targets={"tm": t})
    # the $set update-pipeline form is now a real mode, not a raise —
    # covered by test_merge_when_matched_update_pipeline below


def test_merge_when_matched_update_pipeline(spark, tmp_path):
    """$merge whenMatched UPDATE-PIPELINE ($set subset): bare $field
    refs read the existing target row, $$new the incoming batch doc —
    the conflict-increment idiom; unmatched rows still insert; staged
    $set chains; subset contracts raise with guidance."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import (
        snapshots as S,
    )

    def seed(name):
        t = str(tmp_path / name)
        S.snap_append(spark, t, spark.createDataFrame(
            [("a", 10, 1.0), ("b", 20, 2.0)],
            "_id string, qty int, score double"))
        return t

    batch = spark.createDataFrame(
        [("a", 5, 9.0), ("c", 7, 3.0)], "_id string, qty int, score double")

    # conflict-increment: qty accumulates, score takes the new value
    t = seed("up_inc")
    out = apply_pipeline(batch, [{"$merge": {
        "into": "tm",
        "whenMatched": [{"$set": {
            "qty": {"$add": ["$qty", "$$new.qty"]},
            "score": "$$new.score"}}],
    }}], targets={"tm": t})
    want = [("a", 15, 9.0), ("b", 20, 2.0), ("c", 7, 3.0)]
    assert sorted((r._id, r.qty, r.score)
                  for r in S.read_snapshot(spark, t).collect()) == want
    assert sorted((r._id, r.qty, r.score) for r in out.collect()) == want

    # staged $set chains: stage 2 sees stage 1's assignment
    t = seed("up_chain")
    apply_pipeline(batch, [{"$merge": {
        "into": "tm", "whenNotMatched": "discard",
        "whenMatched": [
            {"$set": {"qty": {"$add": ["$qty", "$$new.qty"]}}},
            {"$set": {"score": {"$multiply": ["$qty", 2]}}},
        ],
    }}], targets={"tm": t})
    assert sorted((r._id, r.qty, r.score)
                  for r in S.read_snapshot(spark, t).collect()) == \
        [("a", 15, 30.0), ("b", 20, 2.0)]

    # custom $merge let: variables are expressions over the SOURCE doc,
    # REPLACING the default $$new binding ($$ROOT = the source doc)
    t = seed("up_let")
    apply_pipeline(batch, [{"$merge": {
        "into": "tm", "whenNotMatched": "discard",
        "let": {"dq": {"$multiply": ["$qty", 10]}, "src": "$$ROOT"},
        "whenMatched": [{"$set": {
            "qty": {"$add": ["$qty", "$$dq"]},
            "score": "$$src.score"}}],
    }}], targets={"tm": t})
    assert sorted((r._id, r.qty, r.score)
                  for r in S.read_snapshot(spark, t).collect()) == \
        [("a", 60, 9.0), ("b", 20, 2.0)]

    # whenNotMatched fail still guards; matched-only batch passes
    t = seed("up_fail")
    with pytest.raises(ValueError, match="whenNotMatched='fail'"):
        apply_pipeline(batch, [{"$merge": {
            "into": "tm", "whenNotMatched": "fail",
            "whenMatched": [{"$set": {"qty": "$$new.qty"}}],
        }}], targets={"tm": t})

    # subset contracts
    t = seed("up_err")
    for bad, msg in [
        ([{"$replaceRoot": {"newRoot": "$$new"}}],
         "set/.addFields/.unset only"),
        ([{"$set": {"a.b": 1}}], "nested path"),
        ([{"$set": {"_id": "x"}}], "may not modify"),
        ([{"$set": {"nope": 1}}], "absent from the target"),
    ]:
        with pytest.raises(ValueError, match=msg):
            apply_pipeline(batch, [{"$merge": {
                "into": "tm", "whenMatched": bad}}], targets={"tm": t})
    # a partitioned snap target runs the pipeline in its own layout
    lk = str(tmp_path / "lk")
    S.snap_append(spark, lk, spark.createDataFrame(
        [("a", 10, 1.0), ("b", 20, 2.0)],
        "_id string, qty int, score double"), partition_by=("_id",))
    out_lk = apply_pipeline(batch, [{"$merge": {
        "into": "lk",
        "whenMatched": [{"$set": {
            "qty": {"$add": ["$qty", "$$new.qty"]},
            "score": "$$new.score"}}],
    }}], targets={"lk": lk})
    assert sorted((r._id, r.qty, r.score) for r in out_lk.collect()) == \
        [("a", 15, 9.0), ("b", 20, 2.0), ("c", 7, 3.0)]
    assert S.read_manifest(spark, lk)["partition_by"] == ["_id"]
    # jdbc targets support the pipeline form too (r13) — but only the
    # SQL-compilable expression subset; richer ops raise with guidance
    # BEFORE any connection is attempted
    with pytest.raises(ValueError, match="no jdbc SQL lowering"):
        apply_pipeline(batch, [{"$merge": {
            "into": "db",
            "whenMatched": [{"$set": {"qty": {"$toUpper": "$qty"}}}]}}],
            targets={"db": {"kind": "jdbc", "url": "jdbc:x",
                            "table": "t"}})


def test_expression_array_hofs_and_let(spark):
    """$map/$filter/$reduce/$let with $$var scoping (nested HOFs shadow
    correctly), plus the array toolkit: $range end-exclusive + empty on
    unwalkable ranges, $slice 2/3-arg forms, set ops deduped+sorted,
    $indexOfArray/-CP 0-based with -1 missing, $first/$last null-safe."""
    df = spark.createDataFrame(
        [(1, [1, 2, 3], "hello world"), (2, [10, -5], "foo bar foo"),
         (3, [], "x")],
        "id int, xs array<int>, s string")
    out = apply_pipeline(df, [{"$addFields": {
        "dbl": {"$map": {"input": "$xs", "as": "x",
                         "in": {"$multiply": ["$$x", 2]}}},
        "pos": {"$filter": {"input": "$xs",
                            "cond": {"$gt": ["$$this", 0]}}},
        "pos1": {"$filter": {"input": "$xs", "limit": 1,
                             "cond": {"$gt": ["$$this", 0]}}},
        "tot": {"$reduce": {"input": "$xs", "initialValue": 0,
                            "in": {"$add": ["$$value", "$$this"]}}},
        # nested HOF: inner $$y shadows nothing, outer $$x visible inside
        "cross": {"$map": {"input": "$xs", "as": "x",
                           "in": {"$reduce": {
                               "input": "$xs", "initialValue": 0,
                               "in": {"$add": ["$$value", "$$x"]}}}}},
        # nested $let: inner vars evaluate against the OUTER scope —
        # 'b' sees the outer a, not the sibling rebinding (Mongo's
        # scoping, verified live; sequential scoping silently diverges)
        "lt": {"$let": {"vars": {"a": {"$size": "$xs"}},
                        "in": {"$let": {
                            "vars": {"a": {"$add": ["$$a", 1]},
                                     "b": "$$a"},
                            "in": {"$multiply": ["$$a", "$$b"]}}}}},
        "rng": {"$range": [0, 10, 5]},
        "rng_empty": {"$range": [5, 5]},
        "rng_neg": {"$range": [5, 0, -2]},
        "fst": {"$first": "$xs"}, "lst": {"$last": "$xs"},
        "sl2": {"$slice": ["$xs", -2]},
        "sl3": {"$slice": ["$xs", 1, 2]},
        # negative position beyond the length clamps to the start
        # (Mongo: [[1,2,3], -10, 2] -> [1,2]), never []
        "sl3n": {"$slice": ["$xs", -10, 2]},
        "su": {"$setUnion": ["$xs", [2, 99]]},
        "idx": {"$indexOfArray": ["$xs", 2]},
        "icp": {"$indexOfCP": ["$s", "o"]},
        "ra": {"$replaceAll": {"input": "$s", "find": "o",
                               "replacement": "0"}},
        "r1": {"$replaceOne": {"input": "$s", "find": "o",
                               "replacement": "0"}},
        "rm": {"$regexMatch": {"input": "$s", "regex": "^HELLO",
                               "options": "i"}},
    }}])
    r = {x.id: x for x in out.collect()}
    assert r[1].dbl == [2, 4, 6] and r[2].dbl == [20, -10]
    assert r[1].pos == [1, 2, 3] and r[2].pos == [10] and r[3].pos == []
    assert r[1].pos1 == [1]
    assert (r[1].tot, r[2].tot, r[3].tot) == (6, 5, 0)
    # cross: for each x, sum over xs of x = x * len(xs)
    assert r[1].cross == [3, 6, 9]
    # a(outer)=3 -> inner a=4, b=outer a=3 -> 12; empty: a=0,b=0? no —
    # inner a=1, b=0 -> 0
    assert (r[1].lt, r[3].lt) == (12, 0)
    assert r[1].rng == [0, 5] and r[1].rng_empty == [] \
        and r[1].rng_neg == [5, 3, 1]
    assert (r[1].fst, r[1].lst, r[3].fst, r[3].lst) == (1, 3, None, None)
    assert r[1].sl2 == [2, 3] and r[1].sl3 == [2, 3]
    assert r[2].sl2 == [10, -5] and r[3].sl2 == []   # clamp + empty edge
    assert r[1].sl3n == [1, 2] and r[3].sl3n == []   # 3-arg clamp
    assert r[1].su == [1, 2, 3, 99] and r[3].su == [2, 99]
    assert (r[1].idx, r[2].idx) == (1, -1)
    assert (r[1].icp, r[2].icp, r[3].icp) == (4, 1, -1)
    assert r[2].ra == "f00 bar f00" and r[2].r1 == "f0o bar foo"
    assert (r[1].rm, r[2].rm) == (True, False)

    with pytest.raises(ValueError, match="unknown pipeline variable"):
        apply_pipeline(df, [{"$addFields": {"bad": {"$add": ["$$nope", 1]}}}])
    # a vars entry referencing a SIBLING var is undefined in Mongo
    # (vars resolve against the outer scope) — raise, don't sequence
    with pytest.raises(ValueError, match="unknown pipeline variable"):
        apply_pipeline(df, [{"$addFields": {"bad": {"$let": {
            "vars": {"a": 1, "b": {"$add": ["$$a", 1]}},
            "in": "$$b"}}}}])
    # $$ROOT binds the whole current document at every stage
    rooted = apply_pipeline(df, [
        {"$addFields": {"self": "$$ROOT"}},
        {"$addFields": {"self_id": "$self.id"}}])
    rr = {x.id: x for x in rooted.collect()}
    assert rr[1].self_id == 1 and rr[1].self.s == "hello world"


def test_expression_date_math(spark):
    """$dateAdd (calendar-aware), $dateTrunc, and Mongo's
    boundary-crossing $dateDiff (23:00 -> next-day 01:00 is ONE day,
    not zero)."""
    from datetime import datetime as dt

    df = spark.createDataFrame(
        [(1, dt(2024, 1, 31, 23, 30), dt(2024, 2, 1, 0, 30))],
        "id int, a timestamp, b timestamp")
    out = apply_pipeline(df, [{"$addFields": {
        "plus_month": {"$dateAdd": {"startDate": "$a", "unit": "month",
                                    "amount": 1}},
        "trunc_h": {"$dateTrunc": {"date": "$a", "unit": "hour"}},
        "dd_day": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                 "unit": "day"}},
        "dd_hour": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                  "unit": "hour"}},
        "dd_month": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                   "unit": "month"}},
    }}]).collect()[0]
    from datetime import datetime as dt2
    assert out.plus_month == dt2(2024, 2, 29, 23, 30)   # month-end clamp
    assert out.trunc_h == dt2(2024, 1, 31, 23, 0)
    # 23:30 -> 00:30 crosses one midnight, one hour boundary, one month
    assert (out.dd_day, out.dd_hour, out.dd_month) == (1, 1, 1)

    with pytest.raises(ValueError, match="dateDiff unit"):
        apply_pipeline(df, [{"$addFields": {
            "x": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                "unit": "fortnight"}}}}])


def test_fill_stage(spark):
    """$fill: value/locf/linear per partition; linear interpolates on
    the sort key and leaves unbracketed nulls null."""
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 40.0),
         ("a", 5, None), ("b", 1, None), ("b", 2, 7.0)],
        "p string, k int, v double")
    lin = apply_pipeline(df, [{"$fill": {
        "partitionByFields": ["p"], "sortBy": {"k": 1},
        "output": {"v": {"method": "linear"}}}}])
    assert sorted((r.p, r.k, r.v) for r in lin.collect()) == [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("a", 4, 40.0),
        ("a", 5, None), ("b", 1, None), ("b", 2, 7.0)]
    locf = apply_pipeline(df, [{"$fill": {
        "partitionByFields": ["p"], "sortBy": {"k": 1},
        "output": {"v": {"method": "locf"}}}}])
    assert sorted((r.p, r.k, r.v) for r in locf.collect()) == [
        ("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 10.0), ("a", 4, 40.0),
        ("a", 5, 40.0), ("b", 1, None), ("b", 2, 7.0)]
    const = apply_pipeline(df, [{"$fill": {
        "output": {"v": {"value": -1.0}, "w": {"value": 9}}}}])
    row = sorted((r.p, r.k, r.v, r.w) for r in const.collect())[1]
    assert row == ("a", 2, -1.0, 9)          # fill + brand-new column
    with pytest.raises(ValueError, match="requires sortBy"):
        apply_pipeline(df, [{"$fill": {"output": {"v": {"method": "locf"}}}}])


def test_densify_stage(spark):
    """$densify: per-partition grids, half-open explicit bounds, and
    calendar-unit timestamp grids; existing points never duplicate and
    non-field columns come back NULL."""
    from datetime import datetime as dt

    df = spark.createDataFrame([("x", 0, "k"), ("x", 3, "k"),
                                ("y", 10, "k"), ("y", 12, "k")],
                               "p string, n int, other string")
    out = apply_pipeline(df, [{"$densify": {
        "field": "n", "partitionByFields": ["p"],
        "range": {"step": 1, "bounds": "partition"}}}])
    rows = sorted((r.p, r.n, r.other) for r in out.collect())
    assert [(p, n) for p, n, _ in rows] == [
        ("x", 0), ("x", 1), ("x", 2), ("x", 3),
        ("y", 10), ("y", 11), ("y", 12)]
    assert [o for _, n, o in rows if n in (1, 2, 11)] == [None] * 3
    with pytest.raises(ValueError, match="nested field unsupported"):
        apply_pipeline(df, [{"$densify": {
            "field": "n", "partitionByFields": ["p.q"],
            "range": {"step": 1, "bounds": "partition"}}}])

    expl = apply_pipeline(df, [{"$densify": {
        "field": "n", "partitionByFields": ["p"],
        "range": {"step": 5, "bounds": [0, 11]}}}])
    assert sorted((r.p, r.n) for r in expl.collect()) == [
        ("x", 0), ("x", 3), ("x", 5), ("x", 10),
        ("y", 0), ("y", 5), ("y", 10), ("y", 12)]

    # NULL partition keys: the anti-join must be null-safe, or the grid
    # re-inserts values that already exist in the null partition
    dfn = spark.createDataFrame([(None, 0), (None, 3), ("x", 0), ("x", 2)],
                                "p string, n int")
    outn = apply_pipeline(dfn, [{"$densify": {
        "field": "n", "partitionByFields": ["p"],
        "range": {"step": 1, "bounds": "partition"}}}])
    got = sorted(((r.p or ""), r.n) for r in outn.collect())
    assert got == [("", 0), ("", 1), ("", 2), ("", 3),
                   ("x", 0), ("x", 1), ("x", 2)]

    ts = spark.createDataFrame([(dt(2024, 1, 31),), (dt(2024, 4, 30),)],
                               "t timestamp")
    month = apply_pipeline(ts, [{"$densify": {
        "field": "t",
        "range": {"step": 1, "unit": "month", "bounds": "full"}}}])
    # calendar stepping from Jan 31: Feb 29 (leap clamp), Mar 31 added
    assert sorted((r.t.month, r.t.day) for r in month.collect()) == [
        (1, 31), (2, 29), (3, 31), (4, 30)]


def test_densify_partitionless_distributed(spark):
    """r16: a partition-less $densify grid generates via a DISTRIBUTED
    spark.range (value = lo + i*step), never the pre-r16 one-task
    explode — the plan carries a Range scan with the default
    parallelism and no Window; results are unchanged across numeric,
    fixed-width time and calendar units, full and explicit (half-open)
    bounds."""
    from datetime import datetime as dt

    df = spark.createDataFrame([(0,), (3,), (7,)], "n int")
    out = apply_pipeline(df, [{"$densify": {
        "field": "n", "range": {"step": 2, "bounds": "full"}}}])
    assert sorted(r.n for r in out.collect()) == [0, 2, 3, 4, 6, 7]
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert " Range (" in plan, plan              # spark.range grid scan
    assert "Window" not in plan, plan            # no one-task window
    import re
    m = re.search(r"Range \(0, (\d+), step=1, splits=(\d+)", plan)
    assert m and int(m.group(2)) > 1, plan       # distributed splits

    # explicit bounds are half-open [lo, hi): 9 excluded, no scan needed
    expl = apply_pipeline(df, [{"$densify": {
        "field": "n", "range": {"step": 3, "bounds": [0, 9]}}}])
    assert sorted(r.n for r in expl.collect()) == [0, 3, 6, 7]

    # fixed-width unit on timestamps, full bounds
    ts = spark.createDataFrame(
        [(dt(2024, 1, 1),), (dt(2024, 1, 4),)], "t timestamp")
    days = apply_pipeline(ts, [{"$densify": {
        "field": "t", "range": {"step": 1, "unit": "day",
                                "bounds": "full"}}}])
    assert sorted(r.t.day for r in days.collect()) == [1, 2, 3, 4]

    # calendar unit, partition-less: month-end clamp matches sequence
    # (lo + i*step, multiplied not accumulated)
    tm = spark.createDataFrame([(dt(2024, 1, 31),), (dt(2024, 4, 30),)],
                               "t timestamp")
    month = apply_pipeline(tm, [{"$densify": {
        "field": "t", "range": {"step": 1, "unit": "month",
                                "bounds": "full"}}}])
    assert sorted((r.t.month, r.t.day) for r in month.collect()) == [
        (1, 31), (2, 29), (3, 31), (4, 30)]

    # ISO STRING bounds against a temporal field coerce driver-side
    # (r17, ADVICE r16 — the partitionByFields path already accepted
    # them via lit+cast; both paths now share the contract); a string
    # bound against a numeric field is refused uniformly
    sb = apply_pipeline(ts, [{"$densify": {
        "field": "t", "range": {"step": 1, "unit": "day",
                                "bounds": ["2024-01-01",
                                           "2024-01-06"]}}}])
    assert sorted(r.t.day for r in sb.collect()) == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="date/timestamp"):
        apply_pipeline(df, [{"$densify": {
            "field": "n", "range": {"step": 1,
                                    "bounds": ["a", "b"]}}}])

    # empty / all-null collection with full bounds: no grid, no crash
    empty = spark.createDataFrame([], "n int")
    assert apply_pipeline(empty, [{"$densify": {
        "field": "n", "range": {"step": 1, "bounds": "full"}}}]) \
        .count() == 0

    with pytest.raises(ValueError, match="positive"):
        apply_pipeline(df, [{"$densify": {
            "field": "n", "range": {"step": 0, "bounds": "full"}}}])


def test_fill_partitionless_distributed(spark):
    """r17: partition-less $fill with a numeric/temporal sort key
    range-buckets on the key and fills per bucket with a cross-bucket
    boundary carry — the DATA window always partitions on __fillb
    (never the pre-r17 whole-collection single-task window); the only
    partition-less windows left in the plan run over the ≤ B-row
    bucket summary. Values are identical to a global window: null runs
    that straddle bucket boundaries interpolate/carry across them."""
    import pyspark.sql.functions as F

    # 5k rows, non-nulls every 7th: null runs of 6 guarantee many
    # bucket-straddling runs at 32+ buckets
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, F.col("id").cast("double"))
        .alias("v"),
        F.when(F.col("id") % 11 == 0, F.col("id").cast("double"))
        .alias("u"))
    out = apply_pipeline(df, [{"$fill": {
        "sortBy": {"k": 1},
        "output": {"v": {"method": "linear"}, "u": {"method": "locf"}}}}])
    rows = {r.k: (r.v, r.u) for r in out.collect()}
    assert len(rows) == 5000
    for k in range(5000):
        v, u = rows[k]
        # linear on the key is k; past the LAST observation (4998, the
        # largest 7-multiple) Mongo leaves nulls unbracketed → null
        assert v == (float(k) if k <= 4998 else None), (k, v)
        assert u == float(k - k % 11), (k, u)  # locf: last 11-multiple

    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "hashpartitioning(__fillb" in final, final
    for ln in final.splitlines():
        if "windowspecdefinition(" not in ln:
            continue
        # data windows partition on the bucket; the only partition-less
        # windows are the bucket-summary carries (named __lv_/__lst_/
        # __fst_ inputs over the aggregate's ≤ B rows)
        assert "__fillb" in ln or any(
            t in ln for t in ("__lv_", "__lst_", "__fst_")), ln

    # descending + bucket-straddling locf carry, exact parity with a
    # hand-computed walk
    desc = apply_pipeline(df.select("k", "u"), [{"$fill": {
        "sortBy": {"k": -1}, "output": {"u": {"method": "locf"}}}}])
    drows = {r.k: r.u for r in desc.collect()}
    for k in range(5000):
        nxt = k + (-k) % 11            # nearest 11-multiple at or above
        assert drows[k] == (float(nxt) if nxt < 5000 else None), (k, nxt)


def test_swf_partitionless_distributed(spark):
    """r17: partition-less $setWindowFields for the prefix-scan family
    (rank/denseRank/documentNumber, running and whole-collection
    $sum/$min/$max/$avg/$count) distributes via range buckets + carry —
    value-identical to the single global window (verified against the
    constant-partitionBy reference over nulls, ties, and every op),
    and the plan's data windows always partition on __swfb."""
    import pyspark.sql.functions as F

    # 2k rows with nulls (every 3rd) AND sort-key ties (k = id // 2)
    df = spark.range(0, 2000).select(
        (F.col("id") / 2).cast("long").alias("k"),
        F.when(F.col("id") % 3 != 0,
               (F.col("id") % 97).cast("double")).alias("v"),
        F.col("id").alias("i"))
    out_spec = {
        "rn": {"$documentNumber": {}},
        "rk": {"$rank": {}},
        "dr": {"$denseRank": {}},
        "rsum": {"$sum": "$v",
                 "window": {"documents": ["unbounded", "current"]}},
        "rmin": {"$min": "$v",
                 "window": {"documents": ["unbounded", "current"]}},
        "rmax": {"$max": "$v",
                 "window": {"documents": ["unbounded", "current"]}},
        "ravg": {"$avg": "$v",
                 "window": {"documents": ["unbounded", "current"]}},
        "rcnt": {"$count": {},
                 "window": {"documents": ["unbounded", "current"]}},
        "tot": {"$sum": "$v"},
        "gavg": {"$avg": "$v"},
    }
    # tie-free compound sort (k, i) so ranks are deterministic; ranks
    # still tie on k alone in the dr/rk columns? No — rank ties are on
    # the FULL sort tuple, which (k, i) makes unique; the k-ties still
    # exercise the bucket-by-value tie containment.
    dist = apply_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1, "i": 1}, "output": out_spec}}])
    ref = apply_pipeline(df.withColumn("c", F.lit(1)), [
        {"$setWindowFields": {"partitionBy": "$c",
                              "sortBy": {"k": 1, "i": 1},
                              "output": out_spec}}])
    rd = {r.i: r for r in dist.collect()}
    rr = {r.i: r for r in ref.collect()}
    assert len(rd) == len(rr) == 2000
    for i, b in rr.items():
        a = rd[i]
        for f in out_spec:
            va, vb = a[f], b[f]
            if isinstance(va, float) and vb is not None:
                # $avg/$sum float carries reassociate bucket partials —
                # documented ulp-level latitude (decimal sums are exact)
                assert abs(va - vb) < 1e-9, (i, f, va, vb)
            else:
                assert va == vb, (i, f, va, vb)

    # plan gate: every data window partitions on the bucket; the only
    # order-only windows are the ≤ B-row summary carries
    plan = dist._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "hashpartitioning(__swfb" in final, final
    for ln in final.splitlines():
        if "windowspecdefinition(" not in ln:
            continue
        assert "__swfb" in ln, ln

    # descending + single-key rank family over ties
    d2 = apply_pipeline(df.select("k", "i"), [{"$setWindowFields": {
        "sortBy": {"k": -1}, "output": {"rk": {"$rank": {}},
                                        "dr": {"$denseRank": {}}}}}])
    got = {(r.k, r.rk, r.dr) for r in d2.collect()}
    # k runs 999..0 descending, two rows per k: rank jumps by 2, dense
    # rank by 1
    for k in range(1000):
        pos = 2 * (999 - k) + 1
        assert (k, pos, 1000 - k) in got, (k, pos)

    # gap-fillers ($locf/$linearFill) ride the SAME distributed
    # machinery as the $fill stage, alone and MIXED with prefix ops —
    # and the filled output may be a pure ALIAS of an input column (the
    # regression shape: a filter() HOF in the bucket expression once
    # shared lambda exprIds across the self-join and Catalyst inferred
    # an unbindable cross-side filter — INTERNAL_ERROR at runtime)
    sdf = df.select("i", F.when(F.col("i") % 7 == 0,
                                F.col("v")).alias("v"))
    mix_spec = {"sortBy": {"i": 1}, "output": {
        "c": {"$locf": "$v"}, "l": {"$linearFill": "$v"},
        "rs": {"$sum": "$v",
               "window": {"documents": ["unbounded", "current"]}}}}
    md = {r.i: r for r in apply_pipeline(
        sdf, [{"$setWindowFields": mix_spec}]).collect()}
    mref = {r.i: r for r in apply_pipeline(
        sdf.withColumn("p", F.lit(1)), [{"$setWindowFields": {
            "partitionBy": "$p", **mix_spec}}]).collect()}
    for i, b in mref.items():
        for f in ("c", "l", "rs"):
            assert md[i][f] == b[f] or (
                md[i][f] is None and b[f] is None), (i, f, md[i][f], b[f])
    # alias-derived $fill stage column (the minimal repro of the same)
    alias = apply_pipeline(
        sdf.withColumn("c", F.col("v")),
        [{"$fill": {"sortBy": {"i": 1},
                    "output": {"c": {"method": "locf"}}}}])
    assert alias.count() == 2000

    # $shift distributes too: lead/lag whose offset SPANS several tiny
    # buckets (150 rows over up-to-64 buckets → 2-3 rows each, k=7),
    # defaults only past the collection ends, by=0 identity, and a null
    # target value passes through (never replaced by the default)
    small = spark.range(0, 150).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 != 0,
               (F.col("id") % 13).cast("double")).alias("v"))
    sh_spec = {"sortBy": {"k": 1}, "output": {
        "ld": {"$shift": {"output": "$v", "by": 7, "default": -1.0}},
        "lg": {"$shift": {"output": "$v", "by": -7}},
        "id0": {"$shift": {"output": "$v", "by": 0}}}}
    sd = {r.k: r for r in apply_pipeline(
        small, [{"$setWindowFields": sh_spec}]).collect()}
    sref = {r.k: r for r in apply_pipeline(
        small.withColumn("p", F.lit(1)), [{"$setWindowFields": {
            "partitionBy": "$p", **sh_spec}}]).collect()}
    for kk, b in sref.items():
        for f in ("ld", "lg", "id0"):
            assert sd[kk][f] == b[f] or (
                sd[kk][f] is None and b[f] is None), (kk, f)
    # offset beyond the whole collection → default everywhere
    alld = apply_pipeline(small, [{"$setWindowFields": {
        "sortBy": {"k": 1}, "output": {"x": {"$shift": {
            "output": "$v", "by": 200, "default": 9.9}}}}}]).collect()
    assert all(r.x == 9.9 for r in alld)
    """$bucketAuto: ~equal-population buckets via exact percentile
    boundaries; _id carries each bucket's observed min/max; output
    accumulators reuse the $group compiler; nulls join the first
    bucket."""
    df = spark.createDataFrame([(i,) for i in range(1, 101)] + [(None,)],
                               "x int")
    out = apply_pipeline(df, [{"$bucketAuto": {
        "groupBy": "$x", "buckets": 4,
        "output": {"n": {"$sum": 1}, "s": {"$sum": "$x"}}}}])
    got = sorted((r._id.min, r._id.max, r.n, r.s)
                 for r in out.collect())
    # the null row counts into the first bucket (n=26) but min/max skip
    # nulls (Mongo's BSON order would label the bound null — documented
    # deviation; the bucket membership is identical)
    assert got == [(1, 25, 26, 325), (26, 50, 25, 950),
                   (51, 75, 25, 1575), (76, 100, 25, 2200)]
    with pytest.raises(ValueError, match="granularity"):
        apply_pipeline(df, [{"$bucketAuto": {"groupBy": "$x",
                                             "buckets": 2,
                                             "granularity": "R999"}}])


def test_integral_window_and_sample(spark):
    """$integral (Mongo 5.0): trapezoid over the frame's consecutive
    points, optional time unit on the sort key, 0 for single-point
    frames; $expMovingAvg raises with guidance; $sample returns exactly
    n pseudo-random docs via TakeOrdered (no full shuffle)."""
    from datetime import datetime as dt

    # numeric sort key: points (0,0) (2,4) (3,6) -> trapezoids 4, 5
    df = spark.createDataFrame(
        [("a", 0.0, 0.0), ("a", 2.0, 4.0), ("a", 3.0, 6.0),
         ("b", 1.0, 10.0)],
        "k string, x double, y double")
    out = apply_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$k", "sortBy": {"x": 1},
        "output": {
            "run": {"$integral": {"input": "$y"},
                    "window": {"documents": ["unbounded", "current"]}},
            "last2": {"$integral": {"input": "$y"},
                      "window": {"documents": [-1, "current"]}},
        }}}])
    got = {(r.k, r.x): (r.run, r.last2) for r in out.collect()}
    assert got == {("a", 0.0): (0.0, 0.0), ("a", 2.0): (4.0, 4.0),
                   ("a", 3.0): (9.0, 5.0), ("b", 1.0): (0.0, 0.0)}

    # time unit: hourly points scale Δkey to hours
    ts = spark.createDataFrame(
        [(dt(2024, 1, 1, 0), 2.0), (dt(2024, 1, 1, 2), 4.0)],
        "t timestamp, y double")
    out2 = apply_pipeline(ts, [{"$setWindowFields": {
        "sortBy": {"t": 1},
        "output": {"auc": {"$integral": {"input": "$y", "unit": "hour"},
                           "window": {"documents": ["unbounded",
                                                    "current"]}}}}}])
    assert sorted(r.auc for r in out2.collect()) == [0.0, 6.0]

    # $expMovingAvg is supported since r13 (exact per-partition fold)
    # — full coverage in test_exp_moving_avg_window; only the
    # window-spec contract is checked here
    with pytest.raises(ValueError, match="does not accept a window"):
        apply_pipeline(df, [{"$setWindowFields": {
            "sortBy": {"x": 1},
            "output": {"e": {"$expMovingAvg": {"input": "$y", "N": 3},
                             "window": {"documents": ["unbounded",
                                                      "current"]}}}}}])

    # $sample: exactly n rows, all from the input, random subset
    big = spark.range(1000).withColumnRenamed("id", "v")
    sampled = apply_pipeline(big, [{"$sample": {"size": 7}}])
    rows = sampled.collect()
    assert len(rows) == 7
    assert all(0 <= r.v < 1000 for r in rows)


def test_date_parts_expressions(spark):
    """$isoWeekYear (Thursday trick), $dateFromParts (in-range subset),
    $dateToParts (standard + iso8601 variants)."""
    from datetime import datetime as dt

    df = spark.createDataFrame(
        # 2024-12-30 is ISO week 1 of 2025; 2021-01-01 is ISO week 53
        # of 2020 — the classic year-boundary cases
        [(1, dt(2024, 12, 30, 5, 6, 7)), (2, dt(2021, 1, 1)),
         (3, dt(2024, 6, 15, 12, 30, 45))],
        "id int, d timestamp")
    out = apply_pipeline(df, [{"$addFields": {
        "iwy": {"$isoWeekYear": "$d"},
        "iw": {"$isoWeek": "$d"},
        "parts": {"$dateToParts": {"date": "$d"}},
        "iparts": {"$dateToParts": {"date": "$d", "iso8601": True}},
        "made": {"$dateFromParts": {"year": 2024, "month": 6, "day": 15,
                                    "hour": 12, "minute": 30,
                                    "second": 45}},
    }}])
    r = {x.id: x for x in out.collect()}
    assert (r[1].iwy, r[1].iw) == (2025, 1)
    assert (r[2].iwy, r[2].iw) == (2020, 53)
    assert (r[3].iwy, r[3].iw) == (2024, 24)
    assert (r[1].parts.year, r[1].parts.month, r[1].parts.day,
            r[1].parts.hour, r[1].parts.minute, r[1].parts.second) == \
        (2024, 12, 30, 5, 6, 7)
    assert (r[1].iparts.isoWeekYear, r[1].iparts.isoWeek,
            r[1].iparts.isoDayOfWeek) == (2025, 1, 1)
    assert r[3].made == dt(2024, 6, 15, 12, 30, 45)
    # timezone is SUPPORTED since r14; the ISO-week form still raises
    with pytest.raises(ValueError, match="ISO-week"):
        apply_pipeline(df, [{"$addFields": {
            "bad": {"$dateFromParts": {"isoWeekYear": 2024}}}}])
    # a zoned build shifts the wall clock back to the UTC instant
    zoned = apply_pipeline(df.limit(1), [{"$project": {
        "z": {"$dateFromParts": {"year": 1995, "month": 7, "day": 1,
                                 "hour": 22, "minute": 30,
                                 "timezone": "America/New_York"}}}}])
    assert zoned.collect()[0].z == dt(1995, 7, 2, 2, 30)


def test_root_variable_in_stages(spark):
    """$$ROOT/$$CURRENT bind the whole current document at stage level:
    the classic $group $push $$ROOT and $top output $$ROOT idioms, the
    $replaceRoot wrap-and-lift shape, $match $expr self-comparison, and
    translator-internal __ scratch columns never leak into ROOT."""
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 3, "y"), ("b", 2, "z")],
        "k string, v int, s string")

    # $group: push whole docs, and $top output $$ROOT (best-doc idiom)
    g = apply_pipeline(df, [
        {"$sort": {"v": 1}},
        {"$group": {"_id": "$k",
                    "docs": {"$push": "$$ROOT"},
                    "best": {"$top": {"output": "$$ROOT",
                                      "sortBy": {"v": -1}}},
                    "first_doc": {"$first": "$$ROOT"}}},
    ])
    r = {x._id: x for x in g.collect()}
    assert sorted((d.v, d.s) for d in r["a"].docs) == [(1, "x"), (3, "y")]
    assert (r["a"].best.v, r["a"].best.s) == (3, "y")
    assert r["a"].first_doc.v == 1          # after the $sort
    assert "__pos" not in r["a"].docs[0].asDict()   # scratch never leaks

    # $replaceRoot: wrap the doc under a key (the nesting idiom)
    w = apply_pipeline(df, [
        {"$replaceWith": {"wrapped": "$$ROOT", "kk": "$k"}},
    ])
    rw = w.collect()[0]
    assert rw.wrapped.v in (1, 2, 3) and rw.kk == rw.wrapped.k

    # $match $expr with $$ROOT (self-referential predicate)
    m = apply_pipeline(df, [
        {"$match": {"$expr": {"$eq": [{"$getField": {
            "field": "v", "input": "$$ROOT"}}, 2]}}}])
    assert [x.k for x in m.collect()] == ["b"]

    # $mergeObjects over $$ROOT: annotate-and-lift in one stage
    mo = apply_pipeline(df, [
        {"$replaceWith": {"$mergeObjects": [
            "$$ROOT", {"v2": {"$multiply": ["$v", 2]}, "s": "gone"}]}},
    ])
    rmo = {x.k + str(x.v): x for x in mo.collect()}
    assert rmo["a1"].v2 == 2 and rmo["a1"].s == "gone"   # overwrite wins
    with pytest.raises(ValueError, match="document literals"):
        apply_pipeline(df, [{"$addFields": {
            "bad": {"$mergeObjects": ["$$ROOT", "$$ROOT"]}}}])

    # window $push $$ROOT
    sw = apply_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$k", "sortBy": {"v": 1},
        "output": {"seen": {"$push": "$$ROOT",
                            "window": {"documents": ["unbounded",
                                                     "current"]}}}}}])
    top = {(x.k, x.v): [d.v for d in x.seen] for x in sw.collect()}
    assert top[("a", 3)] == [1, 3]


def test_documents_stage(spark):
    """$documents: collectionless literal source replacing the input
    frame; composes with the rest of the pipeline; non-first raises."""
    seed = spark.range(1)          # ignored — $documents replaces it
    out = apply_pipeline(seed, [
        {"$documents": [{"k": "a", "v": 1}, {"k": "b", "v": 5},
                        {"k": "a", "v": 2}]},
        {"$group": {"_id": "$k", "s": {"$sum": "$v"}}},
    ])
    assert {(r._id, r.s) for r in out.collect()} == {("a", 3), ("b", 5)}
    with pytest.raises(ValueError, match="first stage"):
        apply_pipeline(seed, [{"$limit": 1},
                              {"$documents": [{"k": 1}]}])
    with pytest.raises(ValueError, match="non-empty array"):
        apply_pipeline(seed, [{"$documents": []}])


def test_document_literals_in_expressions(spark):
    """Mongo document literals in $project/$addFields ({x: "$a", y: 1})
    build structs whose field values are themselves expressions,
    nested; mixing $-keys with plain keys still raises."""
    df = spark.createDataFrame([(1, 2.0, "x")], "a int, b double, s string")
    out = apply_pipeline(df, [{"$addFields": {
        "loc": {"x": "$a", "y": {"$multiply": ["$b", 10]},
                "tag": {"deep": "$s"}},
    }}])
    r = out.collect()[0]
    assert (r.loc.x, r.loc.y, r.loc.tag.deep) == (1, 20.0, "x")
    with pytest.raises(ValueError, match="expression document"):
        apply_pipeline(df, [{"$addFields": {
            "bad": {"x": 1, "$add": [1, 2]}}}])


def test_redact_stage(spark):
    """$redact — the canonical security-tagging shape: the expression
    re-evaluates at every document level; $$PRUNE drops the row at the
    root, NULLs a subdocument, and removes array elements; $$DESCEND
    recurses; $$KEEP short-circuits the whole subtree; a field missing
    at some level reads as null (Mongo's missing-field rule)."""
    from pyspark.sql import Row

    df = spark.createDataFrame([
        Row(_id=1, level=5,
            sub=Row(level=1, secret="s1"),
            items=[Row(level=5, v="a"), Row(level=1, v="b"),
                   Row(level=5, v="c")]),
        Row(_id=2, level=1,                      # root prunes
            sub=Row(level=5, secret="s2"),
            items=[Row(level=5, v="d")]),
        Row(_id=3, level=5,
            sub=Row(level=5, secret="s3"), items=[]),
    ])
    expr = {"$cond": [{"$gte": ["$level", 5]}, "$$DESCEND", "$$PRUNE"]}
    out = apply_pipeline(df, [{"$redact": expr}])
    rows = {r._id: r for r in out.collect()}
    assert set(rows) == {1, 3}
    assert rows[1].sub is None                   # level-1 subdoc pruned
    assert [e.v for e in rows[1].items] == ["a", "c"]
    assert rows[3].sub.secret == "s3" and rows[3].items == []

    # $$KEEP short-circuits: level-5 root keeps EVERYTHING, even the
    # level-1 subdoc that $$DESCEND would prune
    keep = apply_pipeline(df, [{"$redact": {
        "$cond": [{"$gte": ["$level", 5]}, "$$KEEP", "$$PRUNE"]}}])
    krows = {r._id: r for r in keep.collect()}
    assert krows[1].sub.secret == "s1"
    assert [e.v for e in krows[1].items] == ["a", "b", "c"]

    # a level WITHOUT the tag field: the ref reads null -> cond false
    # -> that level prunes, others unaffected
    df2 = spark.createDataFrame(
        [Row(_id=1, level=5, meta=Row(note="x"))])
    out2 = apply_pipeline(df2, [{"$redact": expr}])
    assert out2.collect()[0].meta is None

    # $$ROOT/$$CURRENT stay unbound: at a nested level Mongo's CURRENT
    # is the subdocument, so reading the root there would be wrong
    for var in ("$$ROOT.level", "$$CURRENT.level"):
        with pytest.raises(ValueError, match="not bound"):
            apply_pipeline(df, [{"$redact": {"$cond": [
                {"$gte": [var, 5]}, "$$DESCEND", "$$PRUNE"]}}])


def test_math_tail_and_sample_rate(spark):
    """$log [x, base], $trunc with place, the trig/angle family, and
    the $sampleRate bernoulli match operator."""
    import math

    df = spark.createDataFrame([(1, 8.0, 3.14159)], "id int, x double, a double")
    out = apply_pipeline(df, [{"$addFields": {
        "lg2": {"$log": ["$x", 2]},
        "tr": {"$trunc": [{"$multiply": ["$a", 100]}, 0]},
        "tr1": {"$trunc": [7.777, 2]},
        "s": {"$sin": "$a"},
        "at2": {"$atan2": [1, 1]},
        "deg": {"$radiansToDegrees": {"$degreesToRadians": 180}},
    }}])
    r = out.collect()[0]
    assert abs(r.lg2 - 3.0) < 1e-12
    assert r.tr == 314.0 and r.tr1 == 7.77
    assert abs(r.s - math.sin(3.14159)) < 1e-12
    assert abs(r.at2 - math.pi / 4) < 1e-12
    assert abs(r.deg - 180.0) < 1e-12

    big = spark.range(2000)
    n = apply_pipeline(big, [{"$match": {"$sampleRate": 0.25}}]).count()
    assert 300 < n < 700      # ~500 expected, generous bounds


def test_unwind_include_array_index_and_percentiles(spark):
    """$unwind includeArrayIndex (long, null on preserved empty/null
    rows); $median/$percentile group + window accumulators (exact
    distributed percentile — the documented deviation from Mongo's
    t-digest)."""
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None)], "id int, xs array<string>")
    out = apply_pipeline(df, [{"$unwind": {
        "path": "$xs", "includeArrayIndex": "i",
        "preserveNullAndEmptyArrays": True}}])
    got = sorted((r.id, r.xs, r.i) for r in out.collect())
    assert got == [(1, "a", 0), (1, "b", 1), (2, None, None),
                   (3, None, None)]
    strict = apply_pipeline(df, [{"$unwind": {
        "path": "$xs", "includeArrayIndex": "i"}}])
    assert sorted((r.id, r.i) for r in strict.collect()) == \
        [(1, 0), (1, 1)]
    with pytest.raises(ValueError, match="nested path"):
        apply_pipeline(
            spark.createDataFrame([((["x"],),)], "n struct<a:array<string>>"),
            [{"$unwind": {"path": "$n.a", "includeArrayIndex": "i"}}])

    nums = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 11)] + [("h", 5.0)],
        "k string, v double")
    agg = apply_pipeline(nums, [{"$group": {
        "_id": "$k",
        "med": {"$median": {"input": "$v", "method": "approximate"}},
        "pct": {"$percentile": {"input": "$v", "p": [0.1, 0.9],
                                "method": "approximate"}}}}])
    r = {x._id: x for x in agg.collect()}
    assert r["g"].med == 5.5 and r["h"].med == 5.0
    assert r["g"].pct == [1.9, 9.1]   # exact linear interpolation

    win = apply_pipeline(nums, [{"$setWindowFields": {
        "partitionBy": "$k", "sortBy": {"v": 1},
        "output": {"rm": {"$median": {"input": "$v",
                                      "method": "approximate"},
                          "window": {"documents": ["unbounded",
                                                   "current"]}}}}}])
    vals = {(x.k, x.v): x.rm for x in win.collect()}
    assert vals[("g", 3.0)] == 2.0 and vals[("g", 10.0)] == 5.5


def test_match_query_operators(spark):
    """The $match query-operator language beyond comparisons: $regex
    (+$options), $not (matches null/missing too — Mongo's rule), $nor,
    $size, $all, $mod, and both $elemMatch forms."""
    df = spark.createDataFrame(
        [(1, "Hello", [1, 2, 3], [{"p": 5, "q": "a"}], 10),
         (2, "world", [2], [{"p": 9, "q": "b"}], 7),
         (3, None, [], [], None),
         (4, "HELLO world", None, None, 4)],
        "id int, s string, xs array<int>, "
        "docs array<struct<p:int,q:string>>, n int")

    def ids(cond):
        return sorted(r.id for r in
                      apply_pipeline(df, [{"$match": cond}]).collect())

    assert ids({"s": {"$regex": "^hello", "$options": "i"}}) == [1, 4]
    assert ids({"s": {"$regex": "^hello"}}) == []
    # $not matches failures INCLUDING null/missing (unlike plain $lt)
    assert ids({"n": {"$lt": 8}}) == [2, 4]
    assert ids({"n": {"$not": {"$gte": 8}}}) == [2, 3, 4]
    assert ids({"s": {"$not": "^Hello"}}) == [2, 3, 4]   # regex form
    assert ids({"$nor": [{"n": {"$gte": 8}}, {"s": "world"}]}) == [3, 4]
    assert ids({"xs": {"$size": 3}}) == [1]
    assert ids({"xs": {"$size": 0}}) == [3]
    assert ids({"xs": {"$all": [1, 3]}}) == [1]
    assert ids({"n": {"$mod": [3, 1]}}) == [1, 2, 4]
    # $elemMatch scalar form: conditions on the element itself
    assert ids({"xs": {"$elemMatch": {"$gte": 2, "$lt": 3}}}) == [1, 2]
    # $elemMatch sub-document form: per-field conditions
    assert ids({"docs": {"$elemMatch": {"p": {"$gt": 6}, "q": "b"}}}) == [2]
    assert ids({"docs": {"$elemMatch": {"p": 5}}}) == [1]

    with pytest.raises(ValueError, match="requires .regex"):
        ids({"s": {"$options": "i"}})
    with pytest.raises(ValueError, match="regex options"):
        ids({"s": {"$regex": "a", "$options": "z"}})
    with pytest.raises(ValueError, match="divisor"):
        ids({"n": {"$mod": [3]}})


def test_misc_expression_ops(spark):
    """$sortArray (scalar form), $zip (shortest-input pairing), $cmp /
    $strcasecmp sign comparisons, $getField/$setField (static names),
    $convert (onError only fires on FAILED conversion, onNull on null
    input), $objectToArray/$arrayToObject on map columns, $rand."""
    df = spark.createDataFrame(
        [(1, [3, 1, 2], [10, 20], "abc", "5", {"a": 1, "b": 2}),
         (2, [], [1, 2, 3], "ABD", "x", {}),
         (3, None, None, None, None, None)],
        "id int, xs array<int>, ys array<int>, s string, num string, "
        "m map<string,int>")
    out = apply_pipeline(df, [{"$addFields": {
        "sorted_desc": {"$sortArray": {"input": "$xs", "sortBy": -1}},
        "zipped": {"$zip": {"inputs": ["$xs", "$ys"]}},
        "c": {"$cmp": [1, 2]},
        "sc": {"$strcasecmp": ["$s", "aBc"]},
        "got": {"$getField": {"field": "b", "input": "$m"}},
        "conv": {"$convert": {"input": "$num", "to": "int",
                              "onError": -1, "onNull": 0}},
        "o2a": {"$objectToArray": "$m"},
    }}])
    r = {x.id: x for x in out.collect()}
    assert r[1].sorted_desc == [3, 2, 1]
    assert r[1].zipped == [[3, 10], [1, 20]]    # shortest input wins
    assert r[2].zipped == []
    assert r[1].c == -1
    assert (r[1].sc, r[2].sc) == (0, 1)         # case-insensitive
    assert r[1].got == 2
    assert (r[1].conv, r[2].conv, r[3].conv) == (5, -1, 0)
    assert sorted((e.k, e.v) for e in r[1].o2a) == [("a", 1), ("b", 2)]

    # $setField builds on struct columns; $arrayToObject round-trips
    sdf = spark.createDataFrame([(1, (1, 2))], "id int, st struct<a:int,b:int>")
    out2 = apply_pipeline(sdf, [{"$addFields": {
        "st2": {"$setField": {"field": "b", "input": "$st", "value": 9}},
    }}])
    assert out2.collect()[0].st2.b == 9
    rt = apply_pipeline(df.filter("id = 1"), [{"$addFields": {
        "back": {"$arrayToObject": {"$objectToArray": "$m"}}}}])
    assert rt.collect()[0].back == {"a": 1, "b": 2}

    # $rand: uniform [0,1), varies per row
    rnd = apply_pipeline(spark.range(100), [{"$addFields": {
        "r": {"$rand": {}}}}]).collect()
    vals = {x.r for x in rnd}
    assert len(vals) > 50 and all(0 <= v < 1 for v in vals)

    # $sortArray sortBy DOCUMENTS (r13): per-field asc/desc comparator
    # over doc arrays, BSON null-first ordering
    ddf = spark.createDataFrame(
        [(1, [(2, "b"), (1, "a"), (2, "a"), (None, "z")])],
        "id int, docs array<struct<p:int, q:string>>")
    srt = apply_pipeline(ddf, [{"$addFields": {
        "byp": {"$sortArray": {"input": "$docs",
                               "sortBy": {"p": -1, "q": 1}}}}}])
    assert [(x.p, x.q) for x in srt.collect()[0].byp] == \
        [(2, "a"), (2, "b"), (1, "a"), (None, "z")]
    with pytest.raises(ValueError, match="dotted"):
        apply_pipeline(ddf, [{"$addFields": {
            "bad": {"$sortArray": {"input": "$docs",
                                   "sortBy": {"p.x": 1}}}}}])
    # $zip useLongestLength (r13): pad the shorter input with the
    # per-input default (null when no defaults); genuine elements
    # inside the shorter array are untouched
    zl = apply_pipeline(df.filter("id = 1"), [{"$addFields": {
        "zl": {"$zip": {"inputs": ["$xs", "$ys"],
                        "useLongestLength": True}},
        "zd": {"$zip": {"inputs": ["$ys", "$xs"],
                        "useLongestLength": True,
                        "defaults": [-1, -2]}}}}]).collect()[0]
    # xs=[3,1,2] ys=[10,20] → pad ys with null
    assert [list(p) for p in zl.zl] == [[3, 10], [1, 20], [2, None]]
    assert [list(p) for p in zl.zd] == [[10, 3], [20, 1], [-1, 2]]
    with pytest.raises(ValueError, match="one value per input"):
        apply_pipeline(df, [{"$addFields": {
            "bad": {"$zip": {"inputs": ["$xs", "$ys"],
                             "useLongestLength": True,
                             "defaults": [1]}}}}])
    with pytest.raises(ValueError, match="convert target"):
        apply_pipeline(df, [{"$addFields": {
            "bad": {"$convert": {"input": "$num", "to": "objectId"}}}}])


def test_topn_accumulators_on_skewed_group(spark):
    """Pin the rank-accumulator behavior on a deliberately SKEWED group
    (one key holding 50k rows next to singleton keys): results stay
    exact and the equivalent bounded rewrite ($setWindowFields $rank +
    $match + $push) agrees — that rewrite is the documented recipe for
    group sizes where the O(group) collect_list buffer (see
    _topn_agg's docstring) would not fit."""
    from pyspark.sql import functions as F

    big = spark.range(50_000).select(
        F.lit("hot").alias("k"), F.col("id").cast("int").alias("v"))
    small = spark.createDataFrame([("a", 7), ("b", 3)], "k string, v int")
    df = big.unionByName(small)

    direct = apply_pipeline(df, [
        {"$group": {"_id": "$k",
                    "best": {"$top": {"output": "$v",
                                      "sortBy": {"v": -1}}},
                    "top3": {"$topN": {"output": "$v",
                                       "sortBy": {"v": -1}, "n": 3}}}}])
    got = {r._id: (r.best, r.top3) for r in direct.collect()}
    assert got == {"hot": (49_999, [49_999, 49_998, 49_997]),
                   "a": (7, [7]), "b": (3, [3])}

    # the bounded large-group rewrite: window rank (disk-spilling sort)
    # + filter + push — identical answer, O(n) memory per task
    bounded = apply_pipeline(df, [
        {"$setWindowFields": {"partitionBy": "$k", "sortBy": {"v": -1},
                              "output": {"r": {"$rank": {}}}}},
        {"$match": {"r": {"$lte": 3}}},
        {"$sort": {"v": -1}},
        {"$group": {"_id": "$k", "top3": {"$push": "$v"}}}])
    got2 = {r._id: r.top3 for r in bounded.collect()}
    # $push pins array order ascending (the determinism convention), so
    # compare as sets of members
    assert {k: sorted(v[1]) for k, v in got.items()} == got2


def test_bucket_auto_granularity(spark):
    """$bucketAuto granularity: percentile boundaries round UP to the
    preferred-number series, the first bucket's min rounds DOWN, _id
    bounds become the series values (Mongo's strictly-greater/-less
    rounder contract), and negatives raise."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        _gran_round,
    )

    # the rounder itself: unambiguous preferred-number facts
    assert _gran_round(150, "R5", up=True) == 160
    assert _gran_round(160, "R5", up=True) == 250      # strict: moves on
    assert _gran_round(76.04, "R5", up=False) == 63
    assert _gran_round(0.7, "R10", up=True) == 0.8
    assert _gran_round(30, "1-2-5", up=True) == 50
    assert _gran_round(30, "1-2-5", up=False) == 20
    assert _gran_round(4, "POWERSOF2", up=True) == 8   # strict
    assert _gran_round(5, "POWERSOF2", up=True) == 8
    assert _gran_round(4, "POWERSOF2", up=False) == 2
    assert _gran_round(0, "R20", up=True) == 0.0
    with pytest.raises(ValueError, match="non-negative"):
        _gran_round(-1, "R5", up=True)

    # end-to-end POWERSOF2: 1..100, 4 buckets -> percentile boundaries
    # 25.75/50.5/75.25 round up to 32/64/128; 128 collapses into the
    # rounded max, so three buckets remain: [0.5,32) [32,64) [64,128)
    df = spark.createDataFrame([(i,) for i in range(1, 101)], "x int")
    out = apply_pipeline(df, [{"$bucketAuto": {
        "groupBy": "$x", "buckets": 4, "granularity": "POWERSOF2"}}])
    got = sorted((r._id.min, r._id.max, r["count"]) for r in out.collect())
    assert got == [(0.5, 32.0, 31), (32.0, 64.0, 32), (64.0, 128.0, 37)]

    # R5 with fractional prices: min 76.04 rounds DOWN to 63, the
    # median boundary 179.495 rounds UP to 250, max 385 up to 400
    prices = spark.createDataFrame(
        [(76.04,), (159.0,), (199.99,), (385.0,)], "p double")
    out2 = apply_pipeline(prices, [{"$bucketAuto": {
        "groupBy": "$p", "buckets": 2, "granularity": "R5"}}])
    got2 = sorted((r._id.min, r._id.max, r["count"]) for r in out2.collect())
    assert got2 == [(63.0, 250.0, 3), (250.0, 400.0, 1)]

    neg = spark.createDataFrame([(-1.0,), (2.0,)], "p double")
    with pytest.raises(ValueError, match="non-negative"):
        apply_pipeline(neg, [{"$bucketAuto": {
            "groupBy": "$p", "buckets": 2, "granularity": "R5"}}])


def test_graph_lookup_stage(spark):
    """$graphLookup: BFS with depthField, maxDepth bound, empty result
    arrays for dead-end roots, and guaranteed termination on cycles."""
    emp = spark.createDataFrame([(0, None), (1, 0), (2, 1), (3, 2)],
                                "_id int, boss int")
    out = apply_pipeline(emp, [{"$graphLookup": {
        "from": "emp", "startWith": "$boss", "connectFromField": "boss",
        "connectToField": "_id", "as": "chain", "depthField": "d"}}],
        collections={"emp": emp})
    got = {r._id: sorted((c._id, c.d) for c in r.chain)
           for r in out.collect()}
    assert got == {0: [], 1: [(0, 0)], 2: [(0, 1), (1, 0)],
                   3: [(0, 2), (1, 1), (2, 0)]}

    capped = apply_pipeline(emp, [{"$graphLookup": {
        "from": "emp", "startWith": "$boss", "connectFromField": "boss",
        "connectToField": "_id", "as": "chain", "maxDepth": 1}}],
        collections={"emp": emp})
    assert {r._id: sorted(c._id for c in r.chain)
            for r in capped.collect()} == \
        {0: [], 1: [0], 2: [0, 1], 3: [1, 2]}

    cyc = spark.createDataFrame([("a", "b"), ("b", "a")],
                                "_id string, nxt string")
    reach = apply_pipeline(cyc, [{"$graphLookup": {
        "from": "c", "startWith": "$nxt", "connectFromField": "nxt",
        "connectToField": "_id", "as": "reach"}}], collections={"c": cyc})
    assert {r._id: sorted(c._id for c in r.reach)
            for r in reach.collect()} == \
        {"a": ["a", "b"], "b": ["a", "b"]}

    with pytest.raises(ValueError, match="collections"):
        apply_pipeline(emp, [{"$graphLookup": {
            "from": "zzz", "startWith": "$boss",
            "connectFromField": "boss", "connectToField": "_id",
            "as": "x"}}])


def test_unset_stage(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    assert apply_pipeline(df, [{"$unset": "b"}]).columns == ["a", "c"]
    assert apply_pipeline(df, [{"$unset": ["a", "c", "zz"]}]).columns == ["b"]
    with pytest.raises(ValueError, match="nested"):
        apply_pipeline(df, [{"$unset": "a.b"}])


def test_match_expr_and_uncorrelated_lookup(apps, spark):
    """$match {$expr}: the only Mongo way to compare two FIELDS in a
    match — full expression language, composing with $and. $lookup
    {from, pipeline, as} (no let): the uncorrelated subquery runs once
    and broadcast-attaches the same sorted array to every document."""
    df = spark.createDataFrame(
        [(1, 5, 3), (2, 2, 9), (3, 7, 7)], "id int, a int, b int")
    out = apply_pipeline(df, [
        {"$match": {"$expr": {"$gt": ["$a", "$b"]}}}])
    assert [r.id for r in out.collect()] == [1]
    both = apply_pipeline(df, [
        {"$match": {"$and": [{"$expr": {"$gte": ["$a", "$b"]}},
                             {"id": {"$gte": 2}}]}}])
    assert [r.id for r in both.collect()] == [3]

    # uncorrelated pipeline lookup: one aggregated row attached to all
    out = apply_pipeline(apps, [
        {"$lookup": {"from": "apps", "as": "stats", "pipeline": [
            {"$group": {"_id": "$status", "n": {"$sum": 1}}},
        ]}},
        {"$addFields": {"n_statuses": {"$size": "$stats"}}},
    ], collections={"apps": apps})
    rows = out.collect()
    assert len(rows) == 5
    assert all(r.n_statuses == 2 for r in rows)
    assert all(sorted((s._id, s.n) for s in r.stats) ==
               [("closed", 3), ("open", 2)] for r in rows)

    # correlated forms with an EMPTY pipeline have nothing to join on
    with pytest.raises(ValueError, match="START with a .match"):
        apply_pipeline(apps, [{"$lookup": {
            "from": "apps", "as": "x", "let": {"s": "$status"},
            "pipeline": []}}], collections={"apps": apps})
    # the concise correlated form now works — sugar for the let prefix
    concise = apply_pipeline(apps, [{"$lookup": {
        "from": "apps", "as": "x", "localField": "status",
        "foreignField": "status",
        "pipeline": [{"$group": {"_id": None, "n": {"$sum": 1}}}]}}],
        collections={"apps": apps})
    assert {(r.status, r.x[0].n) for r in concise.collect()} == {
        ("open", 2), ("closed", 3)}


def test_merge_out_lake_and_jdbc_targets(spark, tmp_path):
    """$merge/$out resolve both target kinds: a partitioned snapshot
    table (created with ``snap_append(partition_by=...)``; ``$merge``
    keeps its layout) and a live JDBC database (jdbc_merge — staging +
    ONE set-based MERGE, Derby). The jdbc sink implements the upsert
    (whenMatched merge/replace + insert); other matrix combos raise with
    guidance, and the retired ``lake`` kind is an unknown kind."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.connectors import (
        read_jdbc,
        write_jdbc_append,
    )

    # --- partitioned snap target: upsert in the head's layout
    part = str(tmp_path / "part")
    S.snap_append(spark, part, spark.createDataFrame(
        [("a", "d1", 1), ("b", "d1", 2), ("c", "d2", 3)],
        "_id string, day string, v int"), partition_by=("day",))
    batch = spark.createDataFrame(
        [("a", "d1", 99), ("d", "d2", 4)], "_id string, day string, v int")
    out = apply_pipeline(batch, [{"$merge": "t"}], targets={"t": part})
    assert sorted((r._id, r.v) for r in out.collect()) == \
        [("a", 99), ("b", 2), ("c", 3), ("d", 4)]
    assert S.read_manifest(spark, part)["partition_by"] == ["day"]
    # $out replaces the table wholesale
    out = apply_pipeline(batch, [{"$out": "t"}], targets={"t": part})
    assert sorted((r._id, r.v) for r in out.collect()) == \
        [("a", 99), ("d", 4)]
    assert S.read_manifest(spark, part)["partition_by"] == ["day"]
    with pytest.raises(ValueError, match="snap target for the full"):
        apply_pipeline(batch, [{"$merge": {
            "into": "t", "whenMatched": "keepExisting"}}],
            targets={"t": {"kind": "jdbc", "url": "jdbc:x", "table": "t"}})
    with pytest.raises(ValueError, match="unknown \\$merge target kind"):
        apply_pipeline(batch, [{"$merge": "t"}], targets={"t": {
            "kind": "lake", "path": part, "partition_col": "day"}})

    # --- jdbc target (Derby live): seeded table, set-based MERGE
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    jdbc = {"kind": "jdbc", "url": url, "table": "apps",
            "dialect": "ansi"}
    write_jdbc_append(spark.createDataFrame(
        [(1, "old", 10.0), (3, "keep", 30.0)],
        "_id bigint, status string, amount double"), url, "apps")
    batch = spark.createDataFrame(
        [(1, "done", 99.0), (2, "new", 2.0)],
        "_id bigint, status string, amount double")
    out = apply_pipeline(batch, [{"$merge": {"into": "apps"}}],
                         targets={"apps": jdbc})
    got = sorted(map(tuple, out.collect()))
    assert got == [(1, "done", 99.0), (2, "new", 2.0), (3, "keep", 30.0)]
    assert got == sorted(map(tuple,
                             read_jdbc(spark, url, "apps").collect()))


def test_composite_group_id_and_dotted_addfields(spark):
    """Mongo's multi-field group key ({_id: {a, b}}) becomes a struct
    whose fields keep their names ('$_id.a' works downstream); dotted
    $addFields grafts INTO the struct via withField instead of minting
    a literal 'a.b' top-level column (silent divergence pre-fix)."""
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "x", 2), ("a", "y", 4), ("b", "x", 8)],
        "p string, q string, v int")
    g = apply_pipeline(df, [
        {"$group": {"_id": {"pp": "$p", "qq": {"$toUpper": "$q"}},
                    "s": {"$sum": "$v"}}},
        {"$addFields": {"label": {"$concat": ["$_id.pp", "-",
                                              "$_id.qq"]}}},
    ])
    assert sorted((r.label, r.s) for r in g.collect()) == \
        [("a-X", 3), ("a-Y", 4), ("b-X", 8)]
    with pytest.raises(ValueError, match="composite _id"):
        apply_pipeline(df, [{"$group": {"_id": {}, "n": {"$sum": 1}}}])

    n = spark.createDataFrame([(1, (2, 3))], "id int, nest struct<a:int,b:int>")
    out = apply_pipeline(n, [{"$addFields": {
        "nest.c": {"$add": ["$nest.a", 10]}, "nest.a": 0}}]).collect()[0]
    assert (out.nest.a, out.nest.b, out.nest.c) == (0, 3, 12)
    assert "nest.c" not in apply_pipeline(
        n, [{"$addFields": {"nest.c": 1}}]).columns
    with pytest.raises(ValueError, match="existing struct"):
        apply_pipeline(n, [{"$addFields": {"ghost.c": 1}}])


def test_expression_date_parts(spark):
    """$dayOfWeek (1=Sunday), $isoDayOfWeek (1=Monday), $dayOfYear,
    $isoWeek, $millisecond, $dateFromString with a format."""
    from datetime import datetime as dt

    d = spark.createDataFrame([(dt(2024, 3, 15, 10, 0, 0, 123000),)],
                              "t timestamp")
    out = apply_pipeline(d, [{"$addFields": {
        "dow": {"$dayOfWeek": "$t"}, "idow": {"$isoDayOfWeek": "$t"},
        "doy": {"$dayOfYear": "$t"}, "iw": {"$isoWeek": "$t"},
        "ms": {"$millisecond": "$t"},
        "parsed": {"$dateFromString": {"dateString": "15/03/2024",
                                       "format": "%d/%m/%Y"}},
        "back": {"$dateSubtract": {"startDate": "$t", "unit": "month",
                                   "amount": 2}},
    }}]).collect()[0]
    # 2024-03-15 is a Friday
    assert (out.dow, out.idow, out.doy, out.iw, out.ms) == \
        (6, 5, 75, 11, 123)
    assert out.parsed == dt(2024, 3, 15)
    assert out.back == dt(2024, 1, 15, 10, 0, 0, 123000)


def test_window_gap_fill_and_rate_operators(spark):
    """$locf / $linearFill (frameless gap-filling window operators),
    $derivative (frame rate-of-change, NULL on single-point frames,
    time-unit scaling), $minN/$maxN/$firstN/$lastN and $covariancePop
    over explicit frames."""
    from datetime import datetime as dt

    ev = spark.createDataFrame(
        [("u", dt(2024, 1, 1), 0.0), ("u", dt(2024, 1, 2), 10.0),
         ("u", dt(2024, 1, 3), None), ("u", dt(2024, 1, 5), 40.0)],
        "u string, ts timestamp, v double")
    out = apply_pipeline(ev, [{"$setWindowFields": {
        "partitionBy": "$u", "sortBy": {"ts": 1},
        "output": {
            "lf": {"$locf": "$v"},
            "lin": {"$linearFill": "$v"},
            "der": {"$derivative": {"input": "$v", "unit": "day"},
                    "window": {"documents": ["unbounded", "current"]}},
            "mx2": {"$maxN": {"input": "$v", "n": 2},
                    "window": {"documents": ["unbounded", "current"]}},
            "f2": {"$firstN": {"input": "$v", "n": 2},
                   "window": {"documents": ["unbounded", "current"]}},
            "l2": {"$lastN": {"input": "$v", "n": 2},
                   "window": {"documents": ["unbounded", "current"]}},
            "cv": {"$covariancePop": ["$v", "$v"],
                   "window": {"documents": ["unbounded", "current"]}},
        }}}])
    r = {x.ts.day: x for x in out.collect()}
    assert [r[d].lf for d in (1, 2, 3, 5)] == [0.0, 10.0, 10.0, 40.0]
    assert [r[d].lin for d in (1, 2, 3, 5)] == [0.0, 10.0, 20.0, 40.0]
    assert r[1].der is None                      # single-point frame
    assert r[2].der == 10.0 and r[5].der == 10.0
    assert r[5].mx2 == [40.0, 10.0]
    assert r[5].f2 == [0.0, 10.0] and r[5].l2 == [10.0, 40.0]
    assert r[2].cv == 25.0

    with pytest.raises(ValueError, match="does not accept"):
        apply_pipeline(ev, [{"$setWindowFields": {
            "sortBy": {"ts": 1},
            "output": {"x": {"$locf": "$v",
                             "window": {"documents": [0, 0]}}}}}])


def test_group_rank_accumulators(spark):
    """Mongo 5.2 $group rank family: $top/$bottom scalars via
    min_by/max_by, $topN/$bottomN arrays (bottomN keeps sortBy order),
    $minN/$maxN value extremes, $firstN/$lastN document-order head and
    tail — each ONE aggregate expression, no per-group row_number
    shuffle."""
    df = spark.createDataFrame(
        [("a", "u", 1), ("a", "v", 9), ("a", "w", 5), ("a", "x", 3),
         ("b", "y", 2)],
        "g string, tag string, score int")
    out = apply_pipeline(df, [
        {"$sort": {"score": 1}},
        {"$group": {"_id": "$g",
            "best": {"$top": {"output": "$tag", "sortBy": {"score": -1}}},
            "worst": {"$bottom": {"output": "$tag",
                                  "sortBy": {"score": -1}}},
            "top2": {"$topN": {"output": "$tag", "sortBy": {"score": -1},
                               "n": 2}},
            "bot2": {"$bottomN": {"output": "$tag",
                                  "sortBy": {"score": -1}, "n": 2}},
            "min2": {"$minN": {"input": "$score", "n": 2}},
            "max2": {"$maxN": {"input": "$score", "n": 2}},
            "f2": {"$firstN": {"input": "$score", "n": 2}},
            "l2": {"$lastN": {"input": "$score", "n": 2}},
        }}])
    r = {x._id: x for x in out.collect()}
    a = r["a"]
    assert (a.best, a.worst) == ("v", "u")
    assert a.top2 == ["v", "w"] and a.bot2 == ["x", "u"]
    assert a.min2 == [1, 3] and a.max2 == [9, 5]
    assert a.f2 == [1, 3] and a.l2 == [5, 9]
    b = r["b"]
    assert b.top2 == ["y"] and b.bot2 == ["y"] and b.l2 == [2]
    # compound mixed-direction sortBy (r13): comparator-sorted array
    # path — ties on the first field break by the second
    df2 = spark.createDataFrame(
        [("a", "u", 9), ("a", "v", 9), ("a", "w", 5), ("b", "y", 2)],
        "g string, tag string, score int")
    out2 = apply_pipeline(df2, [{"$group": {"_id": "$g",
        "t": {"$top": {"output": "$tag",
                       "sortBy": {"score": -1, "tag": 1}}},
        "bo": {"$bottom": {"output": "$tag",
                           "sortBy": {"score": -1, "tag": 1}}},
        "t2": {"$topN": {"output": "$tag",
                         "sortBy": {"score": -1, "tag": 1}, "n": 2}},
        "b2": {"$bottomN": {"output": "$tag",
                            "sortBy": {"score": -1, "tag": 1}, "n": 2}},
    }}])
    r2 = {x._id: x for x in out2.collect()}
    assert (r2["a"].t, r2["a"].bo) == ("u", "w")
    assert r2["a"].t2 == ["u", "v"] and r2["a"].b2 == ["v", "w"]
    assert r2["b"].t2 == ["y"] and r2["b"].b2 == ["y"]
    with pytest.raises(ValueError, match="non-empty sortBy"):
        apply_pipeline(df2, [{"$group": {"_id": "$g", "t": {"$top": {
            "output": "$tag", "sortBy": {}}}}}])


def test_r13_advice_fixes(spark):
    """Round-13 advisor items: {$all: []} matches NOTHING (not
    everything); $cmp/$strcasecmp follow the BSON total order where
    null ranks below every number/string; $addFields evaluates EVERY
    expression of one stage against the stage-INPUT document (a later
    field's $$ROOT must not see earlier assignments); $trunc with a
    place arg survives magnitudes beyond long range (pure double
    math, no long cast)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, ["a", "b"], None, 3.0), (2, [], "x", None)],
        "id int, xs array<string>, s string, v double")

    # {$all: []} — Mongo matches no documents
    assert apply_pipeline(df, [{"$match": {"xs": {"$all": []}}}]) \
        .count() == 0
    assert apply_pipeline(df, [{"$match": {"xs": {"$all": ["a"]}}}]) \
        .count() == 1

    # $cmp / $strcasecmp: BSON null ordering, never a NULL result
    out = apply_pipeline(df, [{"$project": {
        "id": 1,
        "c_nn": {"$cmp": [None, None]},
        "c_nv": {"$cmp": ["$v", 1]},          # null vs 1 on id=2
        "c_vn": {"$cmp": [1, "$v"]},
        "sc": {"$strcasecmp": ["$s", "a"]},   # null vs 'a' on id=1
    }}])
    r = {x.id: x for x in out.collect()}
    assert r[1].c_nn == 0 and r[2].c_nn == 0
    assert r[2].c_nv == -1 and r[2].c_vn == 1
    assert r[1].c_nv == 1 and r[1].c_vn == -1      # 3.0 vs 1
    assert r[1].sc == -1 and r[2].sc == 1          # 'x' > 'a'

    # $addFields stage-input semantics: 'wrapped' must capture the
    # INPUT document's a (1), not the mutated one (2); bare later refs
    # likewise see the input value
    df2 = spark.createDataFrame([(1,)], "a int")
    out2 = apply_pipeline(df2, [{"$addFields": {
        "a": {"$add": ["$a", 1]},
        "wrapped": "$$ROOT",
        "b": {"$add": ["$a", 10]},
    }}]).collect()[0]
    assert out2.a == 2
    assert out2.wrapped.a == 1
    assert out2.b == 11

    # $trunc place-arg overflow: a value whose scaled magnitude
    # exceeds long range must keep double math (Mongo behavior), and
    # negatives truncate toward zero
    df3 = spark.createDataFrame([(1e19, -7.777)], "x double, y double")
    out3 = apply_pipeline(df3, [{"$project": {
        "big": {"$trunc": ["$x", 2]},
        "neg": {"$trunc": ["$y", 2]},
        "neg0": {"$trunc": ["$y", 0]},
    }}]).collect()[0]
    assert out3.big == 1e19          # beyond 2^53: value passes through
    assert out3.neg == -7.77 and out3.neg0 == -7.0


def test_correlated_lookup_per_doc_scope_guard(spark):
    """The correlated-$lookup per-document scope guard after the r15
    lowerings: what remains refused ($skip/$limit with no preceding
    $sort — Mongo's natural order has no distributed definition)
    raises with rewrite guidance instead of silently applying
    GLOBALLY; the formerly-refused $sort/$sample/$bucketAuto/
    non-terminal-$group forms now lower per document."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    orders = spark.createDataFrame([(1, "apple")], ["_id", "item"])
    inventory = spark.createDataFrame(
        [("apple", 10, "A"), ("apple", 5, "B")], ["sku", "qty", "wh"])
    coll = {"inventory": inventory}

    def lookup(rest):
        return [{"$lookup": {
            "from": "inventory", "let": {"it": "$item"},
            "pipeline": [{"$match": {"$expr": {"$eq": ["$$it", "$sku"]}}}]
            + rest,
            "as": "s"}}]

    for rest in (
        # mid-pipeline $skip with NO preceding $sort (no defined order)
        [{"$skip": 1}, {"$addFields": {"z": 1}}],
        [{"$limit": 1}, {"$addFields": {"z": 1}}],
    ):
        with pytest.raises(ValueError, match="PER OUTER DOCUMENT"):
            apply_pipeline(orders, lookup(rest), collections=coll)
    # $sample (r14: refused) now draws n random matches per document
    # (r15) — size is the testable contract
    out = apply_pipeline(orders, lookup([{"$sample": {"size": 1}}]),
                         collections=coll)
    assert len(out.collect()[0]["s"]) == 1
    # a mid-pipeline $sort (r14: refused) now LOWERS to the per-key
    # ranking window and carries its order into the pack (r15)
    out = apply_pipeline(orders, lookup(
        [{"$sort": {"qty": -1}}, {"$addFields": {"z": 1}}]),
        collections=coll)
    assert [e["wh"] for e in out.collect()[0]["s"]] == ["A", "B"]
    # a non-terminal $group (r14: refused) now groups over (join key,
    # _id) with the key carried internally (r15)
    out = apply_pipeline(orders, lookup(
        [{"$group": {"_id": "$wh", "n": {"$sum": 1}}},
         {"$addFields": {"z": 1}}]),
        collections=coll)
    assert sorted((e["_id"], e["n"], e["z"])
                  for e in out.collect()[0]["s"]) == [("A", 1, 1),
                                                      ("B", 1, 1)]
    # terminal $limit/$skip without $sort has no defined order — refused
    with pytest.raises(ValueError, match="no defined order"):
        apply_pipeline(orders, lookup([{"$limit": 1}]), collections=coll)
    with pytest.raises(ValueError, match="no defined order"):
        apply_pipeline(orders, lookup([{"$skip": 1}]), collections=coll)
    # $sort + $limit + terminal $group (r14: refused) now aggregates
    # each document's top-k via the carried rank (r15)
    topk = apply_pipeline(orders, lookup(
        [{"$sort": {"qty": -1}}, {"$limit": 1},
         {"$group": {"_id": None, "n": {"$sum": 1},
                     "w": {"$first": "$wh"}}}]),
        collections=coll)
    assert [(x["n"], x["w"]) for x in topk.collect()[0].s] == [(1, "A")]

    # row-local stages + terminal _id:null group still compile
    ok = apply_pipeline(orders, lookup(
        [{"$addFields": {"q2": {"$multiply": ["$qty", 2]}}},
         {"$group": {"_id": None, "t": {"$sum": "$q2"}}}]),
        collections=coll)
    assert [tuple(x) for x in ok.collect()[0].s] == [(None, 30)]


def test_correlated_lookup_terminal_group_by_id(spark):
    """Terminal $group with a GROUPING _id inside a correlated $lookup
    (r14) — 'orders by status per customer': one element per distinct
    sub-key per outer document, lowered to ONE aggregation over
    (join key, _id expr) + a per-key pack, never a per-document
    re-run. Covers the concise path, the general let path with a
    composite _id, unmatched docs (empty array, Mongo's zero-input
    $group emits nothing), and the packed-array _id sort order."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "O", 10.0), (1, "O", 5.0), (1, "F", 2.0),
         (2, "F", 7.0), (2, "F", 1.0)],
        "o_ck long, st string, price double")
    coll = {"orders": orders}

    out = apply_pipeline(cust, [
        {"$lookup": {"from": "orders", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$group": {
                         "_id": "$st", "n": {"$sum": 1},
                         "tot": {"$sum": "$price"}}}],
                     "as": "g"}}], collections=coll)
    got = {r["ck"]: [tuple(e) for e in r["g"]] for r in out.collect()}
    # array sorted by _id (determinism convention)
    assert got[1] == [("F", 1, 2.0), ("O", 2, 15.0)]
    assert got[2] == [("F", 2, 8.0)]
    assert got[3] == []  # no matches → empty array, not [{_id:.., n:0}]

    # general (let) path, composite _id with an expression sub-key
    out2 = apply_pipeline(cust, [
        {"$lookup": {"from": "orders", "let": {"k": "$ck"},
                     "pipeline": [
                         {"$match": {"$expr": {"$eq": ["$$k", "$o_ck"]}}},
                         {"$group": {"_id": {"s": "$st",
                                             "big": {"$gte": ["$price",
                                                              5.0]}},
                                     "mx": {"$max": "$price"}}}],
                     "as": "g"}}], collections=coll)
    got2 = {r["ck"]: [((e["_id"]["s"], e["_id"]["big"]), e["mx"])
                      for e in r["g"]] for r in out2.collect()}
    assert got2[1] == [(("F", False), 2.0), (("O", True), 10.0)]
    assert got2[2] == [(("F", False), 1.0), (("F", True), 7.0)]
    assert got2[3] == []


def test_correlated_lookup_terminal_sort_limit(spark):
    """Mongo's 'latest matching doc per outer document' idiom —
    correlated $lookup sub-pipeline ending in $sort [+ $limit k] —
    lowers to a per-KEY ordered top-k (array_sort comparator + slice
    on the packed array), applied per outer document, never globally:
    every outer doc keeps its own top match. Multi-field asc/desc,
    null-first ordering, result-array ORDER follows the $sort, and
    the general (non-equi) path honors it too."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    orders = spark.createDataFrame(
        [(1, "apple", 6), (2, "pear", 0), (3, "none", 0)],
        ["_id", "item", "minq"])
    inventory = spark.createDataFrame(
        [("apple", 10, "A"), ("apple", 5, "B"), ("apple", 10, "C"),
         ("pear", 7, "A"), ("pear", None, "B")],
        "sku string, qty int, wh string")
    coll = {"inventory": inventory}

    # top-1 by qty desc, wh asc tiebreak — per outer document
    out = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory", "let": {"it": "$item"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$$it", "$sku"]}}},
            {"$sort": {"qty": -1, "wh": 1}},
            {"$limit": 1}],
        "as": "best"}}], collections=coll)
    got = {r._id: [(x.qty, x.wh) for x in r.best] for r in out.collect()}
    assert got == {1: [(10, "A")], 2: [(7, "A")], 3: []}

    # $sort WITHOUT $limit: the result array is ordered per the spec
    # (asc: nulls first — BSON ranks null below values)
    out2 = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory", "let": {"it": "$item"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$$it", "$sku"]}}},
            {"$sort": {"qty": 1}}],
        "as": "s"}}], collections=coll)
    got2 = {r._id: [x.qty for x in r.s] for r in out2.collect()}
    assert got2 == {1: [5, 10, 10], 2: [None, 7], 3: []}

    # general path (non-equi correlated conjunct) + top-2 desc
    out3 = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory", "let": {"it": "$item", "mn": "$minq"},
        "pipeline": [
            {"$match": {"$expr": {"$and": [
                {"$eq": ["$$it", "$sku"]},
                {"$gt": ["$qty", "$$mn"]}]}}},
            {"$sort": {"qty": -1}},
            {"$limit": 2}],
        "as": "s"}}], collections=coll)
    got3 = {r._id: [x.qty for x in r.s] for r in out3.collect()}
    assert got3 == {1: [10, 10], 2: [7], 3: []}


def test_exp_moving_avg_window(spark):
    """$expMovingAvg (the last $setWindowFields accumulator gap):
    exact sequential recurrence per partition via the collect+fold
    lowering — N and alpha forms, null inputs emit null without
    advancing the state, partitionless form works, contracts raise."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, None), ("a", 4, 40.0),
         ("b", 1, 100.0), ("b", 2, 50.0)], "g string, k int, x double")
    out = apply_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"k": 1},
        "output": {"ema": {"$expMovingAvg": {"input": "$x", "N": 3}}}}}])
    assert sorted((r.g, r.k, r.ema) for r in out.collect()) == [
        ("a", 1, 10.0), ("a", 2, 15.0), ("a", 3, None), ("a", 4, 27.5),
        ("b", 1, 100.0), ("b", 2, 75.0)]
    # alpha form, no partitionBy (whole-collection series)
    out2 = apply_pipeline(df.filter("g = 'b'"), [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {"e": {"$expMovingAvg": {"input": "$x",
                                           "alpha": 0.25}}}}}])
    assert sorted((r.k, r.e) for r in out2.collect()) == \
        [(1, 100.0), (2, 87.5)]
    # all original columns survive the restructure, plus the output
    assert set(out.columns) == {"g", "k", "x", "ema"}
    for bad, msg in (
        ({"sortBy": {"k": -1}}, "ascending"),
        ({}, "ascending"),
        ({"sortBy": {"k": 1, "g": 1}}, "ascending"),
    ):
        with pytest.raises(ValueError, match=msg):
            apply_pipeline(df, [{"$setWindowFields": {
                **bad, "output": {"e": {"$expMovingAvg": {
                    "input": "$x", "N": 3}}}}}])
    with pytest.raises(ValueError, match="N or alpha"):
        apply_pipeline(df, [{"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"e": {"$expMovingAvg": {"input": "$x"}}}}}])


def test_merge_update_pipeline_jdbc_target(spark, tmp_path):
    """$merge whenMatched UPDATE PIPELINE on a live JDBC target — the
    reference's actual sink is Postgres (ref user_table.py:105-121) —
    compiles the $set pipeline into the SET clause of the ONE
    server-side statement (staging + MERGE/ON CONFLICT): the
    conflict-increment idiom runs inside the database transaction, no
    read-modify-write round trip. Derby (ansi dialect) executes it
    live; the Postgres dialect's statement text is asserted separately;
    unsupported expressions raise with guidance."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.connectors import (
        read_jdbc,
        write_jdbc_append,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        _compile_merge_set_sql,
        apply_pipeline,
    )

    url = f"jdbc:derby:{tmp_path}/updb;create=true"
    jdbc = {"kind": "jdbc", "url": url, "table": "counters",
            "dialect": "ansi"}
    write_jdbc_append(spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0)], "_id bigint, n bigint, w double"),
        url, "counters")
    batch = spark.createDataFrame(
        [(1, 5, 0.5), (3, 7, 7.0)], "_id bigint, n bigint, w double")
    out = apply_pipeline(batch, [{"$merge": {
        "into": "counters",
        "whenMatched": [{"$set": {
            "n": {"$add": ["$n", "$$new.n"]},
            "w": {"$cond": [{"$gt": ["$$new.w", "$w"]},
                            "$$new.w", "$w"]},
        }}]}}], targets={"counters": jdbc})
    got = sorted(map(tuple, out.collect()))
    # key 1: n=10+5, w=max(1.0, 0.5)=1.0; 2 untouched; 3 inserted
    assert got == [(1, 15, 1.0), (2, 20, 2.0), (3, 7, 7.0)]
    assert got == sorted(map(tuple,
                             read_jdbc(spark, url, "counters").collect()))

    # sequential stages chain (stage 2 sees stage 1's n), custom let
    batch2 = spark.createDataFrame([(1, 100, 9.0)],
                                   "_id bigint, n bigint, w double")
    out2 = apply_pipeline(batch2, [{"$merge": {
        "into": "counters",
        "let": {"inc": {"$multiply": ["$n", 2]}},
        "whenMatched": [{"$set": {"n": {"$add": ["$n", "$$inc"]}}},
                        {"$set": {"n": {"$add": ["$n", 1]}}}]}}],
        targets={"counters": jdbc})
    got2 = {r._id: r.n for r in out2.collect()}
    assert got2[1] == 15 + 200 + 1

    # postgres dialect: exact statement text (EXCLUDED + table refs)
    sets = _compile_merge_set_sql(
        [{"$set": {"n": {"$add": ["$n", "$$new.n"]},
                   "w": {"$ifNull": ["$w", 0.0]}}}],
        ["_id"], ["_id", "n", "w"], None,
        lambda c: c, "counters", "EXCLUDED")
    assert sets == {"n": "((counters.n + EXCLUDED.n))",
                    "w": "(COALESCE(counters.w, 0.0))"}

    # contracts raise: unknown operator, key mutation, non-column ref
    for stages, msg in (
        ([{"$set": {"n": {"$toUpper": "$n"}}}], "no jdbc SQL lowering"),
        ([{"$set": {"_id": 1}}], "may not modify"),
        ([{"$set": {"n": "$zzz"}}], "not a batch/target column"),
        ([{"$replaceRoot": {"newRoot": "$$new"}}],
         "set/.addFields/.unset only"),
    ):
        with pytest.raises(ValueError, match=msg):
            apply_pipeline(batch2, [{"$merge": {
                "into": "counters", "whenMatched": stages}}],
                targets={"counters": jdbc})


def test_unsupported_stage_table_and_window_warning(spark):
    """Every stage in UNSUPPORTED_STAGES raises the uniform
    UnsupportedMongoStage error (a ValueError subclass) whose message
    names the reason; unknown stages still get the plain error. A
    whole-collection window ($setWindowFields/$fill/$densify without
    partitionBy) warns by default naming the stage, and raises under
    spark.mongoql.strictWholeCollectionWindow=true."""
    import warnings

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        UNSUPPORTED_STAGES,
        UnsupportedMongoStage,
        apply_pipeline,
    )

    df = spark.createDataFrame([(1, 1.0)], "k int, x double")
    assert len(UNSUPPORTED_STAGES) >= 10
    for stage, reason in UNSUPPORTED_STAGES.items():
        with pytest.raises(UnsupportedMongoStage) as ei:
            apply_pipeline(df, [{stage: {}}])
        assert stage in str(ei.value) and reason[:20] in str(ei.value)
        assert isinstance(ei.value, ValueError)
    with pytest.raises(ValueError, match="unsupported pipeline stage"):
        apply_pipeline(df, [{"$noSuchStage": {}}])

    bdf = spark.createDataFrame([(b"a", 1.0)], "s binary, x double")
    stages = {
        # $setWindowFields warns only for shapes OUTSIDE the r17
        # distributed families (finite documents frames distribute
        # since late r17 — here a RANGE frame, still single-window)...
        "$setWindowFields": (df, {"sortBy": {"k": 1},
                                  "output": {"s": {
                                      "$sum": "$x",
                                      "window": {"range": [-1, 0]}}}}),
        # ...and $fill only for sort keys with NO orderable scalar
        # image (binary here) — numeric/temporal keys distribute since
        # r17, STRING keys via the 6-byte-prefix image since late r17
        "$fill": (bdf, {"sortBy": {"s": 1},
                        "output": {"x": {"method": "locf"}}}),
    }
    for stage, (frame, spec) in stages.items():
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            apply_pipeline(frame, [{stage: spec}]).collect()
        assert any(stage in str(x.message) and
                   "ONE task" in str(x.message) for x in w), stage
    # constant-value $fill plans no window — no warning; partition-less
    # $densify generates its grid DISTRIBUTED since r16; partition-less
    # numeric-key method $fill AND prefix-scan $setWindowFields
    # range-bucket since r17 — no warning
    for sil in ({"$fill": {"output": {"x": {"value": 0.0}}}},
                {"$fill": {"sortBy": {"k": 1},
                           "output": {"x": {"method": "locf"}}}},
                {"$setWindowFields": {"sortBy": {"k": 1},
                                      "output": {"s": {"$sum": "$x"}}}},
                {"$setWindowFields": {"sortBy": {"k": 1},
                                      "output": {"r": {"$rank": {}}}}},
                {"$setWindowFields": {"sortBy": {"k": 1},
                                      "output": {"s": {
                                          "$sum": "$x",
                                          "window": {
                                              "documents": [-1, 0]}}}}},
                {"$densify": {"field": "k",
                              "range": {"step": 1, "bounds": "full"}}}):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            apply_pipeline(df, [sil]).collect()
        assert not [x for x in w if "ONE task" in str(x.message)], sil
    # strict session conf raises instead (an out-of-family shape)
    spark.conf.set("spark.mongoql.strictWholeCollectionWindow", "true")
    try:
        with pytest.raises(ValueError, match="ONE task"):
            apply_pipeline(df, [{"$setWindowFields": {
                "sortBy": {"k": 1},
                "output": {"s": {"$sum": "$x",
                                 "window": {"range": [-1, 0]}}}}}])
    finally:
        spark.conf.unset("spark.mongoql.strictWholeCollectionWindow")


def test_merge_update_pipeline_snap_jdbc_parity(spark, tmp_path):
    """The TWO whenMatched update-pipeline lowerings — column
    expressions over a snapshot target (_merge_update_pipeline) and
    SQL compiled into the server-side SET clause of a live Derby MERGE
    (_compile_merge_set_sql) — produce the SAME final state for the
    same seed/batch/pipeline, including null handling ($ifNull),
    conditionals, MOD, and string concat. Divergence here would mean a
    user's pipeline silently changes meaning when they re-point
    $merge from a snapshot table to Postgres."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.connectors import (
        read_jdbc,
        write_jdbc_append,
    )
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    seed_rows = [(1, 10, None, "x"), (2, None, 5.0, "y"),
                 (3, 30, 3.0, None)]
    batch_rows = [(1, 4, 2.0, "B1"), (2, 7, None, "B2"),
                  (9, 1, 1.0, "NEW")]
    schema = "_id bigint, n bigint, w double, tag string"
    pipeline = [{"$set": {
        "n": {"$add": [{"$ifNull": ["$n", 0]},
                       {"$mod": ["$$new.n", 3]}]},
        # int/int $divide must be FLOAT division in both lowerings
        # (bare SQL `/` on BIGINTs would truncate)
        "w": {"$cond": [{"$gte": [{"$ifNull": ["$$new.w", -1.0]},
                                  {"$ifNull": ["$w", -1.0]}]},
                        {"$divide": [{"$ifNull": ["$$new.n", 0]}, 2]},
                        "$w"]},
        "tag": {"$concat": [{"$ifNull": ["$tag", "-"]}, "+",
                            {"$ifNull": ["$$new.tag", "-"]}]},
    }}]

    # snapshot target
    snap = str(tmp_path / "snap_t")
    S.snap_overwrite(spark, snap,
                     spark.createDataFrame(seed_rows, schema), note="seed")
    out_snap = apply_pipeline(
        spark.createDataFrame(batch_rows, schema),
        [{"$merge": {"into": "t", "on": "_id",
                     "whenMatched": pipeline}}],
        targets={"t": snap})

    # live Derby target, same pipeline
    url = f"jdbc:derby:{tmp_path}/pardb;create=true"
    write_jdbc_append(spark.createDataFrame(seed_rows, schema),
                      url, "par")
    out_jdbc = apply_pipeline(
        spark.createDataFrame(batch_rows, schema),
        [{"$merge": {"into": "par", "on": "_id",
                     "whenMatched": pipeline}}],
        targets={"par": {"kind": "jdbc", "url": url, "table": "par",
                         "dialect": "ansi"}})

    key = lambda r: (r["_id"], r["n"], r["w"], r["tag"])  # noqa: E731
    a = sorted(map(key, out_snap.select("_id", "n", "w", "tag").collect()))
    b = sorted(map(key, out_jdbc.select("_id", "n", "w", "tag").collect()))
    assert a == b
    assert b == sorted(map(key, read_jdbc(spark, url, "par")
                           .select("_id", "n", "w", "tag").collect()))

    # EMPTY whenMatched pipeline ([]) — both lowerings must keep the
    # matched rows UNCHANGED (insert the new key only); pre-r14 the
    # jdbc path silently fell back to replace semantics (r13 ADVICE)
    snap2 = str(tmp_path / "snap_e")
    S.snap_overwrite(spark, snap2,
                     spark.createDataFrame(seed_rows, schema), note="seed")
    out_snap_e = apply_pipeline(
        spark.createDataFrame(batch_rows, schema),
        [{"$merge": {"into": "t", "on": "_id", "whenMatched": []}}],
        targets={"t": snap2})
    url2 = f"jdbc:derby:{tmp_path}/pardb2;create=true"
    write_jdbc_append(spark.createDataFrame(seed_rows, schema),
                      url2, "par")
    out_jdbc_e = apply_pipeline(
        spark.createDataFrame(batch_rows, schema),
        [{"$merge": {"into": "par", "on": "_id", "whenMatched": []}}],
        targets={"par": {"kind": "jdbc", "url": url2, "table": "par",
                         "dialect": "ansi"}})
    ae = sorted(map(key, out_snap_e.select("_id", "n", "w", "tag").collect()))
    be = sorted(map(key, out_jdbc_e.select("_id", "n", "w", "tag").collect()))
    assert ae == be
    # matched keys 1/2 retain their SEED values; key 9 inserted
    expect = sorted(map(key, spark.createDataFrame(
        seed_rows + [batch_rows[2]], schema).collect()))
    assert ae == expect


def test_merge_update_pipeline_unset(spark, tmp_path):
    """$unset in a whenMatched update pipeline nulls the column on
    BOTH lowerings (snapshot column exprs and the jdbc SET clause) —
    the documented rectangular deviation from Mongo's field removal."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.connectors import write_jdbc_append
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    seed_rows = [(1, 10, "a"), (2, 20, "b")]
    batch_rows = [(1, 99, "z")]
    schema = "_id bigint, n bigint, tag string"
    stages = [{"$set": {"n": "$$new.n"}}, {"$unset": "tag"}]

    snap = str(tmp_path / "u_snap")
    S.snap_overwrite(spark, snap,
                     spark.createDataFrame(seed_rows, schema), note="seed")
    out_a = apply_pipeline(
        spark.createDataFrame(batch_rows, schema),
        [{"$merge": {"into": "t", "on": "_id", "whenMatched": stages}}],
        targets={"t": snap})

    url = f"jdbc:derby:{tmp_path}/unsetdb;create=true"
    write_jdbc_append(spark.createDataFrame(seed_rows, schema), url, "u")
    out_b = apply_pipeline(
        spark.createDataFrame(batch_rows, schema),
        [{"$merge": {"into": "u", "on": "_id", "whenMatched": stages}}],
        targets={"u": {"kind": "jdbc", "url": url, "table": "u",
                       "dialect": "ansi"}})

    want = [(1, 99, None), (2, 20, "b")]
    for out in (out_a, out_b):
        assert sorted((r._id, r.n, r.tag) for r in
                      out.select("_id", "n", "tag").collect()) == want
    # $unset may not hit an 'on' key
    with pytest.raises(ValueError, match="may not modify"):
        apply_pipeline(
            spark.createDataFrame(batch_rows, schema),
            [{"$merge": {"into": "t", "on": "_id",
                         "whenMatched": [{"$unset": ["_id"]}]}}],
            targets={"t": snap})


def test_regex_find_and_find_all(spark):
    """$regexFind ({match, idx, captures} or null) and $regexFindAll
    ({match, idx, captures} docs — idx via the sequential position
    walk for context-free patterns; context-dependent patterns omit
    it, the documented deviation): capture groups null when
    unmatched/empty, $options inline flags, null input → null /
    empty array."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, "order 12 and 34 end"), (2, "none"), (3, None)],
        "id int, s string")
    out = apply_pipeline(df, [{"$addFields": {
        "f": {"$regexFind": {"input": "$s", "regex": r"(\d)(\d)"}},
        "fa": {"$regexFindAll": {"input": "$s", "regex": r"(\d)(\d)"}},
        "ci": {"$regexFind": {"input": "$s", "regex": "ORDER",
                              "options": "i"}},
        "opt": {"$regexFind": {"input": "$s",
                               "regex": r"(\d+)( end)?"}},
    }}])
    r = {x.id: x for x in out.collect()}
    assert (r[1].f.match, r[1].f.idx, list(r[1].f.captures)) == \
        ("12", 6, ["1", "2"])
    assert [(x.match, x.idx, list(x.captures)) for x in r[1].fa] == \
        [("12", 6, ["1", "2"]), ("34", 13, ["3", "4"])]
    assert (r[1].ci.match, r[1].ci.idx) == ("order", 0)
    # optional group unmatched on the first find → null capture
    assert list(r[1].opt.captures) == ["12", None]
    assert r[2].f is None and list(r[2].fa) == [] and r[2].ci is None
    assert r[3].f is None and list(r[3].fa) == []
    with pytest.raises(ValueError, match="options"):
        apply_pipeline(df, [{"$addFields": {
            "bad": {"$regexFind": {"input": "$s", "regex": "a",
                                   "options": "z"}}}}])


def test_regex_find_all_idx_and_context_captures(spark):
    """r13 VERDICT #4 + ADVICE: $regexFindAll per-match idx lands via
    a JVM-side position walk (remainder re-search, zero-width matches
    advance by one — the Java matcher's rule); captures are extracted
    POSITIONALLY from the original input, so context-dependent
    patterns (lookaround) capture correctly instead of re-matching
    against the bare match text and silently nulling. Context-
    dependent patterns omit idx (a substring walk would mis-position
    them) — reading .idx fails at analysis, never silently."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        _regex_is_context_free,
        apply_pipeline,
    )

    # guard: conservative syntactic classification
    for p, exp in [("[a-z]+", True), ("a(?=b)", False), ("(?<=x)a", False),
                   ("^a", False), ("a$", False), ("[^x]+", True),
                   (r"\bw", False), (r"(a)\1", False), ("(?<n>a)b", True),
                   (r"\\^", False), (r"\^lit", True), ("a{2,3}", True)]:
        assert _regex_is_context_free(p) is exp, p

    df = spark.createDataFrame([(1, "ab12cd34 xy56")], ["i", "s"])
    out = apply_pipeline(df, [{"$addFields": {
        "fa": {"$regexFindAll": {"input": "$s",
                                 "regex": r"([a-z]+)(\d+)"}}}}])
    assert [(x.match, x.idx, list(x.captures))
            for x in out.collect()[0].fa] == \
        [("ab12", 0, ["ab", "12"]), ("cd34", 4, ["cd", "34"]),
         ("xy56", 9, ["xy", "56"])]

    # the r13 ADVICE failure case: '(\d+)(?= )' matches '34' but
    # re-extraction on the isolated '34' fails the lookahead — the
    # positional extraction captures '34' from the original input
    out2 = apply_pipeline(df, [{"$addFields": {
        "fa": {"$regexFindAll": {"input": "$s",
                                 "regex": r"(\d+)(?= )"}}}}])
    docs = out2.collect()[0].fa
    assert [(x.match, list(x.captures)) for x in docs] == [("34", ["34"])]
    assert "idx" not in docs[0].__fields__   # context-dependent: no idx
    # and reading .idx fails loudly at analysis
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        apply_pipeline(df, [
            {"$addFields": {"fa": {"$regexFindAll": {
                "input": "$s", "regex": r"(\d+)(?= )"}}}},
            {"$addFields": {"bad": {"$arrayElemAt": ["$fa.idx", 0]}}},
        ]).collect()

    # zero-width matches stay aligned with the match array
    z = spark.createDataFrame([(1, "ba")], ["i", "s"])
    outz = apply_pipeline(z, [{"$addFields": {
        "fa": {"$regexFindAll": {"input": "$s", "regex": "a*"}}}}])
    assert [(x.match, x.idx) for x in outz.collect()[0].fa] == \
        [("", 0), ("a", 1), ("", 2)]


def test_byte_string_ops_and_index_range(spark):
    """$strLenBytes/$substrBytes (UTF-8 byte indexed — $substr alias)
    and the $indexOfCP range form (match must lie fully in
    [start, end), documented interpretation)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame([("cafeteria", "héllo")],
                               "s string, u string")
    out = apply_pipeline(df, [{"$addFields": {
        "lb": {"$strLenBytes": "$u"},
        "lc": {"$strLenCP": "$u"},
        "sb": {"$substrBytes": ["$u", 0, 3]},
        "sa": {"$substr": ["$s", 4, 5]},
        "i1": {"$indexOfCP": ["$s", "e", 3]},
        "i2": {"$indexOfCP": ["$s", "e", 4]},
        "i3": {"$indexOfCP": ["$s", "e", 4, 5]},
        "i4": {"$indexOfCP": ["$s", "teria", 0]},
    }}]).collect()[0]
    assert (out.lb, out.lc) == (6, 5)        # é is 2 bytes, 1 cp
    assert out.sb == "hé" and out.sa == "teria"
    assert (out.i1, out.i2, out.i3, out.i4) == (3, 5, -1, 4)


def test_geo_near_semantics(spark):
    """$geoNear haversine lowering (r13 VERDICT #2) — Mongo's unit
    rules: GeoJSON near → spherical METERS (R = 6378.1 km, the
    documented constant); legacy near + spherical:true → RADIANS;
    legacy + spherical:false → flat Euclidean coordinate units.
    min/maxDistance filter on the RAW distance (inclusive, Mongo's
    $gte/$lte bracket), distanceMultiplier scales only the output,
    query is an ordinary match document, includeLocs copies the
    location used, null locations are excluded (an index-backed
    $geoNear never returns them), nearest-first order."""
    import math

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import UNSUPPORTED_STAGES

    assert "$geoNear" not in UNSUPPORTED_STAGES
    R = 6378100.0
    df = spark.createDataFrame([
        Row(_id=1, loc=Row(type="Point", coordinates=[0.0, 0.0]), seg="a"),
        Row(_id=2, loc=Row(type="Point", coordinates=[90.0, 0.0]), seg="b"),
        Row(_id=3, loc=Row(type="Point", coordinates=[0.0, 45.0]), seg="a"),
        Row(_id=4, loc=None, seg="a"),
    ])

    def hav(lon1, lat1, lon2, lat2):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        a = (math.sin((p2 - p1) / 2) ** 2
             + math.cos(p1) * math.cos(p2)
             * math.sin(math.radians(lon2 - lon1) / 2) ** 2)
        return 2 * math.asin(math.sqrt(a))

    # 2dsphere: GeoJSON near → meters, nearest first, null loc dropped
    out = apply_pipeline(df, [{"$geoNear": {
        "near": {"type": "Point", "coordinates": [0.0, 10.0]},
        "distanceField": "d", "key": "loc"}}]).collect()
    assert [r._id for r in out] == [1, 3, 2]
    exp = {1: hav(0, 10, 0, 0) * R, 3: hav(0, 10, 0, 45) * R,
           2: hav(0, 10, 90, 0) * R}
    for r in out:
        assert r.d == pytest.approx(exp[r._id], rel=1e-12)

    # legacy near + spherical → radians; query + minDistance + includeLocs
    out = apply_pipeline(df, [{"$geoNear": {
        "near": [0.0, 10.0], "spherical": True, "distanceField": "rad",
        "key": "loc", "query": {"seg": "a"}, "minDistance": 0.2,
        "includeLocs": "where"}}]).collect()
    # seg 'a' leaves ids 1 and 3; id 1 is 10° = 0.1745 rad < 0.2 → dropped
    assert [r._id for r in out] == [3]
    assert out[0].rad == pytest.approx(math.radians(35), rel=1e-12)
    assert list(out[0].where.coordinates) == [0.0, 45.0]

    # legacy flat: Euclidean units, inclusive maxDistance (3-4-5 edge),
    # distanceMultiplier scales OUTPUT only (5.0 passes the ≤5 filter)
    flat = spark.createDataFrame([
        Row(_id=1, loc=[3.0, 4.0]), Row(_id=2, loc=[6.0, 8.0])])
    out = apply_pipeline(flat, [{"$geoNear": {
        "near": [0.0, 0.0], "distanceField": "d", "key": "loc",
        "maxDistance": 5.0, "distanceMultiplier": 10.0}}]).collect()
    assert [(r._id, r.d) for r in out] == [(1, pytest.approx(50.0))]

    # two-field legacy point document (field order = lon, lat)
    docpt = spark.createDataFrame([Row(_id=1, loc=Row(lon=1.0, lat=1.0))])
    out = apply_pipeline(docpt, [{"$geoNear": {
        "near": {"x": 1.0, "y": 0.0}, "distanceField": "d",
        "key": "loc"}}]).collect()
    assert out[0].d == pytest.approx(1.0)

    # $geoNear + $limit plans TakeOrdered — never a full global sort
    top = apply_pipeline(df, [
        {"$geoNear": {"near": {"type": "Point", "coordinates": [0.0, 10.0]},
                      "distanceField": "d", "key": "loc"}},
        {"$limit": 2}])
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_geo_near_errors(spark):
    """$geoNear contract errors: must be the FIRST stage; key and
    distanceField required (no index to infer from); dotted output
    fields, unknown options, and malformed near/key shapes raise."""
    df = spark.createDataFrame([Row(_id=1, loc=[0.0, 0.0], x=1)])
    geo = {"near": [0.0, 0.0], "distanceField": "d", "key": "loc"}
    with pytest.raises(ValueError, match="first pipeline stage"):
        apply_pipeline(df, [{"$limit": 5}, {"$geoNear": dict(geo)}])
    with pytest.raises(ValueError, match="'key' is required"):
        apply_pipeline(df, [{"$geoNear": {"near": [0.0, 0.0],
                                          "distanceField": "d"}}])
    with pytest.raises(ValueError, match="requires 'near'"):
        apply_pipeline(df, [{"$geoNear": {"key": "loc",
                                          "distanceField": "d"}}])
    with pytest.raises(ValueError, match="top-level field"):
        apply_pipeline(df, [{"$geoNear": {**geo,
                                          "distanceField": "a.b"}}])
    with pytest.raises(ValueError, match="unsupported options"):
        apply_pipeline(df, [{"$geoNear": {**geo, "num": 5}}])
    with pytest.raises(ValueError, match="near must be"):
        apply_pipeline(df, [{"$geoNear": {**geo, "near": [1.0]}}])
    with pytest.raises(ValueError, match="not found in the document"):
        apply_pipeline(df, [{"$geoNear": {**geo, "key": "nope"}}])
    with pytest.raises(ValueError, match="must be a GeoJSON Point"):
        apply_pipeline(df, [{"$geoNear": {**geo, "key": "x"}}])
    # a key through an array of documents names no single location
    pts = spark.createDataFrame([Row(_id=1, pts=[Row(lon=1.0, lat=2.0)])])
    with pytest.raises(ValueError, match="read through an array"):
        apply_pipeline(pts, [{"$geoNear": {**geo, "key": "pts.lon"}}])


def test_correlated_lookup_terminal_skip(spark):
    """Mongo's pagination idiom inside a correlated $lookup —
    sub-pipeline ending $sort + $skip [+ $limit] — lowers to a per-KEY
    slice AFTER the offset on the packed sorted array, per outer
    document, never globally. $skip without $sort refuses (natural
    order is undefined); a $limit-before-$skip suffix (different
    semantics) falls through to the scope guard; sort directions other
    than ±1 raise instead of silently flipping (r13 ADVICE)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    orders = spark.createDataFrame(
        [(1, "apple"), (2, "pear"), (3, "none")], ["_id", "item"])
    inventory = spark.createDataFrame(
        [("apple", 10, "A"), ("apple", 5, "B"), ("apple", 10, "C"),
         ("apple", 7, "D"), ("pear", 7, "A"), ("pear", 3, "B")],
        "sku string, qty int, wh string")
    coll = {"inventory": inventory}

    def lookup(tail, let=None):
        return [{"$lookup": {
            "from": "inventory", "let": let or {"it": "$item"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$$it", "$sku"]}}},
                *tail],
            "as": "pg"}}]

    # page 2 of size 2, qty desc with wh tiebreak:
    # apple sorted = [(10,A),(10,C),(7,D),(5,B)] → skip 2 limit 2 → last 2
    out = apply_pipeline(orders, lookup([
        {"$sort": {"qty": -1, "wh": 1}}, {"$skip": 2}, {"$limit": 2}]),
        collections=coll)
    got = {r._id: [(x.qty, x.wh) for x in r.pg] for r in out.collect()}
    assert got == {1: [(7, "D"), (5, "B")], 2: [], 3: []}

    # $skip WITHOUT $limit: remainder after the offset; skip past the
    # end of a shorter key's array → [] (pear has only 2 docs)
    out2 = apply_pipeline(orders, lookup([
        {"$sort": {"qty": -1, "wh": 1}}, {"$skip": 2}]), collections=coll)
    got2 = {r._id: [(x.qty, x.wh) for x in r.pg] for r in out2.collect()}
    assert got2 == {1: [(7, "D"), (5, "B")], 2: [], 3: []}

    # general (non-equi) path honors the skip too
    out3 = apply_pipeline(orders, [{"$lookup": {
        "from": "inventory", "let": {"it": "$item", "mn": "$_id"},
        "pipeline": [
            {"$match": {"$expr": {"$and": [
                {"$eq": ["$$it", "$sku"]},
                {"$gt": ["$qty", "$$mn"]}]}}},
            {"$sort": {"qty": 1}}, {"$skip": 1}, {"$limit": 2}],
        "as": "pg"}}], collections=coll)
    got3 = {r._id: [x.qty for x in r.pg] for r in out3.collect()}
    assert got3 == {1: [7, 10], 2: [7], 3: []}

    # contracts
    with pytest.raises(ValueError, match="without .sort"):
        apply_pipeline(orders, lookup([{"$skip": 1}]), collections=coll)
    with pytest.raises(ValueError, match="non-negative"):
        apply_pipeline(orders, lookup(
            [{"$sort": {"qty": 1}}, {"$skip": -1}]), collections=coll)
    with pytest.raises(ValueError, match="supported suffix order"):
        # $limit before $skip truncates before the offset — refused
        apply_pipeline(orders, lookup(
            [{"$sort": {"qty": 1}}, {"$limit": 3}, {"$skip": 1}]),
            collections=coll)
    with pytest.raises(ValueError, match="direction must be 1 or -1"):
        apply_pipeline(orders, lookup(
            [{"$sort": {"qty": 0}}, {"$limit": 1}]), collections=coll)


def test_zip_three_plus_inputs(spark):
    """$zip arity 3+ (r14, the last expression-language deviation):
    left-folded binary zip_with — shortest-input pairing, and
    useLongestLength with per-input defaults applied only past each
    input's own length."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, [1, 2, 3], [10, 20], [100, 200, 300, 400])],
        "id int, a array<int>, b array<int>, c array<int>")
    out = apply_pipeline(df, [{"$addFields": {
        "zs": {"$zip": {"inputs": ["$a", "$b", "$c"]}},
        "zl": {"$zip": {"inputs": ["$a", "$b", "$c"],
                        "useLongestLength": True}},
        "zd": {"$zip": {"inputs": ["$a", "$b", "$c"],
                        "useLongestLength": True,
                        "defaults": [-1, -2, -3]}},
    }}]).collect()[0]
    assert [list(p) for p in out.zs] == [[1, 10, 100], [2, 20, 200]]
    assert [list(p) for p in out.zl] == [
        [1, 10, 100], [2, 20, 200], [3, None, 300], [None, None, 400]]
    assert [list(p) for p in out.zd] == [
        [1, 10, 100], [2, 20, 200], [3, -2, 300], [-1, -2, 400]]
    with pytest.raises(ValueError, match="one value per input"):
        apply_pipeline(df, [{"$addFields": {
            "bad": {"$zip": {"inputs": ["$a", "$b", "$c"],
                             "useLongestLength": True,
                             "defaults": [1, 2]}}}}])
    with pytest.raises(ValueError, match="2\\+ arrays"):
        apply_pipeline(df, [{"$addFields": {
            "bad": {"$zip": {"inputs": ["$a"]}}}}])


def test_week_family_and_date_from_parts_carry(spark):
    """r14 week family: ``$week`` (Sunday-based week-of-year, week 0
    before the first Sunday), ``$dateTrunc`` unit=week honoring
    ``startOfWeek`` (Mongo default SUNDAY — Spark's date_trunc is
    pinned Monday, the closed deviation), ``$dateDiff`` unit=week
    counting week-boundary crossings per startOfWeek, and
    ``$dateFromParts`` CARRYING out-of-range parts (Mongo's documented
    examples: month 14 -> 2018-02-01, Feb 31 -> Mar 3)."""
    import datetime as dt

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, dt.date(2023, 1, 1)),   # Sunday, first of year
         (2, dt.date(2023, 1, 7)),   # Saturday, same Sunday-week
         (3, dt.date(2023, 1, 8)),   # next Sunday
         (4, dt.date(2024, 1, 1)),   # Monday before 2024's 1st Sunday
         (5, dt.date(2024, 1, 7))],  # first Sunday of 2024
        "i long, d date")
    out = apply_pipeline(df, [
        {"$addFields": {
            "w": {"$week": "$d"},
            "ws": {"$dateTrunc": {"date": "$d", "unit": "week"}},
            "wm": {"$dateTrunc": {"date": "$d", "unit": "week",
                                  "startOfWeek": "Mon"}},
            "dw": {"$dateDiff": {"startDate": {"$toDate": "2023-01-01"},
                                 "endDate": "$d", "unit": "week"}},
            "dwm": {"$dateDiff": {"startDate": {"$toDate": "2023-01-01"},
                                  "endDate": "$d", "unit": "week",
                                  "startOfWeek": "monday"}},
        }}])
    rows = {r["i"]: r for r in out.collect()}
    assert [rows[i]["w"] for i in (1, 2, 3, 4, 5)] == [1, 1, 2, 0, 1]
    assert rows[1]["ws"].date() == dt.date(2023, 1, 1)
    assert rows[2]["ws"].date() == dt.date(2023, 1, 1)
    assert rows[3]["ws"].date() == dt.date(2023, 1, 8)
    assert rows[4]["ws"].date() == dt.date(2023, 12, 31)
    # Monday start: Sunday Jan 1 2023 belongs to the week of Dec 26
    assert rows[1]["wm"].date() == dt.date(2022, 12, 26)
    assert rows[4]["wm"].date() == dt.date(2024, 1, 1)
    assert [rows[i]["dw"] for i in (1, 2, 3, 4, 5)] == [0, 0, 1, 52, 53]
    assert [rows[i]["dwm"] for i in (1, 2, 3, 4, 5)] == [0, 1, 1, 53, 53]

    carry = apply_pipeline(df.limit(1), [
        {"$project": {
            "a": {"$dateFromParts": {"year": 2017, "month": 14}},
            "b": {"$dateFromParts": {"year": 2017, "month": 2,
                                     "day": 31}},
            "c": {"$dateFromParts": {"year": 2017, "month": 1,
                                     "day": 0}},
            "d2": {"$dateFromParts": {"year": 2017, "hour": 25,
                                      "minute": -60}},
            "e": {"$dateFromParts": {"year": 2017, "second": 61,
                                     "millisecond": 1500}},
            "f": {"$dateFromParts": {"year": 2017, "month": 3,
                                     "day": 14, "hour": 10,
                                     "minute": 30, "second": 7,
                                     "millisecond": 250}},
        }}]).collect()[0]
    assert carry["a"] == dt.datetime(2018, 2, 1)
    assert carry["b"] == dt.datetime(2017, 3, 3)
    assert carry["c"] == dt.datetime(2016, 12, 31)
    assert carry["d2"] == dt.datetime(2017, 1, 2)
    assert carry["e"] == dt.datetime(2017, 1, 1, 0, 1, 2, 500000)
    assert carry["f"] == dt.datetime(2017, 3, 14, 10, 30, 7, 250000)

    # typo'd startOfWeek raises rather than silently shifting weeks
    with pytest.raises(ValueError, match="startOfWeek"):
        apply_pipeline(df, [{"$addFields": {
            "x": {"$dateTrunc": {"date": "$d", "unit": "week",
                                 "startOfWeek": "mondy"}}}}])


def test_bitwise_and_type_introspection(spark):
    """r14: Mongo 6.3 bitwise family ($bitAnd/$bitOr/$bitXor/$bitNot,
    empty-array identity values) and the type-introspection trio
    ($type -> BSON type name, $isNumber, $isArray) plus the $match
    query-operator $type (names, numeric codes, 'number' alias,
    array-of-alternatives; null matches only type 'null')."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, 5, 2.5, "x", [1, 2]), (2, 12, 0.5, "y", []),
         (3, None, None, None, None)],
        "i long, a long, c double, s string, arr array<long>")
    out = apply_pipeline(df, [{"$addFields": {
        "band": {"$bitAnd": ["$a", 6]},
        "bor": {"$bitOr": ["$a", 8, 1]},
        "bxor": {"$bitXor": ["$a", "$a"]},
        "bnot": {"$bitNot": "$a"},
        "id_and": {"$bitAnd": []}, "id_or": {"$bitOr": []},
        "ta": {"$type": "$a"}, "tc": {"$type": "$c"},
        "ts": {"$type": "$s"}, "tarr": {"$type": "$arr"},
        "isn": {"$isNumber": "$c"}, "isns": {"$isNumber": "$s"},
        "isa": {"$isArray": ["$arr"]}, "isas": {"$isArray": "$s"},
    }}])
    rows = {r["i"]: r for r in out.collect()}
    assert (rows[1]["band"], rows[1]["bor"], rows[1]["bxor"],
            rows[1]["bnot"]) == (4, 13, 0, -6)
    assert (rows[2]["band"], rows[2]["bor"]) == (4, 13)
    assert (rows[1]["id_and"], rows[1]["id_or"]) == (-1, 0)
    assert rows[3]["band"] is None and rows[3]["bnot"] is None
    assert (rows[1]["ta"], rows[1]["tc"], rows[1]["ts"],
            rows[1]["tarr"]) == ("long", "double", "string", "array")
    assert rows[3]["ta"] == "null" and rows[3]["tarr"] == "null"
    assert rows[1]["isn"] and not rows[1]["isns"]
    assert rows[1]["isa"] and not rows[1]["isas"]
    assert not rows[3]["isn"] and not rows[3]["isa"]

    def match(spec):
        return sorted(r["i"] for r in
                      apply_pipeline(df, [{"$match": spec}]).collect())

    assert match({"a": {"$type": "number"}}) == [1, 2]
    assert match({"a": {"$type": "long"}}) == [1, 2]
    assert match({"a": {"$type": ["null"]}}) == [3]
    assert match({"s": {"$type": 2}}) == [1, 2]
    assert match({"arr": {"$type": [4, 10]}}) == [1, 2, 3]
    assert match({"a": {"$type": "string"}}) == []
    with pytest.raises(ValueError, match="BSON"):
        match({"a": {"$type": 2.5}})


def test_date_timezone_support(spark):
    """r14 timezone support across the date family: part getters in
    Mongo's {date, timezone} long form, zoned $dateTrunc (zone
    wall-clock boundary, UTC-instant result), $dateAdd calendar
    arithmetic for day+ units, zoned $dateToString/$dateToParts, and
    $dateFromParts/$dateFromString interpreting parts as the zone's
    wall clock. Summer (EDT, -4) and winter (EST, -5) instants pin the
    IANA rules; non-string timezones raise."""
    from datetime import datetime as dt

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, dt(1995, 7, 2, 2, 30)),    # 1995-07-01 22:30 EDT
         (2, dt(1995, 1, 2, 2, 30))],   # 1995-01-01 21:30 EST
        "i long, ts timestamp")
    NY = "America/New_York"
    out = apply_pipeline(df, [{"$addFields": {
        "h": {"$hour": {"date": "$ts", "timezone": NY}},
        "d": {"$dayOfMonth": {"date": "$ts", "timezone": NY}},
        "dow": {"$dayOfWeek": {"date": "$ts", "timezone": NY}},
        "day0": {"$dateTrunc": {"date": "$ts", "unit": "day",
                                "timezone": NY}},
        "s": {"$dateToString": {"date": "$ts", "format": "%Y-%m-%d %H:%M",
                                "timezone": NY}},
        "parts": {"$dateToParts": {"date": "$ts", "timezone": NY}},
        "p1d": {"$dateAdd": {"startDate": "$ts", "unit": "day",
                             "amount": 1, "timezone": NY}},
        "fp": {"$dateFromParts": {"year": 1995, "month": 7, "day": 1,
                                  "hour": 22, "minute": 30,
                                  "timezone": NY}},
        "fs": {"$dateFromString": {"dateString": "1995-07-01 22:30:00",
                                   "timezone": NY}},
        "dd": {"$dateDiff": {"startDate": {"$toDate": "1995-07-01"},
                             "endDate": "$ts", "unit": "day",
                             "timezone": NY}},
    }}])
    rows = {r["i"]: r for r in out.collect()}
    assert (rows[1]["h"], rows[1]["d"], rows[1]["dow"]) == (22, 1, 7)
    assert (rows[2]["h"], rows[2]["d"], rows[2]["dow"]) == (21, 1, 1)
    # NY midnight as a UTC instant: 04:00 UTC summer, 05:00 winter
    assert rows[1]["day0"] == dt(1995, 7, 1, 4, 0)
    assert rows[2]["day0"] == dt(1995, 1, 1, 5, 0)
    assert rows[1]["s"] == "1995-07-01 22:30"
    assert rows[2]["s"] == "1995-01-01 21:30"
    assert (rows[1]["parts"]["day"], rows[1]["parts"]["hour"]) == (1, 22)
    assert rows[1]["p1d"] == dt(1995, 7, 3, 2, 30)
    assert rows[1]["fp"] == dt(1995, 7, 2, 2, 30)
    assert rows[1]["fs"] == dt(1995, 7, 2, 2, 30)
    # 1995-07-01 00:00 UTC is Jun 30 in NY; row 1 is Jul 1 in NY
    assert rows[1]["dd"] == 1
    # DST calendar arithmetic: +1 day across the spring-forward keeps
    # the wall-clock time (absolute add would land an hour later)
    dst = spark.createDataFrame(
        [(dt(1995, 4, 1, 17, 0),)], "ts timestamp")  # Apr 1 12:00 EST
    r = apply_pipeline(dst, [{"$project": {
        "p": {"$dateAdd": {"startDate": "$ts", "unit": "day",
                           "amount": 1, "timezone": NY}},
        "pa": {"$dateAdd": {"startDate": "$ts", "unit": "day",
                            "amount": 1}}}}]).collect()[0]
    assert r["p"] == dt(1995, 4, 2, 16, 0)   # Apr 2 12:00 EDT
    assert r["pa"] == dt(1995, 4, 2, 17, 0)  # absolute +24h

    with pytest.raises(ValueError, match="timezone"):
        apply_pipeline(df, [{"$addFields": {
            "x": {"$hour": {"date": "$ts", "timezone": 5}}}}])


def test_date_to_string_week_specifiers(spark):
    """r14 $dateToString week-family specifiers — %w (1=Sunday), %u
    (ISO 1=Monday), %U (Sunday-based week, 2-digit), %V (ISO week),
    %G (ISO week-numbering year) — computed-segment concat between
    plain date_format runs, with %% and literals preserved."""
    from datetime import datetime as dt

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, dt(2023, 1, 1)),     # Sunday; week 1; ISO 2022-W52-7
         (2, dt(2024, 1, 1)),     # Monday; week 0; ISO 2024-W01-1
         (3, dt(2024, 12, 30))],  # Monday; ISO 2025-W01-1
        "i long, ts timestamp")
    out = apply_pipeline(df, [{"$project": {
        "i": 1,
        "s": {"$dateToString": {
            "date": "$ts", "format": "%Y-%m-%d w%w u%u U%U V%V G%G %%"}},
    }}])
    got = {r["i"]: r["s"] for r in out.collect()}
    assert got[1] == "2023-01-01 w1 u7 U01 V52 G2022 %"
    assert got[2] == "2024-01-01 w2 u1 U00 V01 G2024 %"
    assert got[3] == "2024-12-30 w2 u1 U52 V01 G2025 %"
    # unknown specifiers still refuse loudly
    with pytest.raises(ValueError, match="specifier"):
        apply_pipeline(df, [{"$project": {
            "s": {"$dateToString": {"date": "$ts", "format": "%Q"}}}}])


def test_to_date_numeric_is_millis(spark):
    """Mongo's number->date rule: $toDate / $convert-to-date read a
    NUMERIC input as milliseconds since the epoch (r14 — the SQL cast
    reads seconds, a silent 1000x divergence). Strings parse,
    timestamps and dates pass through; onError still catches
    unparseable strings."""
    from datetime import date, datetime as dt

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(86400000, 86400500.0, "2020-01-02 03:00:00",
          dt(2020, 1, 2, 3), date(2020, 1, 2))],
        "ms long, msd double, s string, ts timestamp, d date")
    r = apply_pipeline(df, [{"$project": {
        "a": {"$toDate": "$ms"},
        "b": {"$toDate": "$msd"},
        "c": {"$toDate": "$s"},
        "e": {"$toDate": "$ts"},
        "f": {"$toDate": "$d"},
        "g": {"$convert": {"input": "$ms", "to": "date"}},
        "h": {"$convert": {"input": {"$literal": "junk"}, "to": "date",
                           "onError": None}},
    }}]).collect()[0]
    assert r["a"] == dt(1970, 1, 2)          # millis, NOT seconds
    assert r["b"] == dt(1970, 1, 2, 0, 0, 0, 500000)  # double millis
    assert r["c"] == dt(2020, 1, 2, 3)
    assert r["e"] == dt(2020, 1, 2, 3)
    assert r["f"] == dt(2020, 1, 2)
    assert r["g"] == dt(1970, 1, 2)
    assert r["h"] is None


def test_trim_chars_index_of_bytes_binary_size(spark):
    """r14 string polish: $trim/$ltrim/$rtrim honor the chars option
    (previously silently ignored) with Mongo's wide default whitespace
    set; $indexOfBytes returns UTF-8 BYTE positions (0-based, -1
    missing); $binarySize counts UTF-8 bytes."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, "  ggxxgg  ", "café bar")], "i long, s string, u string")
    r = apply_pipeline(df, [{"$project": {
        "t0": {"$trim": {"input": "$s"}},
        "t1": {"$trim": {"input": {"$trim": {"input": "$s"}},
                         "chars": "g"}},
        "lt": {"$ltrim": {"input": {"$trim": {"input": "$s"}},
                          "chars": "g"}},
        "rt": {"$rtrim": {"input": {"$trim": {"input": "$s"}},
                          "chars": "gx"}},
        "nb": {"$trim": {"input": {"$concat": [{"$literal": " "},
                                               "x",
                                               {"$literal": "　"}]}}},
        "ib": {"$indexOfBytes": ["$u", "bar"]},   # after 4-char 'café'=5B +1
        "ic": {"$indexOfCP": ["$u", "bar"]},
        "im": {"$indexOfBytes": ["$u", "zzz"]},
        "bs": {"$binarySize": "$u"},              # 8 chars, é is 2 bytes
    }}]).collect()[0]
    assert r["t0"] == "ggxxgg"
    assert r["t1"] == "xx"
    assert r["lt"] == "xxgg"
    assert r["rt"] == ""    # every char of 'ggxxgg' is in the set
    assert r["nb"] == "x"       # unicode spaces in the default set
    assert r["ib"] == 6 and r["ic"] == 5
    assert r["im"] == -1
    assert r["bs"] == 9


def test_unsupported_expression_operators_refuse_with_reason(spark):
    """The expression-language analogue of UNSUPPORTED_STAGES: JS
    escapes ($function/$accumulator/$where), BSON-internal types
    ($toObjectId/$tsSecond/$tsIncrement) and $meta refuse with a
    reason + alternative, as UnsupportedMongoStage — never a bare
    'unknown operator'."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        UNSUPPORTED_EXPR_OPS,
        UnsupportedMongoStage,
        apply_pipeline,
    )

    df = spark.createDataFrame([(1,)], "a long")
    for bad in UNSUPPORTED_EXPR_OPS:
        with pytest.raises(UnsupportedMongoStage, match="refused by design"):
            apply_pipeline(df, [{"$addFields": {
                "x": {bad: {"whatever": 1}}}}])
    # unknown operators still raise the plain unknown error
    with pytest.raises(ValueError, match="unsupported expression operator"):
        apply_pipeline(df, [{"$addFields": {"x": {"$noSuchOp": 1}}}])


def test_correlated_lookup_terminal_bucket(spark):
    """r14 terminal $bucket inside a correlated $lookup — rewritten to
    $addFields(label $switch) + terminal grouping-_id $group, riding
    the per-key pack: per-document histograms without a per-document
    re-run. String default coerces labels (the documented $bucket
    stringify deviation); missing default raises (Mongo errors per
    document out-of-bounds, which the join decomposition can't
    reproduce)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, 5.0), (1, 15.0), (1, 25.0), (1, 999.0), (2, 7.0)],
        "o_ck long, price double")
    coll = {"orders": orders}
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "orders", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$bucket": {
                         "groupBy": "$price",
                         "boundaries": [0, 10, 20, 30],
                         "default": "other",
                         "output": {"n": {"$sum": 1},
                                    "tot": {"$sum": "$price"}}}}],
                     "as": "h"}}], collections=coll)
    got = {r["ck"]: [(e["_id"], e["n"], e["tot"]) for e in r["h"]]
           for r in out.collect()}
    assert got[1] == [("0", 1, 5.0), ("10", 1, 15.0),
                      ("20", 1, 25.0), ("other", 1, 999.0)]
    assert got[2] == [("0", 1, 7.0)]
    assert got[3] == []
    with pytest.raises(ValueError, match="explicit default"):
        apply_pipeline(cust, [
            {"$lookup": {"from": "orders", "localField": "ck",
                         "foreignField": "o_ck",
                         "pipeline": [{"$bucket": {
                             "groupBy": "$price",
                             "boundaries": [0, 10]}}],
                         "as": "h"}}], collections=coll)
    with pytest.raises(ValueError, match="strictly increasing"):
        apply_pipeline(cust, [
            {"$lookup": {"from": "orders", "localField": "ck",
                         "foreignField": "o_ck",
                         "pipeline": [{"$bucket": {
                             "groupBy": "$price", "default": 0,
                             "boundaries": [0, 10, 10]}}],
                         "as": "h"}}], collections=coll)


def test_merge_objects_accumulator(spark):
    """r14 $mergeObjects as a $group ACCUMULATOR: per field, the last
    non-null value in document order (after $sort) — max_by over the
    materialized position, null keys ignored. Documented rectangular
    deviation: SQL NULL counts as a missing field."""
    from pyspark.sql import Row

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, 10, Row(a=1, b=None, c="x")),
         (2, 20, Row(a=None, b=5, c="y")),
         (3, 10, Row(a=7, b=None, c=None)),
         (4, 20, Row(a=None, b=None, c="z"))],
        "i long, k long, doc struct<a:long,b:long,c:string>")
    out = apply_pipeline(df, [
        {"$sort": {"i": 1}},
        {"$group": {"_id": "$k", "m": {"$mergeObjects": "$doc"}}}])
    got = {r["_id"]: dict(r["m"].asDict())
           for r in out.collect()}
    assert got[10] == {"a": 7, "b": None, "c": "x"}
    assert got[20] == {"a": None, "b": 5, "c": "z"}
    with pytest.raises(ValueError, match="struct"):
        apply_pipeline(df, [{"$group": {
            "_id": "$k", "m": {"$mergeObjects": "$i"}}}])


def test_date_from_string_on_error_on_null(spark):
    """r14 $dateFromString onError/onNull: unparseable strings take
    onError (no ANSI abort), null input takes onNull (not onError —
    Mongo's rule), both unified to TIMESTAMP; without onError a bad
    string still fails loudly."""
    from datetime import datetime as dt

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, "2020-01-02 03:04:05"), (2, "garbage"), (3, None)],
        "i long, s string")
    out = apply_pipeline(df, [{"$project": {
        "i": 1,
        "t": {"$dateFromString": {
            "dateString": "$s",
            "onError": {"$toDate": "1900-01-01"},
            "onNull": None}},
    }}])
    got = {r["i"]: r["t"] for r in out.collect()}
    assert got[1] == dt(2020, 1, 2, 3, 4, 5)
    assert got[2] == dt(1900, 1, 1)
    assert got[3] is None
    # zoned + format + onError compose
    out2 = apply_pipeline(df, [{"$project": {
        "i": 1,
        "t": {"$dateFromString": {
            "dateString": "$s", "format": "%Y-%m-%d %H:%M:%S",
            "timezone": "America/New_York", "onError": None}},
    }}])
    got2 = {r["i"]: r["t"] for r in out2.collect()}
    assert got2[1] == dt(2020, 1, 2, 8, 4, 5)   # EST -5 -> UTC
    assert got2[2] is None


def test_date_to_string_on_null(spark):
    """$dateToString onNull (r14): a null date takes the fallback
    string on both the plain-pattern and computed-specifier paths."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, "2020-01-02 03:00:00"), (2, None)], "i long, s string")
    out = apply_pipeline(df, [
        {"$addFields": {"d": {"$dateFromString": {"dateString": "$s",
                                                  "onError": None}}}},
        {"$project": {
            "i": 1,
            "a": {"$dateToString": {"date": "$d", "format": "%Y-%m",
                                    "onNull": "missing"}},
            "b": {"$dateToString": {"date": "$d", "format": "%Y w%U",
                                    "onNull": "none"}},
        }}])
    got = {r["i"]: (r["a"], r["b"]) for r in out.collect()}
    assert got[1] == ("2020-01", "2020 w00")
    assert got[2] == ("missing", "none")


def test_correlated_lookup_terminal_sort_by_count(spark):
    """r14 terminal $sortByCount inside a correlated $lookup — sugar
    for group-by-expr + count, packed per key in (count desc, _id asc)
    order: Mongo's contract with the translator's deterministic
    tiebreak. Works on the general let path too."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "O"), (1, "O"), (1, "F"), (1, "P"), (1, "P"), (1, "P"),
         (2, "F")],
        "o_ck long, st string")
    coll = {"orders": orders}
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "orders", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$sortByCount": "$st"}],
                     "as": "s"}}], collections=coll)
    got = {r["ck"]: [(e["_id"], e["count"]) for e in r["s"]]
           for r in out.collect()}
    assert got[1] == [("P", 3), ("O", 2), ("F", 1)]
    assert got[2] == [("F", 1)]
    assert got[3] == []

    out2 = apply_pipeline(cust, [
        {"$lookup": {"from": "orders", "let": {"k": "$ck"},
                     "pipeline": [
                         {"$match": {"$expr": {"$eq": ["$$k", "$o_ck"]}}},
                         {"$sortByCount": "$st"}],
                     "as": "s"}}], collections=coll)
    got2 = {r["ck"]: [(e["_id"], e["count"]) for e in r["s"]]
            for r in out2.collect()}
    assert got2 == got


def test_correlated_lookup_terminal_count(spark):
    """r14 terminal $count inside a correlated $lookup — 'how many
    matches per document' as the _id:null aggregate rewrite: one
    element [{_id: null, n}] per matched key, [] when nothing matches
    (Mongo: $count over zero docs emits nothing)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "O"), (1, "F"), (2, "F")], "o_ck long, st string")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "orders", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$match": {"st": {"$ne": "X"}}},
                                  {"$count": "n"}],
                     "as": "s"}}], collections={"orders": orders})
    got = {r["ck"]: [e["n"] for e in r["s"]] for r in out.collect()}
    assert got == {1: [2], 2: [1], 3: []}
    with pytest.raises(ValueError, match="non-empty field name"):
        apply_pipeline(cust, [
            {"$lookup": {"from": "orders", "localField": "ck",
                         "foreignField": "o_ck",
                         "pipeline": [{"$count": ""}],
                         "as": "s"}}], collections={"orders": orders})


def test_correlated_lookup_partition_stages(spark):
    """r14: $setWindowFields/$fill/$densify inside a correlated
    $lookup — per-PARTITION stages made per-DOCUMENT by extending
    their partition key with the join/let keys (exact: every
    partition is one key's matched set). Windows rank within each
    document's matches; locf never carries across documents; densify
    'full' bounds become the per-document range."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 30.0), (1, "c", 20.0), (2, "d", 5.0)],
        "o_ck long, oid string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "orders", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [
                         {"$setWindowFields": {
                             "sortBy": {"price": -1},
                             "output": {"rk": {"$rank": {}},
                                        "run": {"$sum": "$price",
                                                "window": {"documents":
                                                           ["unbounded",
                                                            "current"]}}}}},
                         {"$project": {"oid": 1, "rk": 1, "run": 1,
                                       "o_ck": 1}},
                         {"$sort": {"rk": 1}}],
                     "as": "s"}}], collections={"orders": orders})
    got = {r["ck"]: [(e["oid"], e["rk"], e["run"]) for e in r["s"]]
           for r in out.collect()}
    assert got[1] == [("b", 1, 30.0), ("c", 2, 50.0), ("a", 3, 60.0)]
    assert got[2] == [("d", 1, 5.0)]
    assert got[3] == []

    ev = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (1, 3, 30.0),
         (2, 1, None), (2, 2, 7.0)],
        "e_ck long, t long, v double")
    out2 = apply_pipeline(cust, [
        {"$lookup": {"from": "ev", "let": {"k": "$ck"},
                     "pipeline": [
                         {"$match": {"$expr": {"$eq": ["$$k", "$e_ck"]}}},
                         {"$fill": {"sortBy": {"t": 1},
                                    "output": {"v": {"method": "locf"}}}},
                         {"$sort": {"t": 1}}],
                     "as": "s"}}], collections={"ev": ev})
    got2 = {r["ck"]: [(e["t"], e["v"]) for e in r["s"]]
            for r in out2.collect()}
    assert got2[1] == [(1, 10.0), (2, 10.0), (3, 30.0)]
    assert got2[2] == [(1, None), (2, 7.0)]   # no carry across docs

    ev2 = spark.createDataFrame(
        [(1, 1, 10.0), (1, 4, 40.0), (2, 7, 7.0), (2, 8, 8.0)],
        "e_ck long, t long, v double")
    out3 = apply_pipeline(cust, [
        {"$lookup": {"from": "ev", "localField": "ck",
                     "foreignField": "e_ck",
                     "pipeline": [
                         {"$densify": {"field": "t",
                                       "range": {"step": 1,
                                                 "bounds": "full"}}},
                         {"$sort": {"t": 1}}],
                     "as": "s"}}], collections={"ev": ev2})
    got3 = {r["ck"]: [e["t"] for e in r["s"]] for r in out3.collect()}
    # 'full' = the per-DOCUMENT range, never the global 1..8 grid
    assert got3[1] == [1, 2, 3, 4]
    assert got3[2] == [7, 8]
    assert got3[3] == []


def test_match_type_rejects_unrepresentable_names(spark):
    """r15 (r14 ADVICE): a valid-but-unrepresentable BSON type NAME
    ('objectId', 'timestamp', 'regex', 'minKey') — or a typo'd one
    ('objectid') — used to compile to an always-false isin; now it
    raises like the unknown-numeric-code branch does, the translator's
    raise-don't-guess convention."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame([(1, "x")], "i long, s string")
    for bad in ("objectId", "objectid", "timestamp", "regex", "minKey",
                "javascript", "symbol"):
        with pytest.raises(ValueError, match="not representable"):
            apply_pipeline(df, [{"$match": {"s": {"$type": bad}}}])
    # array-of-alternatives validates each element the same way
    with pytest.raises(ValueError, match="not representable"):
        apply_pipeline(df, [{"$match": {"s": {"$type": ["string",
                                                        "objectId"]}}}])
    # every representable name still compiles
    for ok in ("double", "string", "object", "array", "binData", "bool",
               "date", "null", "int", "long", "decimal", "number"):
        apply_pipeline(df, [{"$match": {"s": {"$type": ok}}}]).collect()


def test_convert_to_date_on_error_catches_out_of_range_double(spark):
    """r15 (r14 ADVICE): $convert to:'date' with onError must route an
    out-of-long-range double (1e300 ms) to onError instead of aborting
    on the ANSI double->long cast — the try discipline now covers the
    millis leg too."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame([(1, 1e300), (2, 86_400_000.0)],
                               "i long, ms double")
    out = apply_pipeline(df, [{"$addFields": {
        "d": {"$convert": {"input": "$ms", "to": "date",
                           "onError": None}}}}])
    rows = {r["i"]: r["d"] for r in out.collect()}
    assert rows[1] is None                       # onError, not an abort
    assert rows[2] == datetime(1970, 1, 2)       # millis rule intact


def test_malformed_bucket_and_densify_specs_raise_value_error(spark):
    """r15 (r14 ADVICE): a $bucket spec missing 'boundaries'/'groupBy'
    and a $densify missing 'range' raise the translator's documented
    ValueError (naming the missing field), not a bare KeyError — at the
    top level AND inside the correlated-$lookup lowerings."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame([(1, 5.0)], "k long, v double")
    with pytest.raises(ValueError, match="boundaries"):
        apply_pipeline(df, [{"$bucket": {"groupBy": "$v"}}])
    with pytest.raises(ValueError, match="groupBy"):
        apply_pipeline(df, [{"$bucket": {"boundaries": [0, 10]}}])
    with pytest.raises(ValueError, match="range"):
        apply_pipeline(df, [{"$densify": {"field": "v"}}])
    with pytest.raises(ValueError, match="field"):
        apply_pipeline(df, [{"$densify": {"range": {"step": 1,
                                                    "bounds": "full"}}}])
    outer = spark.createDataFrame([(1,)], ["ck"])
    with pytest.raises(ValueError, match="boundaries"):
        apply_pipeline(outer, [{"$lookup": {
            "from": "f", "localField": "ck", "foreignField": "k",
            "pipeline": [{"$bucket": {"groupBy": "$v", "default": 0}}],
            "as": "s"}}], collections={"f": df})
    with pytest.raises(ValueError, match="range"):
        apply_pipeline(outer, [{"$lookup": {
            "from": "f", "localField": "ck", "foreignField": "k",
            "pipeline": [{"$densify": {"field": "v"}}],
            "as": "s"}}], collections={"f": df})


def test_correlated_lookup_sort_then_ordered_group(spark):
    """r15: Mongo's 'latest doc per key' idiom — correlated $lookup
    sub-pipeline ending $sort then $group with ORDER-SENSITIVE
    accumulators. The $sort is absorbed into the accumulators
    ($first->$top, $firstN->$topN, $lastN->$bottomN, comparator-ordered
    $push) — never planned as a global sort. Aggregate accumulators
    ($sum) ignore it."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 30.0), (1, "c", 20.0), (2, "d", 5.0)],
        "o_ck long, oid string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "orders", "let": {"k": "$ck"},
                     "pipeline": [
                         {"$match": {"$expr": {"$eq": ["$$k", "$o_ck"]}}},
                         {"$sort": {"price": -1}},
                         {"$group": {"_id": None,
                                     "best": {"$first": "$oid"},
                                     "worst": {"$last": "$oid"},
                                     "top2": {"$firstN": {"input": "$oid",
                                                          "n": 2}},
                                     "tail2": {"$lastN": {"input": "$oid",
                                                          "n": 2}},
                                     "ordered": {"$push": "$oid"},
                                     "total": {"$sum": "$price"}}}],
                     "as": "agg"}}], collections={"orders": orders})
    got = {r["ck"]: r["agg"] for r in out.collect()}
    a1 = got[1][0]
    assert (a1["best"], a1["worst"]) == ("b", "a")
    assert list(a1["top2"]) == ["b", "c"]
    assert list(a1["tail2"]) == ["c", "a"]
    assert list(a1["ordered"]) == ["b", "c", "a"]
    assert a1["total"] == 60.0
    assert got[2][0]["best"] == "d" and got[2][0]["ordered"] == ["d"]
    assert got[3] == []          # empty match -> no aggregate doc


def test_correlated_lookup_sort_group_multi_key_and_grouping_id(spark):
    """r15: the absorbed $sort with a MULTI-FIELD mixed-direction key,
    on the GENERAL (non-equi correlated) path, feeding a terminal
    $group with a grouping _id — one aggregation over (join key, _id),
    ordered accumulators honoring (cat asc, price desc)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1, 8.0), (2, 8.0)], ["ck", "lo"])
    orders = spark.createDataFrame(
        [(1, "x", "a", 10.0), (1, "x", "b", 30.0), (1, "y", "c", 20.0),
         (1, "y", "d", 5.0), (2, "x", "e", 7.0)],
        "o_ck long, cat string, oid string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "orders",
                     "let": {"k": "$ck", "minp": "$lo"},
                     "pipeline": [
                         {"$match": {"$expr": {"$and": [
                             {"$eq": ["$$k", "$o_ck"]},
                             {"$gt": ["$price", "$$minp"]}]}}},
                         {"$sort": {"cat": 1, "price": -1}},
                         {"$group": {"_id": "$cat",
                                     "latest": {"$first": "$oid"},
                                     "prices": {"$push": "$price"}}}],
                     "as": "agg"}}], collections={"orders": orders})
    got = {r["ck"]: {e["_id"]: (e["latest"], list(e["prices"]))
                     for e in r["agg"]} for r in out.collect()}
    # ck=1: price > 8 keeps a,b,c; cat x -> first by price desc = b
    assert got[1] == {"x": ("b", [30.0, 10.0]), "y": ("c", [20.0])}
    assert got[2] == {}          # e(7.0) fails the correlated $gt


def test_correlated_lookup_sort_group_merge_objects(spark):
    """r15: $mergeObjects after an absorbed $sort — per field, the
    LAST non-null in sort order (coalesce fold over the comparator-
    sorted array), never carried across outer documents."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,)], ["ck"])
    ev = spark.createDataFrame(
        [(1, 1, "p1", None), (1, 2, None, "e2"), (1, 3, "p3", None),
         (2, 1, "q1", "f1")],
        "e_ck long, t long, phone string, email string")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "ev", "localField": "ck",
                     "foreignField": "e_ck",
                     "pipeline": [
                         {"$addFields": {"doc": {"phone": "$phone",
                                                 "email": "$email"}}},
                         {"$sort": {"t": 1}},
                         {"$group": {"_id": None,
                                     "latest": {"$mergeObjects": "$doc"}}}],
                     "as": "agg"}}], collections={"ev": ev})
    got = {r["ck"]: r["agg"][0]["latest"] for r in out.collect()}
    assert (got[1]["phone"], got[1]["email"]) == ("p3", "e2")
    assert (got[2]["phone"], got[2]["email"]) == ("q1", "f1")


def test_correlated_lookup_detached_sort_feeds_ordered_group(spark):
    """r15 (tightened the same round: these two shapes were refusals
    for a few commits, then the __rn carry closed them): a $sort NOT
    adjacent to the terminal $group — separated by other stages, or
    truncated by $limit — still feeds the group's ordered accumulators
    via the carried rank column."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 30.0), (1, "c", 20.0)],
        "o_ck long, oid string, price double")

    def run(pipeline):
        out = apply_pipeline(cust, [
            {"$lookup": {"from": "o", "localField": "ck",
                         "foreignField": "o_ck",
                         "pipeline": pipeline,
                         "as": "agg"}}], collections={"o": orders})
        return out.collect()[0]["agg"][0]

    # $sort … $addFields … $group: $first/$push honor the sort order
    r = run([{"$sort": {"price": -1}},
             {"$addFields": {"z": 1}},
             {"$group": {"_id": None, "f": {"$first": "$oid"},
                         "p": {"$push": "$oid"}}}])
    assert (r["f"], list(r["p"])) == ("b", ["b", "c", "a"])
    # $sort + $limit + $group: aggregate each document's top-k
    r = run([{"$sort": {"price": -1}},
             {"$limit": 2},
             {"$group": {"_id": None, "f": {"$first": "$oid"},
                         "last": {"$last": "$oid"},
                         "s": {"$sum": "$price"}}}])
    assert (r["f"], r["last"], r["s"]) == ("b", "c", 50.0)
    # even when a projection drops the sort field itself, the carried
    # rank keeps the order
    r = run([{"$sort": {"price": -1}},
             {"$limit": 2},
             {"$project": {"oid": 1, "o_ck": 1}},
             {"$group": {"_id": None, "p": {"$push": "$oid"}}}])
    assert list(r["p"]) == ["b", "c"]
    # absorbed-sort field must survive to the $group input (adjacent
    # $sort form — no window, no carried rank)
    with pytest.raises(ValueError, match="not present at the .group"):
        apply_pipeline(cust, [
            {"$lookup": {"from": "o", "localField": "ck",
                         "foreignField": "o_ck",
                         "pipeline": [
                             {"$project": {"oid": 1, "o_ck": 1}},
                             {"$sort": {"price": -1}},
                             {"$group": {"_id": None,
                                         "f": {"$first": "$oid"}}}],
                         "as": "agg"}}], collections={"o": orders})


def test_rank_family_tie_contract(spark):
    """r15 (closes the r14 'deviation' note as a tested CONTRACT):
    equal sortBy keys resolve deterministically — the output value in
    the walk direction breaks the tie, and null sort keys rank below
    every value (BSON's order), uniformly across
    $top/$bottom/$topN/$bottomN, single and compound keys."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 5, "b"), (1, 3, "c")],
        "k long, s long, v string")

    def group(accs):
        out = apply_pipeline(df, [{"$group": {"_id": "$k", **accs}}])
        return out.collect()[0]

    r = group({"t": {"$top": {"output": "$v", "sortBy": {"s": 1}}},
               "td": {"$top": {"output": "$v", "sortBy": {"s": -1}}},
               "b": {"$bottom": {"output": "$v", "sortBy": {"s": 1}}},
               "tn": {"$topN": {"output": "$v", "sortBy": {"s": 1},
                                "n": 2}},
               "bn": {"$bottomN": {"output": "$v", "sortBy": {"s": 1},
                                   "n": 2}},
               "tc": {"$top": {"output": "$v",
                               "sortBy": {"s": -1, "k": 1}}}})
    assert r["t"] == "c"           # no tie at the asc head
    assert r["td"] == "b"          # desc walk: tie at s=5 -> max output
    assert r["b"] == "b"           # asc tail: tie at s=5 -> max output
    assert list(r["tn"]) == ["c", "a"]   # asc walk: tie -> min output
    assert list(r["bn"]) == ["a", "b"]   # last 2 asc, emitted in order
    # compound path: no single walk direction exists for a mixed-
    # direction key, so the contract is payload-ASCENDING fallthrough
    assert r["tc"] == "a"

    dfn = spark.createDataFrame(
        [(1, 5, "a"), (1, None, "z")], "k long, s long, v string")
    rn = apply_pipeline(dfn, [{"$group": {"_id": "$k",
        "t": {"$top": {"output": "$v", "sortBy": {"s": 1}}},
        "b": {"$bottom": {"output": "$v", "sortBy": {"s": 1}}}}}]
        ).collect()[0]
    assert rn["t"] == "z"          # BSON: null sorts below every value
    assert rn["b"] == "a"


def test_correlated_lookup_mid_sort_skip_limit(spark):
    """r15: MID-pipeline $sort+$skip+$limit in a correlated $lookup —
    per-document top-k-after-offset followed by MORE stages (the form
    the r14 scope guard refused). Lowered to a per-key $documentNumber
    window (join-key partition) + rank filter; the rank rides as the
    internal __rn so the packed array keeps the sort order through
    later row-local stages, then is stripped."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 30.0), (1, "c", 20.0), (1, "d", 5.0),
         (2, "e", 7.0)],
        "o_ck long, oid string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "let": {"k": "$ck"},
                     "pipeline": [
                         {"$match": {"$expr": {"$eq": ["$$k", "$o_ck"]}}},
                         {"$sort": {"price": -1}},
                         {"$skip": 1},
                         {"$limit": 2},
                         {"$addFields": {"half": {"$divide": ["$price",
                                                              2]}}},
                         {"$project": {"oid": 1, "half": 1, "o_ck": 1}}],
                     "as": "s"}}], collections={"o": orders})
    got = {r["ck"]: [(e["oid"], e["half"]) for e in r["s"]]
           for r in out.collect()}
    # per doc: skip the priciest, take next 2, IN SORT ORDER
    assert got[1] == [("c", 10.0), ("a", 5.0)]
    assert got[2] == []            # one match, skipped past
    assert got[3] == []
    # the internal rank column must not leak into packed docs
    assert out.schema["s"].dataType.elementType.fieldNames() == \
        ["oid", "half", "o_ck"]


def test_correlated_lookup_mid_sort_limit_then_group(spark):
    """r15: $sort+$limit immediately before the terminal $group —
    'aggregate each document's top-k'. The rank window prunes to k per
    key and a re-emitted $sort keeps the order adjacent so ordered
    accumulators ($first/$push) absorb it."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 30.0), (1, "c", 20.0), (1, "d", 5.0),
         (2, "e", 7.0)],
        "o_ck long, oid string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [
                         {"$sort": {"price": -1}},
                         {"$limit": 3},
                         {"$group": {"_id": None,
                                     "top3_sum": {"$sum": "$price"},
                                     "best": {"$first": "$oid"},
                                     "ordered": {"$push": "$oid"}}}],
                     "as": "g"}}], collections={"o": orders})
    got = {r["ck"]: [(e["top3_sum"], e["best"], list(e["ordered"]))
                     for e in r["g"]] for r in out.collect()}
    assert got[1] == [(60.0, "b", ["b", "c", "a"])]
    assert got[2] == [(7.0, "e", ["e"])]
    assert got[3] == []


def test_correlated_lookup_mid_order_through_replace_with(spark):
    """r15: the carried sort order survives a $replaceWith root swap
    (internal __ columns ride through, same rule as $project)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 30.0), (1, "c", 20.0), (2, "e", 7.0)],
        "o_ck long, oid string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [
                         {"$sort": {"price": -1}},
                         {"$limit": 2},
                         {"$replaceWith": {"tag": "$oid", "p": "$price",
                                           "o_ck": "$o_ck"}}],
                     "as": "s"}}], collections={"o": orders})
    got = {r["ck"]: [(e["tag"], e["p"]) for e in r["s"]]
           for r in out.collect()}
    assert got[1] == [("b", 30.0), ("c", 20.0)]
    assert got[2] == [("e", 7.0)]
    assert out.schema["s"].dataType.elementType.fieldNames() == \
        ["tag", "p", "o_ck"]


def test_correlated_lookup_mid_limit_without_sort_refused(spark):
    """r15: a mid-pipeline $skip/$limit with NO preceding $sort still
    refuses — Mongo's natural order has no distributed definition."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,)], ["ck"])
    orders = spark.createDataFrame([(1, "a", 10.0)],
                                   "o_ck long, oid string, price double")
    with pytest.raises(ValueError, match="PER OUTER DOCUMENT"):
        apply_pipeline(cust, [
            {"$lookup": {"from": "o", "localField": "ck",
                         "foreignField": "o_ck",
                         "pipeline": [
                             {"$limit": 2},
                             {"$addFields": {"z": 1}}],
                         "as": "s"}}], collections={"o": orders})


def test_correlated_lookup_mid_group(spark):
    """r15: NON-terminal $group in a correlated $lookup sub-pipeline —
    grouped once over (join key, _id) with the key carried as an
    internal __gk column, later stages ($match on aggregates,
    $project) apply per document; a SECOND group composes; the general
    (let-correlated) path works the same."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 5.0)],
                                 ["ck", "lo"])
    orders = spark.createDataFrame(
        [(1, "x", "a", 10.0), (1, "x", "b", 30.0), (1, "y", "c", 20.0),
         (2, "x", "e", 7.0)],
        "o_ck long, cat string, oid string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "let": {"k": "$ck"},
                     "pipeline": [
                         {"$match": {"$expr": {"$eq": ["$$k", "$o_ck"]}}},
                         {"$group": {"_id": "$cat",
                                     "total": {"$sum": "$price"},
                                     "n": {"$sum": 1}}},
                         {"$match": {"total": {"$gte": 20.0}}},
                         {"$project": {"_id": 1, "total": 1}}],
                     "as": "s"}}], collections={"o": orders})
    got = {r["ck"]: sorted((e["_id"], e["total"]) for e in r["s"])
           for r in out.collect()}
    assert got[1] == [("x", 40.0), ("y", 20.0)]
    assert got[2] == []                      # 7.0 filtered out
    assert got[3] == []
    assert out.schema["s"].dataType.elementType.fieldNames() == \
        ["_id", "total"]                     # no __gk leak

    # group-of-group: count how many categories exceed the threshold
    out2 = apply_pipeline(cust, [
        {"$lookup": {"from": "o",
                     "let": {"k": "$ck", "minp": "$lo"},
                     "pipeline": [
                         {"$match": {"$expr": {"$and": [
                             {"$eq": ["$$k", "$o_ck"]},
                             {"$gt": ["$price", "$$minp"]}]}}},
                         {"$group": {"_id": "$cat",
                                     "total": {"$sum": "$price"}}},
                         {"$match": {"total": {"$gte": 20.0}}},
                         {"$group": {"_id": None,
                                     "cats": {"$sum": 1}}}],
                     "as": "s"}}], collections={"o": orders})
    got2 = {r["ck"]: [e["cats"] for e in r["s"]] for r in out2.collect()}
    assert got2[1] == [2] and got2[2] == [] and got2[3] == []


def test_correlated_lookup_group_then_terminal_sort_limit(spark):
    """r15: [$group, $sort, $limit] in a $lookup — order and slice the
    GROUP OUTPUT docs per document ('top-k groups'); the r14 refusal
    is gone. The terminal suffix sorts the packed elements."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "x", 10.0), (1, "x", 30.0), (1, "y", 20.0), (2, "x", 7.0)],
        "o_ck long, cat string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [
                         {"$group": {"_id": "$cat",
                                     "total": {"$sum": "$price"}}},
                         {"$sort": {"total": -1, "_id": 1}},
                         {"$limit": 1}],
                     "as": "s"}}], collections={"o": orders})
    got = {r["ck"]: [(e["_id"], e["total"]) for e in r["s"]]
           for r in out.collect()}
    assert got[1] == [("x", 40.0)]
    assert got[2] == [("x", 7.0)]
    assert got[3] == []


def test_correlated_lookup_mid_sugar_stages(spark):
    """r15: mid-pipeline $sortByCount / $count / $bucket rewrite to
    their $group(+$sort) forms and scope per document."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "x", 10.0), (1, "x", 30.0), (1, "y", 20.0), (2, "x", 7.0)],
        "o_ck long, cat string, price double")
    # mid $sortByCount -> top category; mid $count over its output
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [
                         {"$sortByCount": "$cat"},
                         {"$limit": 1},
                         {"$count": "top1"}],
                     "as": "s"}}], collections={"o": orders})
    got = {r["ck"]: [e["top1"] for e in r["s"]] for r in out.collect()}
    assert got[1] == [1] and got[2] == [1] and got[3] == []
    # mid $bucket histogram then filter non-empty buckets
    out2 = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [
                         {"$bucket": {"groupBy": "$price",
                                      "boundaries": [0, 15, 100],
                                      "default": -1}},
                         {"$match": {"count": {"$gte": 2}}}],
                     "as": "s"}}], collections={"o": orders})
    got2 = {r["ck"]: [(e["_id"], e["count"]) for e in r["s"]]
            for r in out2.collect()}
    assert got2[1] == [(15, 2)]              # 30.0 and 20.0
    assert got2[2] == [] and got2[3] == []


def test_correlated_lookup_sort_then_mid_group_absorbs_rank(spark):
    """r15: a lowered mid-pipeline $sort's __rn rank feeds a FOLLOWING
    (non-adjacent-to-terminal) $group's ordered accumulators — Mongo's
    '$sort then $group $first' contract holds even when the group is
    itself mid-pipeline."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "x", "a", 10.0), (1, "x", "b", 30.0), (1, "y", "c", 20.0),
         (2, "x", "e", 7.0)],
        "o_ck long, cat string, oid string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [
                         {"$sort": {"price": -1}},
                         {"$group": {"_id": "$cat",
                                     "best": {"$first": "$oid"},
                                     "ordered": {"$push": "$oid"}}},
                         {"$match": {"_id": "x"}}],
                     "as": "s"}}], collections={"o": orders})
    got = {r["ck"]: [(e["_id"], e["best"], list(e["ordered"]))
                     for e in r["s"]] for r in out.collect()}
    assert got[1] == [("x", "b", ["b", "a"])]
    assert got[2] == [("x", "e", ["e"])]


def test_correlated_lookup_sample(spark):
    """r15: $sample inside a correlated $lookup — n random matches PER
    DOCUMENT via a rand-keyed ranking window over the join-key
    partition (random per run, the top-level $sample convention;
    membership and per-document size are the testable contract)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, f"a{i}", float(i)) for i in range(6)]
        + [(2, "b0", 1.0)],
        "o_ck long, oid string, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$sample": {"size": 2}},
                                  {"$project": {"oid": 1, "o_ck": 1}}],
                     "as": "s"}}], collections={"o": orders})
    got = {r["ck"]: [e["oid"] for e in r["s"]] for r in out.collect()}
    assert len(got[1]) == 2 and len(set(got[1])) == 2
    assert set(got[1]) <= {f"a{i}" for i in range(6)}
    assert got[2] == ["b0"]          # n > matched -> all matches
    assert got[3] == []
    # $sample feeding a $group: 'aggregate a random subset per doc'
    out2 = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$sample": {"size": 3}},
                                  {"$group": {"_id": None,
                                              "n": {"$sum": 1}}}],
                     "as": "s"}}], collections={"o": orders})
    got2 = {r["ck"]: [e["n"] for e in r["s"]] for r in out2.collect()}
    assert got2[1] == [3] and got2[2] == [1] and got2[3] == []
    with pytest.raises(ValueError, match="non-negative"):
        apply_pipeline(cust, [
            {"$lookup": {"from": "o", "localField": "ck",
                         "foreignField": "o_ck",
                         "pipeline": [{"$sample": {"size": -1}}],
                         "as": "s"}}], collections={"o": orders})


def test_correlated_lookup_bucket_auto(spark):
    """r15: $bucketAuto inside a correlated $lookup — per-document
    ~equal-population buckets via ONE join-key-partitioned $percentile
    window + branch-free clamp assignment. Duplicate boundaries merge
    (fewer buckets); a single-distinct-value key collapses to one
    {min: v, max: v} bucket; empty match sets pack []; mid-position
    composes with later stages; an unknown granularity series
    refuses."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, float(v)) for v in [1, 2, 3, 4, 5, 6]] + [(2, 9.0)],
        "o_ck long, price double")

    def run(pipeline):
        out = apply_pipeline(cust, [
            {"$lookup": {"from": "o", "localField": "ck",
                         "foreignField": "o_ck", "pipeline": pipeline,
                         "as": "s"}}], collections={"o": orders})
        return {r["ck"]: r["s"] for r in out.collect()}

    got = run([{"$bucketAuto": {"groupBy": "$price", "buckets": 3}}])
    b1 = sorted((e["_id"]["min"], e["_id"]["max"], e["count"])
                for e in got[1])
    assert [round(x, 6) for t in b1 for x in t] == [
        1.0, 2.666667, 2, 2.666667, 4.333333, 2, 4.333333, 6.0, 2]
    assert [(e["_id"]["min"], e["_id"]["max"], e["count"])
            for e in got[2]] == [(9.0, 9.0, 1)]    # single value, 1 bucket
    assert got[3] == []
    # custom output accumulators + mid-position composition
    got2 = run([{"$bucketAuto": {"groupBy": "$price", "buckets": 2,
                                 "output": {"tot": {"$sum": "$price"},
                                            "n": {"$sum": 1}}}},
                {"$match": {"n": {"$gte": 3}}}])
    assert sorted((e["n"], e["tot"]) for e in got2[1]) == [(3, 6.0),
                                                           (3, 15.0)]
    assert got2[2] == []                   # single match: n=1 filtered
    with pytest.raises(ValueError, match="granularity"):
        run([{"$bucketAuto": {"groupBy": "$price", "buckets": 2,
                              "granularity": "R999"}}])
    with pytest.raises(ValueError, match="buckets"):
        run([{"$bucketAuto": {"groupBy": "$price"}}])


def test_lookup_bucket_auto_granularity(spark):
    """r16: $bucketAuto granularity INSIDE a correlated $lookup — the
    per-key percentile boundary array snaps to the preferred-number
    series via a column expression ($__granSnap, the exact image of
    the top-level driver-side rounder): min rounds DOWN, interior
    boundaries and max round UP, _id bounds are the series values.
    R5, E12 and POWERSOF2 series checked; negative values raise at
    runtime."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, float(v)) for v in [1, 2, 3, 4, 5, 6]] + [(2, 9.0)],
        "o_ck long, price double")

    def run(gran):
        out = apply_pipeline(cust, [
            {"$lookup": {"from": "o", "localField": "ck",
                         "foreignField": "o_ck",
                         "pipeline": [{"$bucketAuto": {
                             "groupBy": "$price", "buckets": 2,
                             "granularity": gran}}],
                         "as": "s"}}], collections={"o": orders})
        return {r["ck"]: sorted(
            (round(e["_id"]["min"], 9), round(e["_id"]["max"], 9),
             e["count"]) for e in r["s"]) for r in out.collect()}

    # prices 1..6, buckets 2: interior boundary = median 3.5
    assert run("R5")[1] == [(0.63, 4.0, 3), (4.0, 6.3, 3)]
    assert run("E12")[1] == [(0.82, 3.9, 3), (3.9, 6.8, 3)]
    assert run("POWERSOF2")[1] == [(0.5, 4.0, 3), (4.0, 8.0, 3)]
    # single-value key: one bucket [down(9), up(9))
    assert run("R5")[2] == [(6.3, 10.0, 1)]
    # in-lookup snap == the top-level driver-side snap on the same data
    top = apply_pipeline(
        orders.filter("o_ck = 1"),
        [{"$bucketAuto": {"groupBy": "$price", "buckets": 2,
                          "granularity": "R5"}}])
    assert sorted((round(r["_id"]["min"], 9), round(r["_id"]["max"], 9),
                   r["count"]) for r in top.collect()) == run("R5")[1]
    # negative values: runtime raise (top-level raises at plan time)
    neg = spark.createDataFrame([(1, -2.0)], "o_ck long, price double")
    bad = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$bucketAuto": {
                         "groupBy": "$price", "buckets": 2,
                         "granularity": "R5"}}],
                     "as": "s"}}], collections={"o": neg})
    with pytest.raises(Exception, match="non-negative"):
        bad.collect()


def test_min_max_expression_operators(spark):
    """r15: $min/$max EXPRESSION forms (distinct from the $group
    accumulators) — operand lists compare element-wise with nulls
    ignored (all-null -> null), a single array operand reduces over
    the array."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [(1, 5, None, [3, 9, 1]), (2, None, None, [])],
        "i long, a long, b long, arr array<long>")
    out = apply_pipeline(df, [{"$addFields": {
        "mn": {"$min": ["$a", "$b", 4]},
        "mx": {"$max": ["$a", "$b", 4]},
        "alln": {"$min": ["$b", "$b"]},
        "amn": {"$min": "$arr"},
        "amx": {"$max": "$arr"},
    }}])
    rows = {r["i"]: r for r in out.collect()}
    assert (rows[1]["mn"], rows[1]["mx"]) == (4, 5)
    assert (rows[2]["mn"], rows[2]["mx"]) == (4, 4)   # nulls ignored
    assert rows[1]["alln"] is None
    assert (rows[1]["amn"], rows[1]["amx"]) == (1, 9)
    assert rows[2]["amn"] is None and rows[2]["amx"] is None


def test_min_max_singleton_rule(spark):
    """r16 (ADVICE): $min/$max with a SINGLE non-array operand is
    Mongo's singleton-set rule — the value itself. Statically-knowable
    scalars (literals, $literal, non-$ strings) compile directly; a
    field-path/operator singleton that resolves to a scalar surfaces
    as the translator's ValueError (not a raw AnalysisException)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame([(1, 5, [3, 9])],
                               "i long, a long, arr array<long>")
    out = apply_pipeline(df, [{"$addFields": {
        "lit1": {"$min": 7},
        "lit2": {"$max": [7]},
        "lits": {"$min": "abc"},
        "litl": {"$max": {"$literal": 3}},
        "amn": {"$min": ["$arr"]},          # array singleton reduces
    }}]).collect()[0]
    assert (out["lit1"], out["lit2"], out["lits"], out["litl"]) == \
        (7, 7, "abc", 3)
    assert out["amn"] == 3
    # field path resolving to a scalar: translator ValueError, with
    # guidance, never the raw analysis error
    with pytest.raises(ValueError, match="singleton"):
        apply_pipeline(df, [{"$addFields": {"x": {"$min": "$a"}}}])
    with pytest.raises(ValueError, match="singleton"):
        apply_pipeline(df, [{"$addFields": {
            "x": {"$max": {"$add": ["$a", 1]}}}}])


def test_sum_avg_expression_forms(spark):
    """r17: $sum/$avg as EXPRESSION operators (Mongo's array/list
    forms, distinct from the accumulators): a single array operand
    reduces over it with nulls dropped (the accumulator zero derives
    from the element type, so long arrays sum as longs — no double
    detour); empty/all-null → $sum 0, $avg null; an operand LIST
    adds/averages values with nulls ignored; non-numeric statically-
    knowable singletons follow Mongo ($sum → 0, $avg → null); a
    field-path singleton resolving to a scalar surfaces as the
    structured singleton-rule ValueError."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame(
        [([1, None, 3], 2.0, None), ([], 5.0, 4.0), (None, None, None)],
        "arr array<long>, a double, b double")
    rows = apply_pipeline(df, [{"$project": {
        "s": {"$sum": "$arr"}, "av": {"$avg": "$arr"},
        "ls": {"$sum": ["$a", "$b", 1]}, "la": {"$avg": ["$a", "$b"]},
        "lit": {"$sum": 7}, "nonnum": {"$sum": "x"},
        "alit": {"$avg": 3}}}]).collect()
    assert sorted([tuple(r) for r in rows], key=str) == sorted([
        (4, 2.0, 3.0, 2.0, 7, 0, 3),     # 1+3; avg(1,3); 2+null+1
        (0, None, 10.0, 4.5, 7, 0, 3),   # empty array
        (0, None, 1.0, None, 7, 0, 3),   # null array, all-null list
    ], key=str)
    # long array sums stay LONG (no double detour)
    schema = apply_pipeline(df, [{"$project": {"s": {"$sum": "$arr"}}}])
    assert schema.schema["s"].dataType.simpleString() == "bigint"
    # scalar field-path singleton: structured ValueError, with guidance
    with pytest.raises(ValueError, match="singleton"):
        apply_pipeline(df, [{"$addFields": {"x": {"$sum": "$a"}}}])


def test_project_reserved_internal_namespace(spark):
    """r16 (ADVICE): a user $project naming a __-prefixed field would
    collide with the translator's internal scratch namespace (the
    extend-after-include rule would emit the column twice) — refused
    up front."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    df = spark.createDataFrame([(1, 2)], "a long, __x long")
    with pytest.raises(ValueError, match="reserved"):
        apply_pipeline(df, [{"$project": {"a": 1, "__x": 1}}])
    with pytest.raises(ValueError, match="reserved"):
        apply_pipeline(df, [{"$project": {"__y": "$a"}}])


def test_lookup_terminal_sortbycount_slice(spark):
    """r16 (ADVICE): terminal $sortByCount followed by $skip/$limit —
    'top-k categories per document'. The sugar's output order is
    pinned (count desc, _id asc), so the suffix slices the packed
    array deterministically instead of refusing."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,), (3,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, "x"), (1, "x"), (1, "y"), (1, "z"), (1, "z"), (1, "z"),
         (2, "q")],
        "o_ck long, cat string")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$sortByCount": "$cat"},
                                  {"$limit": 2}],
                     "as": "s"}}], collections={"o": orders})
    got = {r["ck"]: [(e["_id"], e["count"]) for e in r["s"]]
           for r in out.collect()}
    assert got[1] == [("z", 3), ("x", 2)]
    assert got[2] == [("q", 1)]
    assert got[3] == []
    # $skip composes in pipeline order ($skip, then $limit)
    out2 = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$sortByCount": "$cat"},
                                  {"$skip": 1}, {"$limit": 1}],
                     "as": "s"}}], collections={"o": orders})
    got2 = {r["ck"]: [(e["_id"], e["count"]) for e in r["s"]]
            for r in out2.collect()}
    assert got2[1] == [("x", 2)] and got2[2] == [] and got2[3] == []


def test_lookup_terminal_bucket_auto_slice(spark):
    """r16 (ADVICE): terminal $bucketAuto + $limit — 'first-k buckets
    per document', sliced in ascending bound order."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,), (2,)], ["ck"])
    orders = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (1, 3.0), (1, 4.0), (2, 5.0)],
        "o_ck long, price double")
    out = apply_pipeline(cust, [
        {"$lookup": {"from": "o", "localField": "ck",
                     "foreignField": "o_ck",
                     "pipeline": [{"$bucketAuto": {"groupBy": "$price",
                                                   "buckets": 2}},
                                  {"$limit": 1}],
                     "as": "s"}}], collections={"o": orders})
    got = {r["ck"]: [(e["_id"]["min"], e["_id"]["max"], e["count"])
                     for e in r["s"]] for r in out.collect()}
    assert got[1] == [(1.0, 2.5, 2)]         # first of two buckets
    assert got[2] == [(5.0, 5.0, 1)]         # single-value key: one bucket


def test_lookup_limit_must_be_positive(spark):
    """r16 (ADVICE): $limit < 1 in a $lookup sub-pipeline raises the
    translator's ValueError (Mongo: 'the limit must be positive') —
    terminal and mid-pipeline forms both validate."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(1,)], ["ck"])
    orders = spark.createDataFrame([(1, 2.0)], "o_ck long, price double")

    def run(sub):
        return apply_pipeline(cust, [
            {"$lookup": {"from": "o", "localField": "ck",
                         "foreignField": "o_ck", "pipeline": sub,
                         "as": "s"}}], collections={"o": orders})

    with pytest.raises(ValueError, match="positive"):
        run([{"$sort": {"price": 1}}, {"$limit": 0}])
    with pytest.raises(ValueError, match="positive"):
        run([{"$sort": {"price": 1}}, {"$limit": -2},
             {"$project": {"price": 1}}])


def test_lookup_bucket_auto_granularity_plan_parity(spark):
    """r16 plan gate: granularity inside the $lookup $bucketAuto
    lowering is a pure column expression over the per-key boundary
    array — the plan must keep EXACTLY the granularity-less shape
    (same hash-exchange count, no global sort, no Python eval); a
    regression to per-key driver-side snapping or an extra shuffle
    would show here."""
    import re

    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import apply_pipeline

    cust = spark.createDataFrame([(i,) for i in range(20)], ["ck"])
    orders = spark.createDataFrame(
        [(i % 20, float(i % 7 + 1)) for i in range(200)],
        "o_ck long, price double")

    def plan(gran):
        spec = {"groupBy": "$price", "buckets": 3,
                **({"granularity": gran} if gran else {})}
        out = apply_pipeline(cust, [
            {"$lookup": {"from": "o", "localField": "ck",
                         "foreignField": "o_ck",
                         "pipeline": [{"$bucketAuto": spec}],
                         "as": "s"}}], collections={"o": orders})
        p = out._jdf.queryExecution().executedPlan().toString()
        return p.split("== Initial Plan ==")[0]

    base, gran = plan(None), plan("R5")
    n_ex = len(re.findall(r"Exchange hashpartitioning", base))
    assert len(re.findall(r"Exchange hashpartitioning", gran)) == n_ex, gran
    assert not re.search(r"\bSort \[[^\]]*\], true", gran), gran
    assert "BatchEvalPython" not in gran and "ArrowEval" not in gran


def test_top_level_limit_skip_validation(spark):
    """r16: top-level $limit < 1 / $skip < 0 raise the translator's
    ValueError (Mongo's own rules), matching the $lookup sub-pipeline
    validation."""
    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(ValueError, match="positive"):
        apply_pipeline(df, [{"$limit": 0}])
    with pytest.raises(ValueError, match="non-negative"):
        apply_pipeline(df, [{"$skip": -1}])
    assert apply_pipeline(df, [{"$skip": 0}, {"$limit": 1}]).count() == 1


def test_lookup_array_local_field_lowered(spark):
    """r17: an ARRAY localField (Mongo's any-element match) lowers to
    explode(_id, element) → equi-join → collect_SET re-pack by _id —
    the refusal narrowed to frames WITHOUT an _id to regroup on.
    Semantics: any-element match; a foreign doc matching several
    elements appears ONCE; empty/null arrays and no-match rows get [];
    null elements never match (the scalar path's null contract); pack
    order pinned by sort_array; the outer frame never fans out."""
    left = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["b", "b", "z"]), (3, []), (4, None),
         (5, [None, "c"])],
        "_id long, tags array<string>")
    right = spark.createDataFrame(
        [("a", 10), ("a", 11), ("b", 20), ("c", 30), (None, 40)],
        "tag string, w long")
    out = apply_pipeline(left, [
        {"$lookup": {"from": "t", "localField": "tags",
                     "foreignField": "tag", "as": "m"}}],
        collections={"t": right})
    got = {r._id: sorted((x.tag, x.w) for x in r.m)
           for r in out.collect()}
    assert got == {
        1: [("a", 10), ("a", 11), ("b", 20)],  # dup-ff docs both match
        2: [("b", 20)],                        # repeated element → once
        3: [],                                 # empty array
        4: [],                                 # null/missing array
        5: [("c", 30)],                        # null element ignored
    }
    # outer multiplicity preserved: 5 rows in, 5 rows out
    assert out.count() == 5
    # the _id-less frame still gets the guided refusal
    with pytest.raises(ValueError, match="unwind"):
        apply_pipeline(left.withColumnRenamed("_id", "i"), [
            {"$lookup": {"from": "t", "localField": "tags",
                         "foreignField": "tag", "as": "m"}}],
            collections={"t": right})


def test_vector_search_exact_enn(spark):
    """$vectorSearch exact:true — full-scan ENN through the translator
    (r17; was a by-design refusal): Atlas's (1+cos)/2 score convention,
    top-limit with _id tie-break, MQL pre-filter, null / wrong-dim
    vectors skipped like unindexed docs, {$meta: "vectorSearchScore"}
    readable downstream, the internal __vs_score column never in the
    output, and the physical plan a TakeOrdered with no join and no
    global Sort."""
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [0.0, 1.0], "a"),
        (3, [1.0, 1.0], "a"),
        (4, [-1.0, 0.0], "a"),
        (5, None, "a"),                # null vector: not indexed
        (6, [1.0, 0.0, 0.0], "a"),     # wrong dim: not indexed
        (7, [1.0, 0.1], "b"),          # pre-filter removes
    ]
    df = spark.createDataFrame(rows, "_id int, v array<double>, tag string")
    out = apply_pipeline(df, [
        {"$vectorSearch": {"index": "ignored", "path": "v",
                           "queryVector": [1.0, 0.0], "limit": 3,
                           "exact": True, "filter": {"tag": "a"}}},
        {"$project": {"_id": 1, "score": {"$meta": "vectorSearchScore"}}},
    ])
    assert "__vs_score" not in out.columns
    got = sorted(((r._id, round(r.score, 6)) for r in out.collect()),
                 key=lambda t: (-t[1], t[0]))
    assert got == [(1, 1.0), (3, 0.853553), (2, 0.5)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrdered" in plan, plan
    assert "Join" not in plan, plan

    # _id tie-break: duplicate vectors rank by ascending _id
    dup = spark.createDataFrame(
        [(9, [2.0, 0.0]), (8, [1.0, 0.0]), (1, [3.0, 0.0])],
        "_id int, v array<double>")
    top2 = apply_pipeline(dup, [
        {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                           "limit": 2, "exact": True}}])
    assert sorted(r._id for r in top2.collect()) == [1, 8]
    # score column dropped even when nothing downstream asks for it
    assert top2.columns == ["_id", "v"]

    # $$ROOT never sees the internal score column
    rooted = apply_pipeline(df, [
        {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                           "limit": 1, "exact": True}},
        {"$addFields": {"r": "$$ROOT",
                        "s": {"$meta": "vectorSearchScore"}}},
    ])
    row = rooted.collect()[0]
    assert row.s == 1.0 and row.r._id == 1
    root_fields = rooted.schema["r"].dataType.names
    assert all(not f.startswith("__") for f in root_fields)
    # the score column is dropped right after its last consumer stage
    assert "__vs_score" not in rooted.columns


def test_vector_search_ann_lsh(spark):
    """ANN path (exact omitted): candidates are LSH bucket collisions
    with the DRIVER-computed query buckets — a map-side when-sum, no
    join anywhere in the plan; numCandidates maps to probe breadth
    (ceil(nc/limit) hash tables, capped at 8), so widening it is
    recall-monotone vs the exact ENN truth; every ANN row's score
    equals the exact row's score (re-rank is exact)."""
    import math as m

    n, dim, k = 60, 8, 10
    rows = [(i, [m.sin(0.7 * i + 1.3 * j) for j in range(dim)])
            for i in range(n)]
    df = spark.createDataFrame(rows, "_id int, v array<double>")
    qv = [m.cos(0.9 * j) for j in range(dim)]

    exact = apply_pipeline(df, [
        {"$vectorSearch": {"path": "v", "queryVector": qv,
                           "limit": k, "exact": True}},
        {"$project": {"_id": 1, "s": {"$meta": "vectorSearchScore"}}}])
    truth = {r._id: round(r.s, 9) for r in exact.collect()}
    assert len(truth) == k

    def ann(nc):
        out = apply_pipeline(df, [
            {"$vectorSearch": {"path": "v", "queryVector": qv,
                               "limit": k, "numCandidates": nc}},
            {"$project": {"_id": 1, "s": {"$meta": "vectorSearchScore"}}}])
        return {r._id: round(r.s, 9) for r in out.collect()}

    narrow, wide = ann(k), ann(8 * k)      # 1 table vs all 8
    assert len(narrow) <= k and len(wide) <= k
    # exact re-rank: any id the ANN returns that is also in the truth
    # set carries the identical score
    for got in (narrow, wide):
        for i, s in got.items():
            if i in truth:
                assert s == truth[i]
    recall_n = len(set(narrow) & set(truth)) / k
    recall_w = len(set(wide) & set(truth)) / k
    assert recall_w >= recall_n            # candidate-superset monotonicity
    assert recall_w >= 0.5                 # 8 tables finds most of top-10

    # deterministic across runs (md5-derived planes, no RNG)
    assert ann(8 * k) == wide
    plan_df = apply_pipeline(df, [
        {"$vectorSearch": {"path": "v", "queryVector": qv,
                           "limit": k, "numCandidates": 2 * k}}])
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan, plan
    assert "TakeOrdered" in plan, plan


def test_vector_search_validation(spark):
    """The $vectorSearch contract errors: first-stage-only, literal
    numeric queryVector, limit >= 1, numCandidates required without
    exact and banned with it, numCandidates in [limit, 10000], unknown
    options named, zero query vector refused; $meta outside a
    $vectorSearch pipeline (or with any other arg) stays refused."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql import (
        UnsupportedMongoStage,
    )

    df = spark.createDataFrame([(1, [1.0, 0.0])], "_id int, v array<double>")
    vs = {"path": "v", "queryVector": [1.0, 0.0], "limit": 1,
          "numCandidates": 5}
    with pytest.raises(ValueError, match="first pipeline stage"):
        apply_pipeline(df, [{"$match": {}}, {"$vectorSearch": vs}])
    for bad, msg in [
        ({**vs, "queryVector": "$v"}, "LITERAL numeric"),
        ({**vs, "queryVector": []}, "LITERAL numeric"),
        ({**vs, "limit": 0}, "limit"),
        ({**vs, "limit": True}, "limit"),
        ({"path": "v", "queryVector": [1.0], "limit": 1}, "numCandidates"),
        ({**vs, "exact": True}, "mutually exclusive"),
        ({**vs, "numCandidates": 0}, "numCandidates"),
        ({**vs, "numCandidates": 10001}, "numCandidates"),
        ({**vs, "nearest": 3}, "unknown options"),
        ({**vs, "queryVector": [0.0, 0.0]}, "non-zero"),
        ({**vs, "path": 7}, "path"),
        ({**vs, "exact": "yes"}, "boolean"),
    ]:
        with pytest.raises(ValueError, match=msg):
            apply_pipeline(df, [{"$vectorSearch": bad}])
    with pytest.raises(UnsupportedMongoStage, match="FIRST stage"):
        apply_pipeline(df, [{"$addFields": {
            "s": {"$meta": "vectorSearchScore"}}}])
    with pytest.raises(UnsupportedMongoStage, match="refused by design"):
        apply_pipeline(df, [
            {"$vectorSearch": vs},
            {"$addFields": {"t": {"$meta": "textScore"}}}])


def test_pcre_only_regex_refused(spark):
    """Known PCRE-only constructs are refused at TRANSLATION time with
    the divergence named (ADVICE r17) — never the JVM's opaque
    PatternSyntaxException mid-query; benign look-alikes (inline
    flags, named groups/backrefs, escaped \\K, class literals,
    possessive quantifiers) still compile and run."""
    df = spark.createDataFrame([("abc",)], "s string")
    for pat in [r"foo\Kbar", "(?R)", "a(?1)b", "(?&name)x", "(?P>grp)",
                "(?C1)a", "(?|a|b)", "(*SKIP)a", "x(*FAIL)",
                r"[\K]"]:
        with pytest.raises(ValueError, match="PCRE-only"):
            apply_pipeline(df, [{"$match": {"s": {"$regex": pat}}}])
    with pytest.raises(ValueError, match="PCRE-only"):
        apply_pipeline(df, [{"$addFields": {"m": {"$regexMatch": {
            "input": "$s", "regex": "x\\Ky"}}}}])
    with pytest.raises(ValueError, match="PCRE-only"):
        apply_pipeline(df, [{"$addFields": {"m": {"$regexFind": {
            "input": "$s", "regex": "(?|a)(b)"}}}}])
    with pytest.raises(ValueError, match="PCRE-only"):
        apply_pipeline(df, [{"$addFields": {"m": {"$regexFindAll": {
            "input": "$s", "regex": "(*PRUNE)z"}}}}])
    ok = apply_pipeline(df, [{"$addFields": {
        "a": {"$regexMatch": {"input": "$s", "regex": "(?i)AB"}},
        "b": {"$regexMatch": {"input": "$s", "regex": r"(?<g>a)\k<g>"}},
        "c": {"$regexMatch": {"input": "$s", "regex": r"\\K"}},
        "d": {"$regexMatch": {"input": "$s", "regex": "[(*F)]"}},
        "e": {"$regexMatch": {"input": "$s", "regex": "ab*+c?"}},
    }}])
    r = ok.collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e) == (True, False, False, False, True)


def test_swf_partitionless_mid_frames_distributed(spark):
    """FINITE documents frames in partition-less $setWindowFields
    distribute via the r17 halo-stream lowering: every output is
    value-identical to the single-window reference (constant
    partitionBy) over nulls, ascending AND descending sorts, frames
    entirely ahead/behind, [0,0], and frames WIDER than any bucket
    (multi-bucket spans — the flattened neighbour stream's prefix
    equals the true row stream by induction); no whole-collection
    warning fires, and no data window runs on a single partition."""
    import random
    import re
    import warnings

    from pyspark.sql import functions as SF

    random.seed(23)
    rows = [(i, random.randint(0, 9) if random.random() > 0.25 else None)
            for i in range(160)]
    df = spark.createDataFrame(rows, "k int, v int")
    spec_out = {
        "ma": {"$avg": "$v", "window": {"documents": [-3, 2]}},
        "ms": {"$sum": "$v", "window": {"documents": [-5, -1]}},
        "mn": {"$min": "$v", "window": {"documents": [1, 4]}},
        "mx": {"$max": "$v", "window": {"documents": [-2, "current"]}},
        "mc": {"$count": {}, "window": {"documents": [-40, 40]}},
        "cc": {"$sum": "$v", "window": {"documents": ["current", 0]}},
        "rk": {"$rank": {}},           # modes compose in one spec
        "run": {"$sum": "$v",
                "window": {"documents": ["unbounded", "current"]}},
        # half-open frames containing the current row ("pre"/"suf")
        "pre": {"$avg": "$v", "window": {"documents": ["unbounded", 3]}},
        "prw": {"$min": "$v", "window": {"documents": ["unbounded", 60]}},
        "suf": {"$max": "$v", "window": {"documents": [-2, "unbounded"]}},
        "sfw": {"$sum": "$v", "window": {"documents": [-70, "unbounded"]}},
        "sfc": {"$count": {},
                "window": {"documents": ["current", "unbounded"]}},
    }
    cols = list(spec_out)
    for d in (1, -1):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            got = apply_pipeline(df, [{"$setWindowFields": {
                "sortBy": {"k": d}, "output": dict(spec_out)}}])
            g = {r.k: tuple(r[c] for c in cols) for r in got.collect()}
        ref = apply_pipeline(
            df.withColumn("c0", SF.lit(1)), [{"$setWindowFields": {
                "partitionBy": "$c0", "sortBy": {"k": d},
                "output": dict(spec_out)}}])
        rr = {r.k: tuple(r[c] for c in cols) for r in ref.collect()}
        assert g == rr, [x for x in rr if g[x] != rr[x]][:3]
    plan = got._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    nonbucket = [s for s in specs
                 if "__swfb" not in s and "__swfcnt" not in s]
    assert specs and not nonbucket, nonbucket
    # half-open frames EXCLUDING the current row (prefix-minus-tail:
    # not decomposable for min/max) stay on the warned fallback
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        apply_pipeline(df, [{"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"t": {"$sum": "$v",
                             "window": {"documents": ["unbounded", -2]}
                             }}}}]).collect()
    assert any("ONE task" in str(x.message) for x in w)


def test_swf_partitionless_string_key(spark):
    """STRING leading sort keys range-bucket via the r17 6-byte-prefix
    image (monotone non-strict under Spark's bytewise comparison) —
    the whole distributed partition-less family works over them,
    value-identical to the single window: rank/denseRank over heavy
    tie groups (all equal strings share one image → one bucket), a
    running sum, a mid frame, a half-open frame and $shift on a
    compound (string, unique) sort; $fill locf on the same key; binary
    keys keep the warned fallback."""
    import random
    import string as st
    import warnings

    from pyspark.sql import functions as SF

    random.seed(47)
    rows = [("".join(random.choices(st.ascii_lowercase,
                                    k=random.randint(0, 9)))
             if random.random() > 0.1 else None,
             random.randint(0, 99) if random.random() > 0.3 else None, i)
            for i in range(180)]
    df = spark.createDataFrame(rows, "s string, v int, uid int")
    spec_out = {
        "run": {"$sum": "$v",
                "window": {"documents": ["unbounded", "current"]}},
        "ma": {"$avg": "$v", "window": {"documents": [-4, 4]}},
        "pre": {"$min": "$v", "window": {"documents": ["unbounded", 5]}},
        "sh": {"$shift": {"output": "$v", "by": 2, "default": -1}},
    }
    cols = list(spec_out)
    for d in (1, -1):
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            got = apply_pipeline(df, [{"$setWindowFields": {
                "sortBy": {"s": d, "uid": 1},
                "output": dict(spec_out)}}])
            g = {r.uid: tuple(r[c] for c in cols) for r in got.collect()}
        ref = apply_pipeline(
            df.withColumn("c0", SF.lit(1)), [{"$setWindowFields": {
                "partitionBy": "$c0", "sortBy": {"s": d, "uid": 1},
                "output": dict(spec_out)}}])
        rr = {r.uid: tuple(r[c] for c in cols) for r in ref.collect()}

        def close(a, b):
            if a is None or b is None:
                return a == b
            if isinstance(a, float):
                return abs(a - b) < 1e-9
            return a == b
        bad = [k for k in rr
               if not all(close(x, y) for x, y in zip(g[k], rr[k]))]
        assert not bad, [(k, g[k], rr[k]) for k in bad[:3]]

    # rank over the bare tie-heavy string key (ties never straddle the
    # merged-image buckets; carries add preceding ROW/DISTINCT counts)
    short = df.withColumn("s", SF.substring("s", 1, 1))
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        rk = apply_pipeline(short, [{"$setWindowFields": {
            "sortBy": {"s": 1},
            "output": {"rk": {"$rank": {}}, "dk": {"$denseRank": {}}}}}])
        gr = {r.uid: (r.rk, r.dk) for r in rk.collect()}
    ref = apply_pipeline(
        short.withColumn("c0", SF.lit(1)), [{"$setWindowFields": {
            "partitionBy": "$c0", "sortBy": {"s": 1},
            "output": {"rk": {"$rank": {}}, "dk": {"$denseRank": {}}}}}])
    assert gr == {r.uid: (r.rk, r.dk) for r in ref.collect()}

    # $fill locf rides the same string buckets, warning-free
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        gf = apply_pipeline(df, [{"$fill": {
            "sortBy": {"s": 1, "uid": 1},
            "output": {"v": {"method": "locf"}}}}])
        gf.collect()


def test_swf_partitionless_first_last_distributed(spark):
    """$first/$last distribute over the whole partition-less frame
    family (late r17): closed-start $first is the global first
    document's value via the first bucket's struct-wrapped carry (a
    NULL first value survives and stays distinguishable from "no
    preceding bucket" — the fixture pins v=NULL at the global first
    row); finite reaches index the halo streams with size-guarded
    element_at; run-$last is the current row. Value-identical to the
    single window in both sort directions; no whole-collection
    warning."""
    import random
    import warnings

    from pyspark.sql import functions as SF

    random.seed(59)
    rows = [(i, None if i == 0 or random.random() < 0.3
             else random.randint(0, 9)) for i in range(160)]
    df = spark.createDataFrame(rows, "k int, v int")
    spec_out = {
        "fw": {"$first": "$v"},
        "lw": {"$last": "$v"},
        "fr": {"$first": "$v",
               "window": {"documents": ["unbounded", "current"]}},
        "lr": {"$last": "$v",
               "window": {"documents": ["unbounded", "current"]}},
        "fm": {"$first": "$v", "window": {"documents": [-3, 2]}},
        "lm": {"$last": "$v", "window": {"documents": [-3, 2]}},
        "fa": {"$first": "$v", "window": {"documents": [2, 5]}},
        "lb": {"$last": "$v", "window": {"documents": [-6, -2]}},
        "fp": {"$first": "$v", "window": {"documents": ["unbounded", 3]}},
        "lp": {"$last": "$v", "window": {"documents": ["unbounded", 3]}},
        "fs": {"$first": "$v", "window": {"documents": [-3, "unbounded"]}},
        "ls": {"$last": "$v", "window": {"documents": [-3, "unbounded"]}},
        "f0": {"$first": "$v", "window": {"documents": [0, 0]}},
        "sumx": {"$sum": "$v", "window": {"documents": [-2, 2]}},
    }
    cols = list(spec_out)
    for d in (1, -1):
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            got = apply_pipeline(df, [{"$setWindowFields": {
                "sortBy": {"k": d}, "output": dict(spec_out)}}])
            g = {r.k: tuple(r[c] for c in cols) for r in got.collect()}
        ref = apply_pipeline(
            df.withColumn("c0", SF.lit(1)), [{"$setWindowFields": {
                "partitionBy": "$c0", "sortBy": {"k": d},
                "output": dict(spec_out)}}])
        rr = {r.k: tuple(r[c] for c in cols) for r in ref.collect()}
        bad = [k for k in rr if g[k] != rr[k]]
        assert not bad, [(k, g[k], rr[k]) for k in bad[:3]]
