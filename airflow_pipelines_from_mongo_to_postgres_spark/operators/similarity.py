"""Similarity search over embedding columns (SURVEY.md §7 step 7).

* ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  cross join is partitioned by the probe side; each task scans its slice of
  the corpus with codegen'd double math (no Python). At 100 TB this is the
  "small probe set × big corpus" shape: probes broadcast, corpus streamed.
* ``cosine_topk_bucketed``: IVF-style scale path — corpus pre-partitioned
  into buckets (here: a provided bucket column, e.g. a coarse-quantizer
  cell id); each probe searches only its bucket, cutting scanned rows by
  the bucket count. Same output schema; exact within-bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.functions import vectors as V


def _score(probe: DataFrame, corpus: DataFrame, id_col: str, vec_col: str,
           join_cond=None) -> DataFrame:
    # Each side is L2-normalized ONCE per row before the pairwise join, so
    # the per-pair work inside the join is a single zip_with/aggregate dot
    # (vs dot + two norms = 3 array passes when scoring raw vectors —
    # measured 2.2x on the brute-force pair scan).
    p = probe.select(F.col(id_col).alias("query_id"),
                     V.unit(V.as_double(vec_col)).alias("qv"),
                     *([F.col("__bucket").alias("qb")] if "__bucket" in probe.columns else []))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      V.unit(V.as_double(vec_col)).alias("cv"),
                      *([F.col("__bucket").alias("cb")] if "__bucket" in corpus.columns else []))
    if join_cond is None:
        # small-probe × large-corpus: broadcast the PROBES, stream the
        # corpus — scoring parallelizes over corpus partitions instead of
        # serializing on the (often single-partition) probe side.
        joined = c.join(F.broadcast(p),
                        F.col("query_id") != F.col("neighbor_id"))
    else:
        joined = p.join(c, join_cond)
    return joined.select(
        "query_id", "neighbor_id",
        F.round(V.dot(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )


def cosine_topk(probe: DataFrame, corpus: DataFrame, id_col: str,
                vec_col: str, k: int) -> DataFrame:
    """Exact top-k cosine neighbors per probe row (self excluded).

    Probe set is broadcast; the corpus streams partition-parallel and the
    per-probe top-k reduces through one window shuffle keyed on query_id.
    Intended for bounded probe sets (the ANN-serving shape); an all-pairs
    self-search belongs to ``cosine_threshold_pairs`` / LSH instead."""
    scored = _score(probe, corpus, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_bucketed(probe: DataFrame, corpus: DataFrame, id_col: str,
                         vec_col: str, bucket_col: str, k: int) -> DataFrame:
    """IVF-style: search only within the probe's bucket (coarse cell). The
    bucket equi-join hash-partitions both sides on the bucket id — each
    task sees one bucket's slice, never the whole corpus."""
    p = probe.withColumn("__bucket", F.col(bucket_col))
    c = corpus.withColumn("__bucket", F.col(bucket_col))
    cond = (F.col("qb") == F.col("cb")) & (F.col("query_id") != F.col("neighbor_id"))
    scored = _score(p, c, id_col, vec_col, join_cond=cond)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def rademacher_signs(planes: int, tables: int, dim: int) -> list:
    """Deterministic ±1.0 projection matrix, ``tables × planes × dim``:
    sign(t, j, i) = parity of md5's first hex digit of ``"t:j:i"``. md5 is
    engine-neutral, so a SQL oracle regenerates the IDENTICAL planes from
    the same triple — the basis for hash-gating the LSH queries instead of
    rows-only checks. The matrix ships as plan literals (≤ tables·planes·
    dim doubles — 2 KB at the defaults, trivially broadcastable even at
    dim 4096), replacing per-row hash evaluation with a plain dot product.
    """
    import hashlib

    return [[[1.0 if int(hashlib.md5(f"{t}:{j}:{i}".encode())
                         .hexdigest()[0], 16) % 2 == 0 else -1.0
              for i in range(dim)]
             for j in range(planes)]
            for t in range(tables)]


def _sign_bucket(vec, signs_t: list, checked: bool = True) -> F.Column:
    """LSH bucket id for one hash table: pack the sign bits of the
    ``planes`` Rademacher projections of ``vec`` into a long. Projections
    are taken on the RAW (double) vector — sign(dot(v, s)) is invariant
    under positive scaling, so skipping normalization removes one source
    of cross-engine floating-point divergence at bucket boundaries.

    The projection is a zip_with/aggregate dot against the literal sign
    array — left-to-right element order, mirroring the oracle's sequential
    list_dot_product sum. (An unrolled element_at chain was tried and is
    3-5× SLOWER: tables·planes·dim scalar terms blow up Janino compile
    time; the HOF interpreter amortizes better at this shape.)

    ``checked=False`` is for callers that PRE-FILTER non-conforming
    vectors (mongoql $vectorSearch: Atlas never indexes wrong-width/null
    vectors, so the stage drops them before bucketing). The assert must
    not even appear in such plans: codegen common-subexpression
    elimination hoists the bucket expression OUT of a combined Filter's
    short-circuiting conjunction, so the assert can fire on a row the
    size guard in the same Filter would have dropped (r18 fuzz finding:
    $vectorSearch over a frame with empty/null arrays crashed instead
    of skipping them)."""
    out = F.lit(0)
    for j, srow in enumerate(signs_t):
        proj = F.aggregate(F.zip_with(vec, F.lit(srow), lambda x, s: x * s),
                           F.lit(0.0), lambda acc, x: acc + x)
        out = out + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    if not checked:
        return out.cast("long")
    # dim-mismatch must FAIL, not degrade: zip_with null-pads a wrong-width
    # vector, the projection folds to null, every sign bit reads 0, and the
    # candidate join silently degenerates toward a cross product. The
    # assert is folded into the bucket value (+0) so column pruning can't
    # drop it.
    dim = len(signs_t[0])
    chk = F.coalesce(
        F.assert_true(F.size(vec) == dim,
                      F.lit(f"LSH vector dim != configured dim {dim}"))
        .cast("long"), F.lit(0))
    return (out + chk).cast("long")


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(V.as_double(vec_col))).first()
    if row is None or row[0] is None:
        raise ValueError("cannot infer embedding dim: empty input (pass dim=)")
    return int(row[0])


def cosine_topk_lsh(probe: DataFrame, corpus: DataFrame, id_col: str,
                    vec_col: str, k: int, planes: int = 4,
                    tables: int = 8, dim: int | None = None) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH: both sides hash into
    ``tables`` independent bucket spaces; candidates share a bucket in ≥1
    table; exact cosine reranks the candidates.

    Scale shape: the corpus is scanned once to bucket (``tables`` rows per
    vector), the join is equi on (table, bucket) — partition-parallel,
    never |probe|×|corpus|. A pair at angle θ collides per table with
    p = 1-(1-(1-θ/π)^planes); recall rises with ``tables``, candidate
    volume falls with ``planes``. Defaults are tuned for weakly-clustered
    corpora (near-neighbor cosine ~0.5 → θ~60°): planes=4/tables=8 gives
    ~0.7 recall@5 on the fixtures; strongly-clustered real embedding
    spaces support much higher ``planes`` (more pruning) at equal recall.

    Hyperplanes are the md5-derived ``rademacher_signs`` literals, so a
    SQL oracle replays bucketing exactly (the approximate result is
    deterministic and hash-checkable, not merely rows-only). ``dim`` is
    read from one probe row when not given.

    Output schema matches ``cosine_topk`` (rank may differ where recall<1:
    this is the approximate path; the brute-force operator is the oracle).
    """
    signs = rademacher_signs(planes, tables, dim or _infer_dim(probe, vec_col))

    def bucketize(df, side_id):
        base = df.select(F.col(id_col).alias(side_id),
                         V.as_double(vec_col).alias(f"__r_{side_id}"),
                         V.unit(V.as_double(vec_col)).alias(f"__v_{side_id}"))
        tagged = F.array(*[
            F.struct(F.lit(t).alias("t"),
                     _sign_bucket(F.col(f"__r_{side_id}"), signs[t]).alias("b"))
            for t in range(tables)
        ])
        return base.select(side_id, f"__v_{side_id}",
                           F.explode(tagged).alias("tb")) \
            .select(side_id, f"__v_{side_id}",
                    F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))

    p = bucketize(probe, "query_id")
    c = bucketize(corpus, "neighbor_id")
    cand = (
        p.join(c, ["t", "b"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__v_query_id", "__v_neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id",
        F.round(V.dot("__v_query_id", "__v_neighbor_id"), 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def cosine_threshold_pairs(df: DataFrame, id_col: str, vec_col: str,
                           threshold: float) -> DataFrame:
    """All pairs with cosine ≥ threshold (d1 < d2). Brute force n²/2 —
    correct baseline; LSH bucketing (random hyperplanes) is the scale path
    and reuses simhash-style banding over sign bits."""
    a = df.select(F.col(id_col).alias("d1"), V.unit(V.as_double(vec_col)).alias("v1"))
    b = df.select(F.col(id_col).alias("d2"), V.unit(V.as_double(vec_col)).alias("v2"))
    return (
        a.join(b, F.col("d1") < F.col("d2"))
        .select("d1", "d2", F.round(V.dot(F.col("v1"), F.col("v2")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _cell_scores(v, centroids: list) -> F.Column:
    """``array<struct<cdist,cell>>`` scoring ``v`` against every FROZEN
    centroid as one map-side expression — no centroid table, no join, no
    row blowup. The arithmetic is kept IDENTICAL to the broadcast-table
    path it replaced (``|c|² - 2·dot(v,c)`` with the same literal values
    and the same left-fold dot), so the scores are bit-identical doubles
    and every hash-gated consumer (q55/q108/q126/q134) is unchanged.

    Plan shape (r17 optimization, guide §2.4): the old path was
    ``Exchange → BroadcastNestedLoopJoin(nlist) → nlist× rows → Sort →
    SortAggregate(min(struct), first(v)) → Exchange → SortAggregate`` —
    a full-table sort-aggregate shuffle (SortAggregate, not hash: the
    ``first(array<double>)`` buffer is not hash-aggregable) carrying the
    unit vector. The expression path is a single Project fused into the
    scan: at 100 TB the whole assignment costs zero network bytes."""
    return F.array(*[
        F.struct(
            (F.lit(float(sum(x * x for x in ctr)))
             - 2 * V.dot(v, F.array(*[F.lit(float(x)) for x in ctr])))
            .alias("cdist"),
            F.lit(i).alias("cell"))
        for i, ctr in enumerate(centroids)])


def cosine_topk_ivf(probe: DataFrame, corpus: DataFrame, id_col: str,
                    vec_col: str, k: int, nlist: int = 16, nprobe: int = 4,
                    seed: int = 42, max_iter: int = 10,
                    centroids: list | None = None) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: k-means (pyspark.ml, JVM-side)
    partitions the unit sphere into ``nlist`` cells; each corpus vector is
    indexed under its nearest centroid; each probe searches its ``nprobe``
    nearest cells with exact rerank. ``cosine_topk_bucketed`` is this
    operator with the quantizer replaced by a user column.

    Scale shape: training runs on the corpus via MLlib's distributed
    Lloyd iterations (k-means|| init); assignment is one model.transform
    scan; the search join is equi on cell id, so each task scans
    |corpus|·(nprobe/nlist) rows, never the whole corpus. The centroid
    table (nlist × dim, driver-side by construction) is the only
    collected state — at nlist = 2^16 and dim = 1024 that is ~0.5 GB,
    still broadcastable; beyond that, shard the quantizer.

    Metric consistency: corpus vectors are assigned to cells by MLlib's
    Euclidean argmin over NON-unit centroids (means of unit vectors), so
    |c|² matters. Probe cells are ranked with the SAME metric — for a unit
    probe q, |q-c|² = 1 + |c|² - 2 q·c, so cdist = |c|² - 2 q·c gives the
    identical cell ordering. Ranking by raw dot product instead would
    diverge from the assignment (centroid norms differ per cell) and a
    probe equal to an indexed vector could miss that vector's own cell.

    ``centroids`` injects a FROZEN quantizer (list of ``nlist`` dim-length
    lists) and skips training entirely — the production serving pattern:
    the quantizer is trained once on a corpus sample, persisted, and
    reused across index builds and queries. Because assignment then
    depends only on literal constants, a SQL oracle can replay the whole
    approximate pipeline and the query hash-gates (q55). Assignment uses
    the same |c|²-2u·c argmin as MLlib's transform (ties → lowest cell).

    Like cosine_topk_lsh this is approximate (recall < 1 when a true
    neighbor lives in an unprobed cell); recall vs the brute-force oracle
    is gated in tests/test_similarity.py.
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      V.unit(V.as_double(vec_col)).alias("cv"))
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = c.select("neighbor_id", array_to_vector("cv").alias("features"))
        model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feats)
        assigned = model.transform(feats).select(
            "neighbor_id", F.col("prediction").alias("cell"))
        centroid_rows = [(i, [float(x) for x in ctr],
                          float(sum(x * x for x in ctr)))
                         for i, ctr in enumerate(model.clusterCenters())]
        cent = probe.sparkSession.createDataFrame(
            centroid_rows, "cell int, cvec array<double>, c2 double")
        indexed = c.join(assigned, "neighbor_id")
    else:
        # Frozen quantizer: pure map-side argmin expression over the
        # centroid literals (see _cell_scores) — ties break on cell id via
        # the struct ordering, exactly like the min(struct) it replaced.
        indexed = c.withColumn(
            "cell", F.array_min(_cell_scores(F.col("cv"), centroids))["cell"])

    p = probe.select(F.col(id_col).alias("query_id"),
                     V.unit(V.as_double(vec_col)).alias("qv"))
    if centroids is None:
        wc = Window.partitionBy("query_id").orderBy(
            F.col("cdist").asc(), F.col("cell").asc())
        probe_cells = (
            p.join(F.broadcast(cent))
            .withColumn("cdist", F.col("c2") - 2 * V.dot(F.col("qv"), F.col("cvec")))
            .withColumn("crank", F.row_number().over(wc))
            .filter(F.col("crank") <= nprobe)
            .select("query_id", "qv", "cell")
        )
    else:
        # nprobe nearest cells map-side: array_sort on (cdist, cell) is
        # the same ordering as the row_number window it replaces — the
        # probe side loses its exchange + Window too.
        probe_cells = p.select(
            "query_id", "qv",
            F.explode(F.slice(F.array_sort(
                _cell_scores(F.col("qv"), centroids)), 1, nprobe)).alias("pc")
        ).select("query_id", "qv", F.col("pc.cell").alias("cell"))
    scored = (
        probe_cells.join(indexed, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(V.dot(F.col("qv"), F.col("cv")), 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def semantic_dedup_ivf(df: DataFrame, id_col: str, vec_col: str,
                       threshold: float, centroids: list) -> DataFrame:
    """SemDeDup-shaped embedding dedup: assign every vector to its
    nearest frozen-quantizer cell, compare pairs ONLY within a cell, and
    drop the larger id of every pair with cosine ≥ threshold (min-id
    keeper, same policy as the text near-dedup family). Output is one
    row per input vector: ``(vec_id, cell, is_kept)``.

    Scale shape (r17: assignment went map-side): the nearest cell is a
    single argmin EXPRESSION over the frozen centroid literals
    (``_cell_scores``) fused into the scan — zero shuffle, no nlist×
    row blowup, no sort-aggregate (the old broadcast-table plan paid
    ``Exchange → BNLJ → Sort → SortAggregate → Exchange →
    SortAggregate`` carrying the unit vector). The pair join is equi on
    cell id: Σ|cell|² work, never n². Real deployments size nlist ~ √n
    so cells stay bounded; a hot cell is a quantizer-retraining signal,
    not a plan problem. This is the embedding-space analogue of the
    shingle inverted index — and like it, the approximation is the
    BOUNDARY (a near-dup pair split across two cells is missed; recall
    vs the brute-force pair scan is gated in tests/test_similarity.py).

    The two pair sides shuffle by cell with canonically identical
    children, so AQE materializes that exchange once (ReusedExchange —
    asserted from the post-execution adaptive plan in
    tests/test_plans.py); the verdict join's left side is a plain
    re-scan + map (cheaper than the sort-agg materialization it
    replaced — measured 1.6 s vs 2.2 s isolated at sf0.1, and an
    explicit repartition("cell") materialization point measured WORSE:
    column pruning splits the three consumers' exchanges apart).
    No persist() needed, nothing to unpersist.
    """
    return semantic_dedup_state(df, id_col, vec_col, threshold, centroids) \
        .select(F.col("vid").alias("vec_id"), "cell", "is_kept")


def _assign_cells(df: DataFrame, id_col: str, vec_col: str,
                  centroids: list) -> DataFrame:
    """(vid, unit-vector v, nearest cell) shared by semantic_dedup_state
    and incremental_semantic_dedup — computed entirely MAP-SIDE as an
    argmin expression over the frozen centroid literals (_cell_scores):
    one Project fused into the scan, no centroid join, no nlist× row
    blowup, no sort-aggregate shuffle. Identical values/tie-breaks to
    the broadcast-argmin groupBy it replaced (r17 optimization)."""
    return (
        df.select(F.col(id_col).alias("vid"),
                  V.unit(V.as_double(vec_col)).alias("v"))
        .withColumn("cell",
                    F.array_min(_cell_scores(F.col("v"), centroids))["cell"])
        .select("vid", "v", "cell")
    )


def semantic_dedup_state(df: DataFrame, id_col: str, vec_col: str,
                         threshold: float, centroids: list) -> DataFrame:
    """``semantic_dedup_ivf`` with the unit vector kept in the output:
    ``(vid, v, cell, is_kept)`` — the STANDING STATE consumed by
    ``incremental_semantic_dedup`` for append-batch maintenance."""
    assigned = _assign_cells(df, id_col, vec_col, centroids)
    a = assigned.select(F.col("vid").alias("d1"), F.col("cell"),
                        F.col("v").alias("v1"))
    b = assigned.select(F.col("vid").alias("d2"), F.col("cell"),
                        F.col("v").alias("v2"))
    dropped = (
        a.join(b, ["cell"])
        .filter(F.col("d1") < F.col("d2"))
        .filter(F.round(V.dot(F.col("v1"), F.col("v2")), 6)
                >= F.lit(threshold))
        .select(F.col("d2").alias("vid"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__dropped", F.lit(True)),
                      "vid", "left")
        .select("vid", "v", "cell",
                F.coalesce(~F.col("__dropped"), F.lit(True)).alias("is_kept"))
    )


def incremental_semantic_dedup(standing: DataFrame, new_vecs: DataFrame,
                               id_col: str, vec_col: str,
                               threshold: float, centroids: list
                               ) -> tuple[DataFrame, DataFrame]:
    """Semantic-dedup index maintenance for an APPENDED vector batch —
    the embedding-space twin of ``incremental_jaccard_pairs``. The batch
    is assigned to cells with the SAME frozen quantizer as the standing
    state, then compared against batch ∪ (standing ∩ its cells) only:
    pair work is Σ|cell ∩ batch|·|cell| — proportional to the batch,
    never old×old (the standing verdicts already hold those). Returns
    ``(delta_state, updated_state)`` where ``delta_state`` is one
    ``(vid, v, cell, is_kept)`` row per new vector; standing ∪ delta ==
    full ``semantic_dedup_state`` recompute over the union is the
    property test in tests/test_similarity.py.

    Scale shape: the batch side of the cell join is small, so AQE
    broadcasts it — the lake-sized standing state is SCANNED, not
    shuffled (same discipline as the shingle-index probe join).

    Monotone-append contract: the min-id keeper makes old verdicts
    depend only on earlier ids, so standing verdicts stay valid iff
    every new id sorts AFTER every standing id. ENFORCED via two 1-row
    bounded aggregates (max standing id vs min batch id — the same
    guard-collect class as incremental_jaccard_pairs' 5-row sample);
    out-of-order ids would silently flip old verdicts, so they raise."""
    new_assigned = _assign_cells(new_vecs, id_col, vec_col, centroids)
    mx = standing.agg(F.max("vid")).first()[0]
    mn = new_vecs.agg(F.min(id_col)).first()[0]
    if mx is not None and mn is not None and mn <= mx:
        raise ValueError(
            "incremental_semantic_dedup: batch id "
            f"{mn!r} does not sort after the standing max {mx!r}; "
            "monotone-append contract violated — out-of-order ids "
            "would flip standing keeper verdicts (full recompute or "
            "the merge path handles those)")
    earlier = standing.select("vid", "v", "cell").unionByName(new_assigned)
    a = earlier.select(F.col("vid").alias("d1"), F.col("cell"),
                       F.col("v").alias("v1"))
    b = new_assigned.select(F.col("vid").alias("d2"), F.col("cell"),
                            F.col("v").alias("v2"))
    dropped = (
        a.join(b, ["cell"])
        .filter(F.col("d1") < F.col("d2"))
        .filter(F.round(V.dot(F.col("v1"), F.col("v2")), 6)
                >= F.lit(threshold))
        .select(F.col("d2").alias("vid"))
        .distinct()
    )
    delta = (
        new_assigned.join(dropped.withColumn("__dropped", F.lit(True)),
                          "vid", "left")
        .select("vid", "v", "cell",
                F.coalesce(~F.col("__dropped"), F.lit(True)).alias("is_kept"))
    )
    return delta, standing.select("vid", "v", "cell", "is_kept") \
        .unionByName(delta)


def cosine_threshold_pairs_lsh(df: DataFrame, id_col: str, vec_col: str,
                               threshold: float, planes: int = 4,
                               tables: int = 8,
                               dim: int | None = None) -> DataFrame:
    """Embedding near-dup pairs (cosine >= threshold) at scale: random-
    hyperplane LSH candidate generation + exact rerank — the all-pairs
    twin of ``cosine_topk_lsh`` (which serves probe-set queries). The
    brute-force ``cosine_threshold_pairs`` is the n²/2 oracle.

    Scale shape: one scan buckets every vector into ``tables`` hash
    tables; the candidate join is equi on (table, bucket), so pair work
    is Σ|bucket|² per table, never n²/2. Near-dup thresholds make LSH
    effective here: at cos >= 0.9 (θ <= 26°) a pair collides per table
    with (1-θ/π)^planes ≈ 0.53, so missing all 8 tables happens with
    p ≈ 0.2%; recall rises toward 1 as the threshold does — exactly the
    regime dedup cares about.

    Hyperplanes are md5-derived literals (``rademacher_signs``), so the
    SQL oracle replays bucketing exactly and the query hash-gates.
    """
    signs = rademacher_signs(planes, tables, dim or _infer_dim(df, vec_col))
    base = df.select(F.col(id_col).alias("_vid"),
                     V.as_double(vec_col).alias("_r"),
                     V.unit(V.as_double(vec_col)).alias("_v"))
    tagged = F.array(*[
        F.struct(F.lit(t).alias("t"),
                 _sign_bucket(F.col("_r"), signs[t]).alias("b"))
        for t in range(tables)
    ])
    buckets = base.select("_vid", "_v", F.explode(tagged).alias("tb")) \
        .select("_vid", "_v", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    x, y = buckets.alias("x"), buckets.alias("y")
    cand = (
        x.join(y, (F.col("x.t") == F.col("y.t")) & (F.col("x.b") == F.col("y.b"))
               & (F.col("x._vid") < F.col("y._vid")))
        .select(F.col("x._vid").alias("d1"), F.col("y._vid").alias("d2"),
                F.col("x._v").alias("v1"), F.col("y._v").alias("v2"))
        .dropDuplicates(["d1", "d2"])
    )
    return (
        cand.select("d1", "d2",
                    F.round(V.dot(F.col("v1"), F.col("v2")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_topk_np(probe: DataFrame, corpus: DataFrame, id_col: str,
                   vec_col: str, k: int, batch_probes: int = 4096) -> DataFrame:
    """Exact top-k cosine via Arrow-batched numpy matmul — the dense-math
    hot path. Same results as ``cosine_topk`` (both exact, double
    precision); different physical strategy: the probe matrix rides to
    every corpus partition inside the mapInPandas closure, each Arrow
    batch contributes a BLAS gemm (Q×B) and a per-batch partial top-k,
    and one final window merges |batches|·k candidates per probe.

    This is the pattern for when per-element JVM codegen loses to BLAS:
    at dim >= 256 the gemm path wins by an order of magnitude; below
    that, ``cosine_topk``'s zip_with/aggregate stays competitive and
    avoids Python workers entirely. ``batch_probes`` caps the probe
    matrix one closure ships; larger probe sets are processed in chunks
    of that size (one corpus scan per chunk — memory stays bounded, cost
    grows linearly in |probe|, exactly the right tradeoff when the probe
    set outgrows executor memory).
    """
    import numpy as np

    pr = [(r[0], r[1]) for r in
          probe.select(F.col(id_col), V.unit(V.as_double(vec_col))).collect()]

    # Output id type from the PROBE SCHEMA, not the collected numpy dtype:
    # an empty probe set must still return a correctly-typed empty frame
    # (np.array([]) is float64, which would mis-pick the string branch and
    # then crash the gemm at action time).
    id_sql = probe.schema[id_col].dataType.simpleString()
    schema = f"query_id {id_sql}, neighbor_id {id_sql}, cosine double"
    if not pr:
        return probe.sparkSession.createDataFrame([], schema + ", rank int")

    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      V.unit(V.as_double(vec_col)).alias("cv"))

    def chunk_scored(chunk):
        qids = np.array([p[0] for p in chunk])
        qmat = np.array([p[1] for p in chunk])       # Q × dim, unit rows

        def partial_topk(batches):
            import pandas as pd
            for pdf in batches:
                if not len(pdf):
                    continue
                cmat = np.stack(pdf["cv"].to_numpy())    # B × dim
                nids = pdf["neighbor_id"].to_numpy()
                sims = qmat @ cmat.T                     # Q × B gemm
                for qi in range(len(qids)):
                    row = sims[qi]
                    keep = min(k + 1, len(row))          # +1 covers self-hit
                    # Everything within one 6-dp rounding quantum of the
                    # (k+1)-th best survives the partial cut, so the final
                    # rounded-then-tiebroken window sees every candidate
                    # that could still win a tie. Rounding itself happens
                    # downstream via F.round (HALF_UP — same semantics as
                    # the JVM twin and the shared oracle; np.round is
                    # half-to-even and would diverge on exact ties).
                    kth = np.partition(row, len(row) - keep)[len(row) - keep]
                    top = np.flatnonzero(row >= kth - 1e-6)
                    mask = nids[top] != qids[qi]
                    yield pd.DataFrame({
                        "query_id": qids[qi].repeat(mask.sum()),
                        "neighbor_id": nids[top][mask],
                        "cosine": row[top][mask],
                    })

        return c.mapInPandas(partial_topk, schema)

    scored = chunk_scored(pr[:batch_probes])
    for start in range(batch_probes, len(pr), batch_probes):
        scored = scored.unionByName(chunk_scored(pr[start:start + batch_probes]))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("cosine", F.round("cosine", 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def cosine_topk_pq(probe: DataFrame, corpus: DataFrame, id_col: str,
                   vec_col: str, k: int, codebooks: list,
                   rerank: int = 50) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC; Jégou et al. 2011): the missing member of the ANN family next
    to bucketed/LSH/IVF — the one that COMPRESSES the index itself.

    Index: each unit corpus vector is split into M subvectors and each
    subvector replaced by the id of its nearest codebook centroid — M
    bytes per vector instead of dim doubles (64× smaller at M=8,
    dim=64). Search: the probe builds a per-subvector lookup table of
    partial distances to every centroid (M×K values — tiny, broadcast),
    ADC-scores every corpus code by summing M table lookups, shortlists
    ``rerank`` candidates, and exact-reranks only those.

    Scale shape: the ADC join is equi on (subvector, cell) against a
    broadcast LUT — the corpus side streams; per (probe, vector) exactly
    M rows reach the shuffle, and only ``rerank`` full vectors per probe
    are exactly scored. No codes table is stored: each call encodes the
    full corpus and the rerank reads it again (ROADMAP direction 9).

    Cross-engine exactness (``codebooks`` frozen literals, q106): every
    partial distance uses the same c²−2·q·c form and sequential-fold dot
    product on both engines; per-subvector contributions are rounded to
    9 dp and summed as DECIMAL so the ADC ordering cannot flip on
    addition order; the shortlist and final rank both carry a
    neighbor_id tiebreak. Approximate by construction (a true neighbor
    can fall outside the shortlist); recall vs brute force is gated in
    tests/test_similarity.py.
    """
    m = len(codebooks)
    subdim = len(codebooks[0][0])
    spark = probe.sparkSession
    cb_rows = [(j, ci, [float(x) for x in c], float(sum(x * x for x in c)))
               for j, book in enumerate(codebooks)
               for ci, c in enumerate(book)]
    cb = spark.createDataFrame(
        cb_rows, "j int, cell int, cvec array<double>, c2 double")

    def subvectors(df, out_id):
        u = df.select(F.col(id_col).alias(out_id),
                      V.unit(V.as_double(vec_col)).alias("uv"))
        blocks = F.array(*[
            F.struct(F.lit(j).alias("j"),
                     F.slice("uv", j * subdim + 1, subdim).alias("sv"))
            for j in range(m)])
        return u.select(out_id, F.explode(blocks).alias("b")) \
            .select(out_id, F.col("b.j").alias("j"), F.col("b.sv").alias("sv"))

    pd_expr = F.col("c2") - 2 * V.dot(F.col("sv"), F.col("cvec"))
    codes = (
        subvectors(corpus, "neighbor_id")
        .join(F.broadcast(cb), "j")
        .withColumn("pd", pd_expr)
        .groupBy("neighbor_id", "j")
        .agg(F.min(F.struct("pd", "cell")).alias("mn"))
        .select("neighbor_id", "j", F.col("mn.cell").alias("cell"))
    )
    lut = (
        subvectors(probe, "query_id")
        .join(F.broadcast(cb), "j")
        .select("query_id", "j", "cell",
                F.round(pd_expr, 9).cast("decimal(18,9)").alias("pd"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["j", "cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pd").alias("adc"))
    )
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc())
    short = adc.withColumn("rn", F.row_number().over(wshort)) \
        .filter(F.col("rn") <= rerank).select("query_id", "neighbor_id")

    cu = corpus.select(F.col(id_col).alias("neighbor_id"),
                       V.unit(V.as_double(vec_col)).alias("cv"))
    pu = probe.select(F.col(id_col).alias("query_id"),
                      V.unit(V.as_double(vec_col)).alias("qv"))
    rer = (
        short.join(cu, "neighbor_id").join(F.broadcast(pu), "query_id")
        .withColumn("cosine", F.round(V.dot("qv", "cv"), 6))
    )
    wrank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        rer.withColumn("rank", F.row_number().over(wrank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


def embedding_dim_stats(df: DataFrame, id_col: str,
                        vec_col: str) -> DataFrame:
    """Per-dimension corpus statistics ``(dim, n, mean, std, mn, mx)``
    for feature scaling: one posexplode + one hash-agg keyed on the
    dimension index (cardinality = vector width, so the shuffle carries
    dim-count rows regardless of corpus size). Moments accumulate
    EXACTLY — components rounded to 6 dp into DECIMAL, Σx and Σx² as
    decimal sums — then the closed-form mean/sample-std runs in double
    on identical scalar operands on any engine (the q98 discipline;
    built-in stddev is partial-sum-order-dependent)."""
    ex = df.select(F.col(id_col),
                   F.posexplode(V.as_double(vec_col)).alias("dim", "x"))
    r = F.round(F.col("x"), 6).cast("decimal(18,6)")
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(r).alias("sv"),
        F.sum((r * r).cast("decimal(38,12)")).alias("svv"),
        F.min(r).alias("mn"),
        F.max(r).alias("mx"),
    )
    n_d = F.col("n").cast("double")
    sv_d = F.col("sv").cast("double")
    svv_d = F.col("svv").cast("double")
    var_num = F.greatest(n_d * svv_d - sv_d * sv_d, F.lit(0.0))
    return agg.select(
        "dim", "n",
        F.round(sv_d / n_d, 6).alias("mean"),
        F.round(F.sqrt(var_num / (n_d * (n_d - 1))), 6).alias("std"),
        F.col("mn").cast("double").alias("mn"),
        F.col("mx").cast("double").alias("mx"),
    )


def standardize_embeddings(df: DataFrame, id_col: str, vec_col: str,
                           out_col: str = "zvec") -> DataFrame:
    """Z-score every embedding dimension against the corpus:
    ``z[i] = (x[i] - mean[i]) / std[i]`` (constant dimensions pass
    through as 0). The per-dim stats collapse to ONE broadcast row of
    two arrays, so the transform is a map-side ``zip_with`` over the
    scan — no second shuffle, no join fan-out; the stats job itself is
    the dim-keyed hash-agg from ``embedding_dim_stats``."""
    stats = embedding_dim_stats(df, id_col, vec_col)
    packed = (stats.orderBy("dim")
              .agg(F.collect_list("mean").alias("__means"),
                   F.collect_list("std").alias("__stds")))
    z = F.zip_with(
        F.zip_with(V.as_double(vec_col), F.col("__means"),
                   lambda x, m: x - m),
        F.col("__stds"),
        lambda d, s: F.when(s > 0, F.round(d / s, 6)).otherwise(F.lit(0.0)))
    return (df.join(F.broadcast(packed))
            .withColumn(out_col, z)
            .drop("__means", "__stds"))


def pca_fit(df: DataFrame, vec_col: str, k: int) -> dict:
    """Distributed PCA fit in ONE pass: each Arrow batch contributes
    (count, sum-vector, Gram matrix) — numpy gemm per batch, the
    map-side-combinable moments of covariance — and the driver reduces
    a handful of dim²-float partials (KB-sized for dim ≤ 1k), then
    eigendecomposes the sample covariance. Returns ``{"mean",
    "components" (k × dim, rows orthonormal), "explained_variance",
    "explained_variance_ratio"}`` as plain lists (a frozen broadcastable
    artifact, the _ivf_centroids discipline). Deterministic: float64
    accumulation, eigh (symmetric), and each component's
    largest-|coordinate| flipped positive so BLAS build differences
    can't flip signs. Cost at 100 TB: one scan, shuffle-free — the
    partials collapse to #batches rows."""
    import numpy as np
    import pandas as pd

    src = df.select(V.as_double(vec_col).alias("v"))
    dim = len(src.first()["v"])

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame({
                "n": [m.shape[0]],
                "s": [m.sum(axis=0).tolist()],
                "g": [(m.T @ m).ravel().tolist()],
            })

    rows = src.mapInPandas(
        partials, f"n long, s array<double>, g array<double>").collect()
    if not rows:
        raise ValueError("pca_fit: empty input")
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError("pca_fit: needs at least 2 vectors")
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T                   # k × dim
    for i in range(comps.shape[0]):             # deterministic signs
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ev = np.maximum(evals[order], 0.0)
    total = float(np.maximum(evals, 0.0).sum()) or 1.0
    return {"mean": mean.tolist(),
            "components": comps.tolist(),
            "explained_variance": ev.tolist(),
            "explained_variance_ratio": (ev / total).tolist()}


def pca_transform(df: DataFrame, vec_col: str, model: dict,
                  out_col: str = "proj") -> DataFrame:
    """Project onto a fitted PCA basis ENTIRELY JVM-side: the mean and
    each component ride as array literals, centering is one zip_with,
    each coordinate one zip_with+aggregate dot — whole-stage codegen,
    no Python workers on the (100 TB) transform path; only the fit's
    moment pass uses Arrow batches."""
    mean_lit = F.array(*[F.lit(float(x)) for x in model["mean"]])
    centered = F.zip_with(V.as_double(vec_col), mean_lit,
                          lambda a, b: a - b)
    coords = [
        F.aggregate(
            F.zip_with(centered,
                       F.array(*[F.lit(float(x)) for x in comp]),
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        for comp in model["components"]
    ]
    return df.withColumn(out_col, F.array(*coords))
