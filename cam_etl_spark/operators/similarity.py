"""Similarity search over an embedding column (``array<float>``).

Baseline: brute-force cosine top-k via a broadcast join of the query set
against the corpus — exact, and the right plan whenever the query side is
small (broadcast avoids shuffling the 100 TB corpus at all; the corpus scan
is embarrassingly parallel and the per-partition top-k is folded by the
window/row_number aggregation).

Scale path: LSH bucketing via random hyperplanes (signed projections) —
corpus is bucketed once (a cheap projection), queries probe only matching
buckets, turning the scan into an equi-join on bucket signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cam_etl_spark.functions.vectors import (
    cosine_from_norms_sql,
    l2_norm_sql,
)
from cam_etl_spark.operators.dedup import band_index, band_rows, banded_pairs, first_band_sql


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared ranking contract of every KNN operator: per query, order by
    cosine rounded to 6 dp descending with neighbor_id ascending as the
    tie-break, keep the top k. The DuckDB oracles pin exactly this
    (rounding + tie-break); one definition keeps the four operators from
    silently diverging."""
    # One selectExpr with an OVER clause instead of the Window-builder
    # Column chain (~8 py4j calls saved per call site; the window spec —
    # partition key, rounded-cosine DESC, id ASC — is byte-identical).
    return (
        scored.selectExpr(
            "query_id",
            "neighbor_id",
            "round(cosine, 6) AS cosine",
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY round(cosine, 6) DESC, neighbor_id ASC) AS rank",
        )
        .filter(F.col("rank") <= k)
    )


def knn_brute_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    queries is expected to be small → broadcast; ranking is deterministic
    (similarity desc, then neighbour id asc) so results are reproducible
    across partitionings.
    """
    # Norms hoisted out of the per-pair expression (guide §1.2 "don't
    # compute things twice"): each corpus row meets every query in the
    # nested-loop join, so the interpreted L2 fold ran |queries| times
    # per row; projecting it below the join runs it once per row (and
    # once per query on the broadcast side); the cosine reads the
    # projected norms.
    q = queries.selectExpr(
        f"{id_col} AS query_id",
        f"{vec_col} AS q_vec",
        f"{l2_norm_sql(vec_col)} AS q_nrm",
    )
    c = corpus.selectExpr(
        f"{id_col} AS neighbor_id",
        f"{vec_col} AS c_vec",
        f"{l2_norm_sql(vec_col)} AS c_nrm",
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).selectExpr(
        "*",
        f"{cosine_from_norms_sql('q_vec', 'c_vec', 'q_nrm', 'c_nrm')} AS cosine",
    )
    return _rank_topk(scored, k)


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from a seed (no
    driver-side RNG state; reproducible across runs)."""
    import hashlib

    vals = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def hyperplane_band_sql(vec: str, dim: int, n_planes: int, band: int) -> str:
    """SQL text of one random-hyperplane LSH band: bit p = sign of
    <vec, plane_{band,p}>, packed into an int. Vectors with high cosine
    similarity collide with high probability. The planes are double
    literals (``repr`` round-trips every value exactly)."""
    bits = []
    for p in range(n_planes):
        plane = ", ".join(f"{v!r}D" for v in _hyperplane(dim, band * 1000 + p))
        proj = (
            f"aggregate(zip_with({vec}, array({plane}), (x, y) -> CAST(x AS DOUBLE) * y), "
            "0.0D, (acc, v) -> acc + v)"
        )
        bits.append(f"IF({proj} >= 0, {1 << p}, 0)")
    return " + ".join(bits)


def knn_lsh_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with OR-amplified LSH: ``n_bands`` independent
    hyperplane sets; a corpus vector is a candidate if it matches the query
    in ANY band. The (band, signature) bucket is the join key → no
    corpus-wide cross join; recall rises with n_bands, bucket selectivity
    with n_planes."""
    def banded(df, side, id_alias):
        # Norms projected once per row before the band explode (each vector
        # appears n_bands times in the bucket index and meets every bucket
        # partner).
        rows = df.selectExpr(
            f"{id_col} AS {id_alias}",
            f"{vec_col} AS {side}_vec",
            f"{l2_norm_sql(vec_col)} AS {side}_nrm",
        )
        bands = [hyperplane_band_sql(f"{side}_vec", dim, n_planes, b) for b in range(n_bands)]
        return band_rows(rows, bands).alias(side)

    # Queries × corpus is bipartite, not a self-join: the (small) query
    # bands are broadcast, and the first-match filter keeps each
    # (query, neighbor) pair once without a dedup exchange.
    scored = (
        banded(corpus, "c", "neighbor_id")
        .join(
            F.broadcast(banded(queries, "q", "query_id")),
            F.expr("c.__bi = q.__bi AND c.__bv = q.__bv"),
        )
        .filter(f"query_id != neighbor_id AND c.__bi = {first_band_sql(n_bands, 'c', 'q')}")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{cosine_from_norms_sql('q_vec', 'c_vec', 'q_nrm', 'c_nrm')} AS cosine",
        )
    )
    return _rank_topk(scored, k)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids (by cosine).
    Centroids are broadcast (they're tiny: n_centroids × dim floats); the
    corpus never shuffles — assignment is a map-side projection + local
    top-n_probe, the property that makes IVF viable at 100 TB."""
    # Truly map-side, as the contract above promises: the centroid table
    # collapses to ONE broadcast row holding an array<struct<id, vec>>, and
    # the per-vector top-n_probe is computed with array expressions —
    # score, sort by (rounded sim desc, centroid_id asc), slice, explode.
    # The previous implementation exploded the corpus ×n_centroids and
    # ranked with a Window.partitionBy(id), i.e. it SHUFFLED the corpus
    # (×16) for every assignment — an Exchange the before-plan of
    # ann_ivf_topk shows twice (corpus + query side). Ordering contract
    # identical: round(sim, 6) desc, centroid_id asc (the cosine never
    # yields NaN — zero norms map to 0.0 — so the comparator is a total
    # order exactly like the window's).
    # Each vector is scored against every centroid, so its own L2 fold
    # ran n_centroids times (and each centroid's once per corpus row);
    # both norms are hoisted — the vector's into a projected column, the
    # centroid's into the broadcast struct — with identical arithmetic
    # (cosine_from_norms_sql), so the rounded sims are unchanged.
    # Whole chain as SQL text (functions/vectors.py): the Column/lambda
    # form of score+sort+slice+explode cost ~200 py4j
    # round-trips per call (ivf_assign is built 2-4x per query) — the
    # parsed tree is identical (same functions, same literal types, same
    # comparator CASE), so the rounded sims and the ordering cannot move.
    carr = centroids.agg(
        F.expr(
            "collect_list(struct(centroid_id, centroid_vec, "
            f"{l2_norm_sql('centroid_vec')} AS cnrm)) AS __cents"
        )
    )
    scored = vectors.selectExpr(
        id_col, vec_col, f"{l2_norm_sql(vec_col)} AS __vnrm"
    ).crossJoin(F.broadcast(carr))
    cos = cosine_from_norms_sql(vec_col, "c.centroid_vec", "__vnrm", "c.cnrm")
    sims = f"transform(__cents, c -> struct(round({cos}, 6) AS s, c.centroid_id AS cid))"
    ordered = (
        f"array_sort({sims}, (l, r) -> "
        "CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1 "
        "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 ELSE 0 END)"
    )
    return scored.selectExpr(
        id_col,
        vec_col,
        f"explode(transform(slice({ordered}, 1, {n_probe}), t -> t.cid)) AS centroid_id",
    )


def sample_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn=None,
) -> DataFrame:
    """Deterministic centroid sample: the n_centroids corpus vectors with the
    smallest hash(id) — a uniform pseudo-random draw that needs no RNG
    state and is reproducible across runs/partitionings. (A k-means refine
    pass can replace this without changing the search path.)

    ``hash_fn`` maps the id Column to the draw hash; default xxhash64.
    semantic_dedup passes the md5-based portable hash so its DuckDB oracle
    can replay the identical draw (xxhash64 has no SQL twin).

    Executed as orderBy(hash).limit(n) → TakeOrderedAndProject: each
    partition keeps its local top-n and the driver merges n_centroids rows —
    no global row_number window (the earlier form funnelled the WHOLE corpus
    through one partition; at 100 TB that is the job). centroid_id is the
    draw hash itself — unique (64-bit over ≤ thousands of centroids),
    deterministic, and a valid tie-break key; downstream only ever equi-joins
    and orders on it."""
    if hash_fn is None:
        hash_fn = lambda c: F.xxhash64(c.cast("string"))  # noqa: E731
    h = hash_fn(F.col(id_col))
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(h.asc(), F.col(id_col).asc())
        .limit(n_centroids)
        .select(
            hash_fn(F.col(id_col)).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )


def knn_ivf_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are indexed by
    nearest centroid; each query scores only the lists of its ``n_probe``
    nearest centroids. The centroid_id is the equi-join key → candidate
    volume is corpus/n_centroids × n_probe per query instead of the full
    scan. Recall rises with n_probe (n_probe == n_centroids ⇒ exact)."""
    # Materialize the 16-row centroid draw: both assignment sides broadcast
    # it, and without the checkpoint the corpus-wide TakeOrdered of
    # sample_centroids executed once per broadcast (twice per run).
    cents = sample_centroids(corpus, n_centroids, id_col, vec_col).localCheckpoint(
        eager=True
    )
    c_assigned = ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        cents,
        "neighbor_id",
        "c_vec",
        n_probe=1,
    )
    q_assigned = ivf_assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        cents,
        "query_id",
        "q_vec",
        n_probe=n_probe,
    )
    # No dedup shuffle: the corpus side is assigned with n_probe=1 (each
    # neighbor in exactly ONE list) and a query's probed centroids are
    # distinct, so a (query, neighbor) pair survives the centroid_id join
    # at most once — the dropDuplicates this carried was a second full
    # exchange of the candidate table for provably absent duplicates.
    # Norms below the list join (once per assigned row, not per
    # candidate pair); identical arithmetic via cosine_from_norms_sql.
    scored = (
        c_assigned.selectExpr("*", f"{l2_norm_sql('c_vec')} AS c_nrm")
        .join(
            F.broadcast(
                q_assigned.selectExpr("*", f"{l2_norm_sql('q_vec')} AS q_nrm")
            ),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr(
            "*",
            f"{cosine_from_norms_sql('q_vec', 'c_vec', 'q_nrm', 'c_nrm')} AS cosine",
        )
    )
    return _rank_topk(scored, k)


def build_ivf_bucketed(
    corpus: DataFrame,
    table: str,
    n_centroids: int = 16,
    num_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn=None,
    path: str | None = None,
) -> DataFrame:
    """Materialize an IVF index as a parquet table BUCKETED on centroid_id
    (SCALE.md §Similarity search): the corpus-wide shuffle onto centroid
    lists is paid exactly once at build time, and every later probe batch
    joins against the stored layout without exchanging the corpus again —
    the serving shape for repeated query batches over a 100 TB corpus.
    Returns the centroid DataFrame (broadcast-sized; pass it to
    knn_ivf_probe_bucketed so probes assign against the same draw)."""
    from cam_etl_spark.io import write_bucketed

    cents = sample_centroids(corpus, n_centroids, id_col, vec_col, hash_fn)
    assigned = ivf_assign(
        corpus.select(F.col(id_col), F.col(vec_col)), cents, id_col, vec_col, n_probe=1
    )
    write_bucketed(
        assigned, table, "centroid_id", num_buckets, sort_cols="centroid_id", path=path
    )
    return cents


def assign_probes(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign a query batch to its n_probe nearest centroids (map-side,
    centroids broadcast) in the (query_id, q_vec, centroid_id) shape
    knn_ivf_probe_bucketed consumes. Exposed so a LARGE probe batch can be
    assigned once and written bucketed on centroid_id (io.write_bucketed,
    same bucket count as the index) — the serving join then plans
    exchange-free on both sides."""
    return ivf_assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        centroids,
        "query_id",
        "q_vec",
        n_probe=n_probe,
    )


def knn_ivf_probe_bucketed(
    spark,
    table: str,
    centroids: DataFrame | None = None,
    queries: DataFrame | None = None,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned_probes: DataFrame | None = None,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Probe a build_ivf_bucketed index. The corpus side never exchanges;
    the probe side has two plans, both reachable through this API:

    - small batch (default): pass ``queries`` + ``centroids`` — probes are
      assigned inline and BROADCAST into the join.
    - large batch: pre-assign with ``assign_probes``, write bucketed on
      centroid_id with the index's bucket count, and pass the read-back
      table as ``assigned_probes`` with ``broadcast_probes=False`` — the
      sort-merge join is exchange-free on BOTH sides
      (tests/test_sources.py pins that plan through this function).

    Semantics identical to knn_ivf_cosine at equal draw/n_probe."""
    corpus = spark.table(table).selectExpr(
        f"{id_col} AS neighbor_id",
        f"{vec_col} AS c_vec",
        "centroid_id",
        f"{l2_norm_sql(vec_col)} AS c_nrm",
    )
    if assigned_probes is None:
        if queries is None or centroids is None:
            raise ValueError(
                "knn_ivf_probe_bucketed: pass queries+centroids, or assigned_probes"
            )
        assigned_probes = assign_probes(queries, centroids, n_probe, id_col, vec_col)
    assigned_probes = assigned_probes.withColumn("q_nrm", F.expr(l2_norm_sql("q_vec")))
    probe_side = F.broadcast(assigned_probes) if broadcast_probes else assigned_probes
    joined = (
        corpus.hint("merge").join(probe_side, "centroid_id")
        if not broadcast_probes
        else corpus.join(probe_side, "centroid_id")
    )
    # Same no-dedup argument as knn_ivf_cosine: a build_ivf_bucketed index
    # holds each neighbor in exactly one list (n_probe=1 at build time) and
    # probe assignments are distinct per query, so (query, neighbor) pairs
    # are unique by construction — no dropDuplicates exchange.
    # Same norm hoist as knn_ivf_cosine: both norms are projected on the
    # join inputs (once per stored/probe row), not per candidate pair.
    scored = (
        joined.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", F.expr(cosine_from_norms_sql("q_vec", "c_vec", "q_nrm", "c_nrm"))
        )
    )
    return _rank_topk(scored, k)


def lsh_candidate_pairs_cosine(
    corpus: DataFrame,
    dim: int,
    n_planes: int = 2,
    n_bands: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct unordered candidate id pairs from a hyperplane-LSH
    self-join: vectors colliding in any (band, signature) bucket. The
    bucket is the shuffle key — the corpus never cross-joins; candidate
    volume is governed by bucket occupancy (n_planes splits, n_bands
    OR-amplifies recall).

    Caveat carried on the operator: hyperplane LSH separates by ANGLE, so
    at low cosine thresholds the collision gap between near-dups and
    random pairs narrows and candidate volume rises toward all-pairs —
    pick n_planes for the threshold you verify at (see
    dedup.embedding_near_pairs_blocked's docstring for the arithmetic)."""
    index = band_index(
        corpus.selectExpr(f"{id_col} AS id", f"{vec_col} AS vec"),
        [hyperplane_band_sql("vec", dim, n_planes, b) for b in range(n_bands)],
    )
    return banded_pairs(index, "id").selectExpr("a.id AS id_a", "b.id AS id_b")


def fuzzy_levenshtein_join(
    df: DataFrame,
    text_col: str,
    max_distance: int = 2,
    token_split: str = r"\s+",
) -> DataFrame:
    """Token-blocked fuzzy self-join: distinct values of ``text_col`` that
    are within ``max_distance`` Levenshtein edits of each other.

    The reference needs this shape for LALF↔QRT road-name reconciliation
    (names that differ by typos/abbreviations; ref /root/reference/
    etl-notes.md:74-156 attacks it with staged cleanup UPDATEs instead).

    Scale shape: a naive similarity self-join is O(n²) edit-distance
    evaluations. Candidate generation is TOKEN BLOCKING (standard entity-
    resolution pre-join): explode each value into its tokens, equi-join on
    the token (a shuffle Catalyst plans like any join), de-duplicate the
    candidate pairs, THEN verify with ``levenshtein`` only on candidates.
    Pairs sharing no token are by-construction not candidates — that recall
    trade-off is part of the operator's contract (same candidate rule in
    the oracle), exactly like LSH banding. Skewed tokens (a token shared by
    k values yields k² candidates) are the known hot spot; cap/salt via
    dropping ultra-frequent blocking tokens upstream if needed.
    """
    names = df.select(F.col(text_col).alias("name")).where(F.col("name").isNotNull()).distinct()
    toks = names.select(
        "name", F.explode(F.split(F.col("name"), token_split)).alias("tk")
    ).filter(F.col("tk") != "")
    a = toks.alias("a")
    b = toks.alias("b")
    cand = (
        a.join(b, (F.col("a.tk") == F.col("b.tk")) & (F.col("a.name") < F.col("b.name")))
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .distinct()
    )
    lev = F.levenshtein("name_a", "name_b")
    return cand.filter(lev <= max_distance).withColumn("lev", lev)


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    min_df: int = 2,
    max_df_frac: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_split: str = "[^a-z0-9]+",
    dense_vocab_max: int = 2048,
    n_blocks: int | None = None,
) -> DataFrame:
    """All-pairs document similarity in the TF-IDF vector space: pairs of
    documents whose cosine over idf-weighted term frequencies reaches
    ``threshold``. The vector-space cousin of the Jaccard AllPairs join
    (operators/dedup.py) — the reference delegates ranking to an external
    FTS index (ref /root/reference/meili/index_addr.py:86-160); here the
    whole similarity join runs inside the engine.

    Shape: one tokenize pass -> (doc, term, tf); df and n_docs are tiny
    aggregates broadcast back; weights w = tf * ln(n_docs/df); the dot
    product is a TERM-KEYED equi-join of the postings list with itself
    (doc_a < doc_b), then a per-pair sum — all shuffles are on term or on
    the pair key, map-side combined.

    Scale levers (the O(sum df^2) candidate blowup is real): ``min_df``
    drops hapax terms (they cannot form pairs alone but still widen the
    postings), ``max_df_frac`` drops ubiquitous terms — the standard
    df-band prune; weights/norms are defined over the PRUNED vocabulary
    in engine and oracle alike. For corpora where even the band is too
    wide, LSH bucketing (knn_lsh_cosine) is the candidate generator and
    this join becomes its verify stage. Cosines are rounded to 4 decimals
    BEFORE thresholding so libm ulp noise cannot flip membership.

    Two physical strategies, one semantic contract:

    * **sparse** (the default shape): term-keyed postings self-join +
      per-pair sum — ~linear candidates under a Zipf vocabulary with the
      df-band engaged.
    * **dense** (auto-selected when the pruned vocabulary has at most
      ``dense_vocab_max`` terms): prefix filtering cannot prune a corpus
      whose every document shares the same ubiquitous terms — candidates
      degenerate to all pairs, and a postings join pays a pair-keyed
      shuffle of |pairs|x|terms| rows (measured 42 s for 224 M rows at
      sf0.1). Instead the vocabulary is broadcast as a dense index and
      the docs are hashed into ``n_blocks`` blocks (default:
      ``one_wave_blocks``); each of the B(B+1)/2 block tiles is one
      mapInPandas task (the embedding_near_pairs_blocked layout), scored
      by ``_pair_sums`` with either a merge of the two term-sorted
      postings lists or, on overlap-heavy tiles, one BLAS ``A @ B.T``.
      Per-task memory is two blocks; rounding is HALF-UP to 4 decimals
      exactly like the SQL twin, so both strategies return identical
      rows.
    """
    if threshold <= 0:
        raise ValueError(
            "tfidf_cosine_pairs: threshold must be > 0 (at 0 the sparse "
            "strategy's share-a-term candidate rule and the dense product "
            "would disagree on orthogonal pairs)"
        )
    # df-band: min_df <= df <= n_docs*max_df_frac AND df < n_docs. The
    # strict upper bound drops zero-idf terms (ln(n/df) = 0 at df = n) —
    # they contribute nothing to any dot product but would give an
    # all-ubiquitous document a zero norm and NaN unit weights.
    band = (
        (F.col("df") >= min_df)
        & (F.col("df") <= F.col("n_docs") * F.lit(max_df_frac))
        & (F.col("df") < F.col("n_docs"))
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(text_col), token_split)).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs_val: int | None = None
    vocab_rows: list = []
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    if dense_vocab_max > 0:
        # The strategy probe below collects the banded vocabulary, which
        # would otherwise run the corpus tokenize+tf once for the probe
        # and AGAIN when the returned frame executes. LAZY checkpoint: the
        # probe's first job computes every tf partition anyway, so the
        # probe itself materializes tf (truncating lineage) — an eager
        # checkpoint here was a separate full pass over the corpus.
        tf = tf.localCheckpoint(eager=False)
        dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
        # Probe = exactly two jobs, no broadcast machinery:
        # (1) n_docs over tf (not toks — identical: a doc with >= 1 token
        #     has >= 1 tf row), which doubles as the checkpoint
        #     materializer;
        # (2) the banded vocabulary collect, with the band inlined as
        #     LITERALS now that n_docs is a driver-side int — the old
        #     shape cross-joined a 1-row stats broadcast onto dfreq,
        #     paying a BroadcastExchange build between the two jobs.
        n_docs_val = int(tf.agg(F.countDistinct("doc_id").alias("n")).first()["n"])
        vocab_rows = (
            dfreq.filter(_band_sql(min_df, max_df_frac, n_docs_val))
            .select("term", "df")
            .limit(dense_vocab_max + 1)
            .collect()
        )
    if 0 < len(vocab_rows) <= dense_vocab_max:
        if n_blocks is None:
            n_blocks = one_wave_blocks(
                tf.sparkSession.sparkContext.defaultParallelism, n_docs_val
            )
        return _tfidf_pairs_dense(tf, vocab_rows, n_docs_val, threshold, n_blocks)

    # Band the document-frequency table BEFORE it is broadcast: the band
    # predicate depends only on (df, n_docs), both available here, so
    # filtering first is result-identical (the join is inner on term —
    # out-of-band rows were discarded by the same predicate after the
    # join before). What ships to every executor is the BANDED vocabulary
    # (duplicate-mass scale), not the full distinct-term table (corpus
    # scale — a driver/executor OOM at 100 TB). idf rides along as a
    # precomputed column so the per-posting projection is one multiply.
    # When the probe ran, n_docs is a literal and the 1-row stats
    # crossJoin disappears from the executed plan; in pure sparse mode
    # (dense_vocab_max=0) the builder stays fully lazy — no extra pass
    # over the un-checkpointed tf just to learn n_docs.
    if n_docs_val is not None:
        banded = dfreq.filter(_band_sql(min_df, max_df_frac, n_docs_val)).select(
            "term",
            F.log(F.lit(float(n_docs_val)) / F.col("df")).alias("idf"),
        )
    else:
        stats = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
        banded = (
            dfreq.crossJoin(F.broadcast(stats))
            .filter(band)
            .select("term", F.log(F.col("n_docs") / F.col("df")).alias("idf"))
        )
    pruned = tf.join(F.broadcast(banded), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.col("idf")).alias("w"),
    )
    norms = pruned.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    # Unit-normalize BEFORE pairing: cosine becomes a plain sum over the
    # postings self-join, so the 12M-pair frame never joins norms again.
    # The repartition spreads the postings across the cluster — without it
    # a small parquet input arrives as one partition and the quadratic
    # expansion runs serially (measured 54 s -> ~3 s at sf0.1); both join
    # sides share the exchange (ReusedExchange), so the tokenize+tf
    # pipeline is computed once for the pair join.
    unit = pruned.join(norms, "doc_id").select(
        "doc_id", "term", (F.col("w") / F.col("nrm")).alias("u")
    )

    a_side = unit.repartition(F.col("term"), F.col("doc_id"))
    a = a_side.alias("a")
    b = a_side.alias("b")
    return (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.round(F.sum(F.col("a.u") * F.col("b.u")), 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def one_wave_blocks(cores: int, n_items: int = 0) -> int:
    """Block count B for a blocked all-pairs scorer whose B(B+1)/2 tiles
    each run as one mapInPandas task: the largest B whose tiles fit in
    one wave of ``cores`` tasks, raised to ceil(n_items/1500) so a tile's
    similarity matrix stays small (~1500² doubles ≈ 18 MB), capped at 64.

    Each Python task has a fixed cost that dwarfs a small tile's scoring:
    the worker's spark-files setup calls importlib.invalidate_caches(),
    which re-reads the central directories of the spark-core jar and
    pyspark.zip — ~0.28 CPU-s per task against 6-10 ms of scoring per
    tile at 500 documents. A second wave of tiles doubles that cost while
    the first wave's cores idle. The 1500-item floor keeps what the old
    size rule measured: with fixed blocks on a ×10 corpus the tile time
    grew 62×/decade, ~linear when block size is held constant."""
    b = 1
    while (b + 1) * (b + 2) // 2 <= cores:
        b += 1
    return min(64, max(b, -(-int(n_items) // 1500)))


def _band_sql(min_df: int, max_df_frac: float, n_docs: int) -> str:
    """The df-band predicate with n_docs inlined as literals — the same
    tree the Column form builds (long >= int, long <= double via the
    repr-round-tripped product, long < int), evaluated identically; the
    Python double product n_docs * max_df_frac is the same IEEE multiply
    the JVM did on the same operands."""
    hi = repr(float(n_docs) * max_df_frac)
    return f"df >= {int(min_df)} AND df <= {hi} AND df < {int(n_docs)}"


def _tfidf_pairs_dense(
    tf: DataFrame, vocab_rows: list, n_docs: int, threshold: float, n_blocks: int
) -> DataFrame:
    """Dense strategy for tfidf_cosine_pairs: broadcast term->(index, idf),
    pack tf·idf vectors into hash blocks, row-normalize inside the numpy
    unpack, score each unordered block tile with one BLAS product. Same
    rounding contract as the sparse path (HALF-UP to 4 decimals, then
    threshold).

    Takes the (checkpointed) tf frame directly: the probe already
    collected (term, df, n_docs) for the whole banded vocabulary, so idf
    = ln(n_docs/df) is computed driver-side and shipped in the SAME
    broadcast as the term index — the dfreq/stats broadcast exchanges and
    the per-doc norms shuffle+join the sparse path needs all disappear
    from the executed plan (guide §2.1/§3.1: every posting's full vector
    lands in one block by construction, so normalization is a row-wise
    numpy divide at unpack time, not a Spark aggregation)."""
    import math

    import numpy as np
    import pandas as pd

    n_docs_val = float(n_docs)
    info = sorted((r["term"], int(r["df"])) for r in vocab_rows)
    dim = len(info)

    # term -> dense index assigned SPARK-side (broadcast join with the
    # ≤ dense_vocab_max-row vocab frame), so the Python side receives
    # ready-to-scatter (idx[], w[]) arrays per doc. The old layout shipped
    # (term, u) structs and rebuilt each block matrix with a per-posting
    # Python dict lookup — the tile stage spent ~12.6 s of executor time
    # at sf0.1 on that loop; one fancy-indexed assignment per DOC (guide
    # §4.2: vectorize inside the UDF) cuts it to ~a third. The join also
    # IS the df-band prune: only banded terms carry an index.
    spark = tf.sparkSession
    # LocalRelation, not createDataFrame (io.local_values_df): the
    # pickled-RDD frame made every broadcast build of the term index run
    # Python-worker scan tasks — measured 0.49 -> 0.29 s on a 2048-row
    # broadcast-join A/B, value-identical (idf repr round-trips exactly).
    # The VALUES text grows linearly with the vocabulary and its parse
    # cost superlinearly, so past ~64k terms (callers can raise
    # dense_vocab_max) fall back to createDataFrame — same rows, same
    # broadcast, just the row-building path.
    from cam_etl_spark.io import local_values_df

    tidx_rows = [(t, i, math.log(n_docs_val / d)) for i, (t, d) in enumerate(info)]
    tidx_schema = "term string, idx int, idf double"
    tidx_df = (
        local_values_df(spark, tidx_rows, tidx_schema)
        if len(tidx_rows) <= 65536
        else spark.createDataFrame(tidx_rows, tidx_schema)
    )
    tidx = F.broadcast(tidx_df)
    unit = tf.join(tidx, "term").select(
        "doc_id", "idx", (F.col("tf") * F.col("idf")).alias("u")
    )

    # One groupBy straight to blocks (the old per-doc collect_list pass
    # bought nothing), shipping each block as three ALIGNED primitive
    # arrays — all derived from the same collect_list so their order
    # agrees by construction — instead of nested structs. Arrow moves
    # primitive list columns as contiguous buffers, and the Python side
    # rebuilds a block matrix with one np.unique factorize + one
    # fancy-indexed scatter: zero per-posting Python.
    p = F.col("p")
    packed = (
        unit.withColumn(
            "blk",
            F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_blocks)).cast("int"),
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("doc_id", "idx", "u")).alias("p"))
        .select(
            "blk",
            F.transform(p, lambda x: x["doc_id"]).alias("dids"),
            F.transform(p, lambda x: x["idx"]).alias("idxs"),
            F.transform(p, lambda x: x["u"]).alias("us"),
        )
        # Materialize the n_blocks packed rows: the tile join references
        # this frame TWICE (left/right of a non-equi join), and without a
        # checkpoint the whole pipeline (tf → tidx prune → the block
        # aggregation) executes twice — the before-plan
        # showed the whole subtree duplicated under the
        # BroadcastNestedLoopJoin (plans/r14/similarity_tfidf_pairs_
        # before.txt, operators 1-55 ≈ repeated twice). Guide §2.4/§5:
        # one pass, shared by both aliases. The frame is bounded:
        # n_blocks rows holding the pruned postings once.
        .localCheckpoint(eager=True)
    )
    left = packed.select(
        F.col("blk").alias("blk_a"), F.col("dids").alias("dids_a"),
        F.col("idxs").alias("idxs_a"), F.col("us").alias("us_a"),
    )
    right = packed.select(
        F.col("blk").alias("blk_b"), F.col("dids").alias("dids_b"),
        F.col("idxs").alias("idxs_b"), F.col("us").alias("us_b"),
    )
    tiles = left.join(right, F.col("blk_a") <= F.col("blk_b")).repartition(
        n_blocks * (n_blocks + 1) // 2
    )

    def _unpack(dids, idxs, us):
        """Postings (term-sorted) + per-doc normalization. Row-normalize
        here: every pruned posting of a doc hashes to the same block, so
        the block holds each doc's FULL tf·idf vector and the norm needs
        no Spark aggregation. idf > 0 strictly (df < n_docs in the band)
        so any present doc has a positive norm."""
        docs = np.asarray(dids, dtype=np.int64)
        ids, rows = np.unique(docs, return_inverse=True)
        ii = np.asarray(idxs, dtype=np.int64)
        vv = np.asarray(us, dtype=np.float64)
        nrm = np.sqrt(np.bincount(rows, weights=vv * vv, minlength=len(ids)))
        vv = vv / nrm[rows]
        order = np.argsort(ii, kind="stable")
        return ids, ii[order], rows[order], vv[order]

    def _pair_sums(ia, ra, va, n_a, ib, rb, vb, n_b):
        """All pairwise dot products of a tile WITHOUT the dense n_a×dim @
        dim×n_b BLAS product: the tile matrices are ~99% zeros (a doc
        holds a handful of the ≤ dense_vocab_max terms), so dense GEMM
        burned ~1000× the necessary FLOPs (measured ~440 ms median per
        tile task at sf0.1). Instead merge the two term-sorted postings
        lists (searchsorted range expansion — the same Σ_t dfA·dfB
        candidate volume the sparse SQL join shuffles) and accumulate
        into the pair matrix with one bincount. Deterministic
        accumulation order; same 4-decimal rounding downstream."""
        start = np.searchsorted(ib, ia, side="left")
        cnt = np.searchsorted(ib, ia, side="right") - start
        total = int(cnt.sum())
        if total == 0:
            return np.zeros((n_a, n_b))
        if total * 256 > n_a * n_b * dim:
            # Overlap-heavy tile (this synthetic corpus: every doc shares
            # the ubiquitous terms, Σ dfA·dfB ≈ all pairs × shared terms):
            # GEMM throughput beats materializing the expansion ~256:1,
            # so scatter to dense and let BLAS run. The merge branch wins
            # only when the tile really is sparse (real web corpora with
            # a Zipf vocab and the df-band engaged).
            mat_a = np.zeros((n_a, dim))
            mat_a[ra, ia] = va
            mat_b = np.zeros((n_b, dim))
            mat_b[rb, ib] = vb
            return mat_a @ mat_b.T
        rep = np.repeat(np.arange(len(ia)), cnt)
        pos = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        bpos = np.repeat(start, cnt) + pos
        key = ra[rep] * n_b + rb[bpos]
        return np.bincount(
            key, weights=va[rep] * vb[bpos], minlength=n_a * n_b
        ).reshape(n_a, n_b)

    def score(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                a_ids, ia, ra, va = _unpack(row["dids_a"], row["idxs_a"], row["us_a"])
                b_ids, ib, rb, vb = _unpack(row["dids_b"], row["idxs_b"], row["us_b"])
                if len(a_ids) == 0 or len(b_ids) == 0:
                    continue
                # HALF-UP like F.round/DuckDB round (u >= 0 so no sign
                # cases); np.round would be banker's.
                sims = np.floor(
                    _pair_sums(ia, ra, va, len(a_ids), ib, rb, vb, len(b_ids))
                    * 1e4 + 0.5
                ) / 1e4
                pa, pb = np.nonzero(sims >= threshold)
                lo = np.minimum(a_ids[pa], b_ids[pb])
                hi = np.maximum(a_ids[pa], b_ids[pb])
                keep = lo < hi
                out = pd.DataFrame(
                    {
                        "doc_a": lo[keep],
                        "doc_b": hi[keep],
                        "cosine": sims[pa, pb][keep],
                    }
                )
                # same-block tiles hold both orientations of each pair
                yield out.drop_duplicates(["doc_a", "doc_b"])

    return tiles.mapInPandas(score, "doc_a long, doc_b long, cosine double")


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    token_split: str = "[^a-z0-9]+",
) -> DataFrame:
    """Positional-index phrase search: documents containing the exact
    token sequence ``phrase``, with occurrence count and first position.
    The positional companion of surface_token_search — the reference's
    FTS engines (Meilisearch/Lucene, ref /root/reference/meili/main.py:
    92-180) answer phrase queries from a positional inverted index; this
    builds that index as (doc, term, pos) rows and expresses adjacency
    as equi-joins on (doc_id, pos + offset).

    Positions are assigned BEFORE dropping empty tokens (posexplode over
    the raw split array), so they are reproducible from the text alone in
    any engine. Each phrase term is one postings selection; term i joins
    on pos = pos_0 + i — all equi-joins Catalyst can shuffle-hash, no
    window, no regex over the whole text (the naive LIKE '%a b%' scan
    cannot count occurrences or survive tokenization differences).
    """
    if len(phrase) < 2:
        raise ValueError("phrase_search: phrase needs >= 2 terms")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(text_col), token_split)).alias("pos", "term"),
    ).filter(F.col("term") != "")
    first = toks.filter(F.col("term") == phrase[0].lower()).select(
        "doc_id", F.col("pos").alias("p0")
    )
    hits = first
    for i, term in enumerate(phrase[1:], start=1):
        nxt = toks.filter(F.col("term") == term.lower()).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        hits = hits.join(nxt, ["doc_id", "p0"])
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_occurrences"), F.min("p0").alias("first_pos")
    )


def kmeans_lloyd(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd's k-means with cosine assignment and mean
    update — the centroid-REFINEMENT step SemDeDup/IVF leave out
    (sample_centroids explicitly notes "a k-means refine pass can replace
    this"). Returns one row per cluster: (centroid_id, n_members,
    mean_cos) under the final centroids.

    Deterministic and SQL-replayable end to end: centroids seed from the
    portable-md5 draw (same as semantic_dedup), every assignment rounds
    cosine to 6dp with centroid-id tie-break (ivf_assign), and every
    updated mean component is rounded to 6dp IN BOTH ENGINES so float
    noise cannot compound across iterations. Empty clusters keep their
    previous centroid.

    Scale shape per iteration: assignment is a broadcast projection (the
    corpus never shuffles for it); the update is ONE shuffle keyed on
    (cluster, dim) with map-side combine, then a k-row regroup. Lineage
    is truncated per iteration with localCheckpoint.
    """
    from cam_etl_spark.functions.ids import portable_hash60

    if k < 1 or n_iter < 1:
        raise ValueError("kmeans_lloyd: k and n_iter must be >= 1")
    cents = sample_centroids(
        vectors, k, id_col, vec_col,
        hash_fn=lambda c: portable_hash60(c.cast("string")),
    ).localCheckpoint(eager=True)

    from cam_etl_spark.io import unpersist_checkpoint

    for _ in range(n_iter):
        prev_cents = cents
        assigned = ivf_assign(vectors, cents, id_col, vec_col)
        means = (
            assigned.select("centroid_id", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("val"), 6).alias("mval"))
        )
        newc = means.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda s: s["mval"],
            ).alias("new_vec")
        )
        cents = (
            cents.join(newc, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("new_vec", "centroid_vec").alias("centroid_vec"),
            )
            .localCheckpoint(eager=True)
        )
        # the new centroid checkpoint is materialized — the previous
        # round's k-row blocks are dead; free them (the LAST checkpoint
        # stays: the returned plan reads it)
        unpersist_checkpoint(prev_cents)

    final = ivf_assign(vectors, cents, id_col, vec_col)
    cos = cosine_from_norms_sql(
        vec_col, "centroid_vec", l2_norm_sql(vec_col), l2_norm_sql("centroid_vec")
    )
    return (
        final.join(cents, "centroid_id")
        .selectExpr("centroid_id", f"{cos} AS cs")
        .groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("cs"), 4).alias("mean_cos"),
        )
    )


def mmr_select(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int = 3,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick ``k`` results from the ``pool`` most
    relevant candidates, each step maximizing
    ``lam * rel - (1 - lam) * max_sim_to_already_selected`` — the
    retrieval-diversification step of a RAG pipeline (plain top-k returns
    near-duplicates; MMR trades relevance for coverage).

    Deterministic and SQL-replayable: every cosine and every MMR score is
    rounded to 6 decimals before comparison, ties break on ascending id,
    and the greedy recurrence is a fixed ``k``-step loop over the
    collected ``pool``-row candidate set (bounded by the parameter), so
    the corpus is touched exactly once (the relevance scan +
    TakeOrdered(pool) — the ONLY Spark job). ``query_vec`` is a 1-row
    DataFrame with ``vec_col``."""
    if k < 1 or pool < k:
        raise ValueError("mmr_select: need k >= 1 and pool >= k")
    # The single query vector is collected (1 row, bounded by contract —
    # same boundedness class as the pool collect below) and projected as
    # an ARRAY<DOUBLE> literal column: the former broadcast crossJoin
    # spent ~0.25 s of fixed BroadcastExchange+BNLJ machinery per run to
    # attach one constant row. float->double widening is exact and the fold already
    # cast elementwise to double, so every cosine is bit-identical.
    qrow = query_vec.select(F.col(vec_col).alias("q_vec")).limit(1).collect()
    # ONE corpus job: relevance scan + TakeOrdered(pool). The greedy MMR
    # recurrence then runs entirely driver-side over the collected pool —
    # bounded by the ``pool`` parameter (20 rows) by construction, the
    # same boundedness class as the per-step 1-row collect this replaces,
    # which cost k extra jobs plus per-step broadcast/aggregate plans.
    # Float contract preserved exactly: pairwise cosines re-derive the
    # JVM's left-to-right fold (functions/vectors dot_sql/l2_norm_sql are
    # sequential aggregates — identical IEEE-754 op order), and rounding
    # replays java.math.BigDecimal(value).setScale(6, HALF_UP) via
    # decimal.Decimal on the exact binary double — bit-equal to F.round.
    if qrow:
        q_lit = F.lit([float(x) for x in qrow[0]["q_vec"]]).alias("q_vec")
        cos = cosine_from_norms_sql(
            "c_vec", "q_vec", l2_norm_sql("c_vec"), l2_norm_sql("q_vec")
        )
        rows = (
            corpus.select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("c_vec"),
                q_lit,
            )
            .selectExpr("cid", "c_vec", f"round({cos}, 6) AS rel")
            .orderBy(F.desc("rel"), F.asc("cid"))
            .limit(pool)
            .collect()
        )
    else:
        # empty query frame: the old broadcast crossJoin produced an
        # empty pool — same here (the greedy loop raises below)
        rows = []
    from decimal import ROUND_HALF_UP, Decimal

    def round6(x: float) -> float:
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    def cos(a, b) -> float:
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        for x in a:
            na += float(x) * float(x)
        for y in b:
            nb += float(y) * float(y)
        denom = (na ** 0.5) * (nb ** 0.5)
        return 0.0 if denom == 0 else dot / denom

    pool_rows = [(r["cid"], list(r["c_vec"]), float(r["rel"])) for r in rows]
    selected: list[tuple[int, float]] = []  # (cid, rel)
    chosen_vecs: list[list[float]] = []
    for _ in range(k):
        best = None
        for cid, vec, rel in pool_rows:
            if any(cid == s for s, _ in selected):
                continue
            if not selected:
                mmr = rel
            else:
                max_sim = max(round6(cos(vec, sv)) for sv in chosen_vecs)
                mmr = round6(lam * rel - (1 - lam) * max_sim)
            key = (-mmr, cid)
            if best is None or key < best[0]:
                best = (key, cid, vec, rel)
        if best is None:
            raise IndexError("mmr_select: pool exhausted before k picks")
        selected.append((best[1], best[3]))
        chosen_vecs.append(best[2])
    out = [(r + 1, cid, rel) for r, (cid, rel) in enumerate(selected)]
    # LocalRelation, not createDataFrame: the pickled-RDD frame made the
    # 3-row ORDER BY spawn 64 Python-worker tasks per action (~1.2 s of
    # the bench entry); the VALUES literal sorts JVM-side in one task.
    from cam_etl_spark.io import local_values_df

    return local_values_df(
        corpus.sparkSession, out, "rank int, vec_id long, relevance double"
    ).orderBy("rank")


def pq_adc_topk(
    vectors: DataFrame,
    query_id: int,
    m: int = 4,
    ks: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    Search"): vectors are encoded as ``m`` per-subspace codebook ids
    (here codebooks are the deterministic hash-draw — ``kmeans_lloyd`` is
    the refinement that trains them properly, proven separately); a query
    precomputes its distance to every (subspace, code) once, and each
    corpus vector's ADC distance is the sum of ``m`` table lookups —
    the memory-bound scan that makes billion-vector search feasible
    (codes are m bytes, the raw vectors never re-read at query time).

    Plan shape (100 TB): the codebook (m*ks rows, with the query
    distances precomputed on it) is BROADCAST; encode+lookup is one
    projection over corpus x (m*ks); ONE map-side-combined shuffle on
    vec_id does both the per-subspace argmin (min over a
    (dist, code, q_dist) struct, m accumulators) and the ADC sum — then
    TakeOrdered(k). No window over the corpus, no self-join.

    Determinism: encode distances and query distances round to 6dp with
    code-id tie-break; the ADC sum adds the m lookups in fixed subspace
    order and rounds to 6dp before ranking; final order (adc ASC, id ASC).
    """
    from cam_etl_spark.functions.ids import portable_hash60
    from cam_etl_spark.functions.vectors import l2_sq

    if dim is None:
        # one cheap driver-side probe; pass dim explicitly to avoid it
        row = vectors.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError("pq_adc_topk: empty corpus (or pass dim=)")
        dim = len(row[0])
    if m < 1 or dim % m != 0:
        raise ValueError("pq_adc_topk: dim must divide into m subspaces")
    d = dim // m

    vecs = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    seeds = sample_centroids(
        vecs, ks, "vec_id", "vec",
        hash_fn=lambda c: portable_hash60(c.cast("string")),
    )
    qvec = vecs.filter(F.col("vec_id") == query_id).select(
        F.col("vec").alias("q")
    )
    # codebook: (s, cid, cvec, q_dist) — m*ks rows, query distance
    # precomputed once (the "asymmetric" table), then broadcast
    cb = (
        seeds.select(
            "centroid_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("centroid_vec", s * d + 1, d).alias("cvec"),
                    )
                    for s in range(m)
                ])
            ).alias("sub"),
        )
        .select(F.col("centroid_id").alias("cid"), "sub.s", "sub.cvec")
        .crossJoin(qvec)
        .select(
            "s", "cid", "cvec",
            F.round(l2_sq(F.slice("q", F.col("s") * d + 1, d), F.col("cvec")), 6)
            .alias("q_dist"),
        )
    )
    enc = vecs.filter(F.col("vec_id") != query_id).join(F.broadcast(cb))
    choice = F.struct(
        F.round(
            l2_sq(F.slice("vec", F.col("s") * d + 1, d), F.col("cvec")), 6
        ).alias("enc_dist"),
        F.col("cid").alias("cid"),
        F.col("q_dist").alias("q_dist"),
    )
    per_sub = enc.groupBy("vec_id").agg(
        *[
            F.min(F.when(F.col("s") == s, choice)).alias(f"c{s}")
            for s in range(m)
        ]
    )
    adc = F.round(
        sum(F.col(f"c{s}.q_dist") for s in range(m)), 6
    )
    return (
        per_sub.select("vec_id", adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
        .limit(k)
        .select(
            "vec_id", "adc",
            F.row_number()
            .over(Window.orderBy(F.col("adc").asc(), F.col("vec_id").asc()))
            .alias("rank"),
        )
    )
