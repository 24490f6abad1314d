"""Deduplication operators for the documents table: exact, n-gram Jaccard,
MinHash+LSH, SimHash. The reference's dedup surface is groupBy-HAVING
duplicate detection and DISTINCT-then-join (SURVEY A4/J4,
/root/reference/etl-notes.md:486-510); these extend it to near-dup detection
at training-data scale.

Scale notes (100 TB): every operator here avoids the O(n²) cross join —
candidate pairs come from equi-join shuffles on content-derived keys
(fingerprint, shingle, band hash, hamming block), so the shuffle volume is
proportional to data + duplicate mass, not pairs. The pairwise verify step
only runs on bucket-collided candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cam_etl_spark.functions.ids import portable_hash60
from cam_etl_spark.functions.vectors import cosine_from_norms_sql, l2_norm_sql
from cam_etl_spark.functions.text import (
    doc_fingerprint,
    hashed_shingles_from_tokens,
    tokens,
    word_shingles,
)


def shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """Materialized (id, sh_set) frame of hashed k-word shingles — the
    shared front end of the jaccard and minhash paths. Two-select staging:
    the token array becomes a real attribute before the shingle expression
    references it k+3 times (see hashed_shingles_from_tokens — inlining
    re-runs the regex split per reference and makes codegen compile the
    duplicated tree; measured 2× per-row, ~5× cold at sf0.1). Eagerly
    checkpointed because every caller scans it at least twice (index side +
    verify side) and the naive DAG re-shingles 3-4× (13.8 s → ~6 s)."""
    return (
        df.select(F.col(id_col).alias("id"), tokens(F.lower(F.trim(F.col(text_col)))).alias("toks"))
        .select("id", hashed_shingles_from_tokens(F.col("toks"), k).alias("sh_set"))
        .localCheckpoint(eager=True)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each normalized-content
    fingerprint group. One shuffle on the fingerprint."""
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("fp", doc_fingerprint(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("fp", "rn")
    )


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fingerprint groups with >1 member (the reference's GROUP BY … HAVING
    count>1 duplicate probe, /root/reference/etl-notes.md:486-510)."""
    return (
        df.withColumn("fp", doc_fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity over k-word shingle sets for all candidate
    pairs sharing ≥1 shingle.

    Plan shape: explode shingles → self-equi-join on shingle (inverted
    index, NOT a cross join) → count shared shingles per pair → Jaccard from
    |A∩B| / (|A|+|B|-|A∩B|). The shingle join is the only shuffle that
    scales with corpus size; hot shingles can be frequency-capped upstream.
    """
    # (id, sh) is distinct by construction: shingle_sets array_distincts
    # per document — no dedup shuffle needed before indexing. set_size rides
    # along from the array, so the rank window below needs no second
    # full-frame count expression.
    sets = shingle_sets(df, text_col, id_col, k)
    sh = sets.select("id", F.size("sh_set").alias("set_size"), F.explode("sh_set").alias("sh"))
    # --- Prefix filtering (AllPairs/Bayardo): under a global rarest-first
    # shingle order, two sets with jaccard >= t MUST share an element within
    # their first |A| - ceil(t*|A|) + 1 shingles. Only those prefixes are
    # indexed, so hot shingles (the m^2 pair-explosion source) fall out of
    # the inverted index except for the few docs where they rank early.
    # Exact: candidate generation is lossless for the threshold — any
    # CONSISTENT global order is correct; rarest-first maximizes pruning.
    # Only shingles with df >= 2 can rank above a unique one, so the
    # frequency table is filtered to them (unique shingles tie at df=1 and
    # break by hash value) and broadcast back onto the exploded index —
    # replacing a sort-merge join that exchanged the whole (id, sh) table a
    # second time. Past the broadcast cutoff this degrades to that shuffle
    # join; at corpus scale the df>=2 table is the duplicate mass, not the
    # corpus, so the cutoff holds far longer than a raw freq table would.
    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df_freq"))
        .filter(F.col("df_freq") > 1)
        .localCheckpoint(eager=True)
    )
    hot_side = F.broadcast(hot) if hot.count() <= 5_000_000 else hot
    w_rank = Window.partitionBy("id").orderBy(F.col("df_freq").asc(), F.col("sh").asc())
    ranked = sh.join(hot_side, "sh", "left").select(
        "id",
        "sh",
        "set_size",
        F.coalesce("df_freq", F.lit(1)).alias("df_freq"),
    )
    prefix = (
        ranked.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= F.col("set_size") - F.ceil(threshold * F.col("set_size")) + 1)
        .drop("df_freq")
    )  # both self-join sides share the index via ReuseExchange — the
    # window's partitionBy("id") exchange is identical on both aliases, so
    # Spark computes it once; an eager localCheckpoint here measured ~1 s
    # SLOWER at sf0.1 (full materialize + barrier for no extra reuse).
    # (An explicit cluster-width repartition on "sh" here — the
    # simhash_near_pairs trick — DEFEATS that reuse: the duplicated
    # shingle+window subtree cost far more than the wider join saved;
    # measured 1.6 s -> 3.7 s at sf0.1. Left coalesced deliberately.)
    a, b = prefix.alias("a"), prefix.alias("b")
    # Two lossless prunes folded into the join:
    # (1) size-ratio: jaccard >= t ⟹ t <= |A|/|B| <= 1/t;
    # (2) PPJoin positional filter: overlap >= ceil(t/(1+t)·(|A|+|B|)) is
    #     required for jaccard >= t, and for the EARLIEST common shingle
    #     (positions pA, pB in the global rarest-first order) the true
    #     overlap is <= 1 + min(|A|-pA, |B|-pB) — so that row always passes
    #     and the pair survives the per-row filter + distinct. Matches late
    #     in both prefixes fail it, which is exactly where hot shingles
    #     land under rarest-first — the m² pair-explosion rows.
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.set_size") + F.col("b.set_size"))
    )
    cands = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.set_size") >= threshold * F.col("b.set_size"))
            & (F.col("b.set_size") >= threshold * F.col("a.set_size"))
            & (
                F.lit(1)
                + F.least(
                    F.col("a.set_size") - F.col("a.rn"), F.col("b.set_size") - F.col("b.rn")
                )
                >= min_overlap
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # --- Verify candidates only: exact jaccard from the full shingle sets
    # (the checkpointed frame — no re-shingling).
    return _verify_jaccard(cands, sets, threshold)


def _verify_jaccard(cands: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact-jaccard verify over candidate (id_a, id_b) pairs. ``sets`` must
    be a MATERIALIZED (id, sh_set) frame of hashed_word_shingles longs
    (checkpointed/cached) — it is scanned twice. Two byte-level tricks keep
    this stage from dominating: (1) the sets are 64-bit shingle hashes, not
    strings — same jaccard (collision odds ~|shingle vocab|²/2⁶⁴), ~5×
    smaller rows; (2) broadcast the record side when it fits, so the pair
    table never shuffles (measured 7.9 s → ~1 s at sf0.1). Past the
    broadcast cutoff this degrades gracefully to a shuffle join carrying
    the same hashed payload."""
    sets_h = sets.select("id", F.col("sh_set").alias("hs"))
    if sets.count() <= 500_000:  # count is free: sets is materialized
        sets_h = F.broadcast(sets_h)
    # (A cluster-width repartition of cands here to spread the
    # array_intersect verify measured NET ZERO at sf0.1 — the extra
    # exchange+barrier costs what the wider stage saves. Left coalesced.)
    # |A∪B| = |A| + |B| − |A∩B|: one hash-set pass per pair instead of two
    # (array_union rebuilds the set array_intersect already built).
    inter = F.size(F.array_intersect("set_a", "set_b"))
    return (
        cands.join(sets_h.select(F.col("id").alias("id_a"), F.col("hs").alias("set_a")), "id_a")
        .join(sets_h.select(F.col("id").alias("id_b"), F.col("hs").alias("set_b")), "id_b")
        .withColumn("jaccard", inter / (F.size("set_a") + F.size("set_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _min_hash_agg(sh: DataFrame, num_hashes: int) -> DataFrame:
    """One row per id with columns m0..m{n-1}: the num_hashes seeded minhash
    values, from an exploded (id, sh) frame. Shape: num_hashes seeded
    xxhash64 in ONE projection (each computed exactly once per shingle;
    native codegen — the earlier salted md5+substring+conv chain did ~10×
    the work per hash) → groupBy-min with map-side partial aggregation. No
    higher-order-function lambdas in the hot loop (HOF bodies re-evaluate
    embedded subtrees per element, measured 330 s vs 3 s at sf0.1)."""
    hashed = sh.select(
        "id",
        *[F.xxhash64(F.lit(i), F.col("sh")).alias(f"h{i}") for i in range(num_hashes)],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), k)).alias("sh")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """MinHash signature per document: for hash function i, the minimum over
    shingles of a seeded 64-bit hash. One explode + one aggregation."""
    agg = _min_hash_agg(_exploded_shingles(df, text_col, id_col, k), num_hashes)
    return agg.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("signature")
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, band, bucket) rows, one per band: bucket = xxhash64 over that
    band's rows_per_band minhashes (bucket ids only need equality — no
    reason to pay for md5 strings). Banding is a single projection over the
    aggregated minhash columns — each hash referenced once, nothing
    recomputed."""
    agg = _min_hash_agg(
        _exploded_shingles(df, text_col, id_col, k), bands * rows_per_band
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return agg.select(F.col("id"), F.explode(band_structs).alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )


def _banded_self_join(banded: DataFrame) -> DataFrame:
    """Distinct id pairs colliding in any (band, bucket). The bucket is the
    shuffle key → near-dups co-locate, everything else spreads uniformly."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Band precomputed signatures and equi-join on (band, band-hash): pairs
    agreeing on all rows of any band collide. Pass a MATERIALIZED signatures
    frame (parquet/cached) — on a raw ``minhash_signatures`` projection the
    element_at calls inline-recompute the array (see that docstring); prefer
    ``minhash_banded`` when starting from text."""
    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("signature", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    return _banded_self_join(banded)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verify on the
    candidates ONLY. Returns (id_a, id_b, jaccard ≥ threshold).

    The verify step joins each candidate pair with the two documents'
    distinct-shingle arrays and computes |A∩B| / |A∪B| with
    array_intersect/array_union — per-pair cost, never a corpus-wide
    inverted-index self-join (that exact-all-pairs path is
    ``ngram_jaccard_pairs``; LSH exists to avoid it)."""
    rows_per_band = num_hashes // bands
    # Shingle ONCE (the regex tokenize + zip-slice shingling is the most
    # expensive projection; the signature and verify paths both need it) —
    # then materialize the banded index before self-joining: it's tiny
    # (N×bands short rows) and both join sides would otherwise re-run the
    # whole shingle+hash pipeline. Same reasoning holds on a cluster — the
    # index is the thing you keep, the text scan is the thing you do once.
    sets = shingle_sets(df, text_col, id_col, k)
    banded = banded_from_sets(sets, bands, rows_per_band)
    cands = _banded_self_join(banded)
    return _verify_jaccard(cands, sets, threshold)


def banded_from_sets(
    sets: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) LSH index from a materialized (id, sh_set)
    shingle frame — the candidate-generation half of
    ``minhash_dedup_pairs``, shared with the streaming band index so the
    incremental path produces byte-identical buckets to the batch path."""
    sh = sets.select("id", F.explode("sh_set").alias("sh"))
    agg = _min_hash_agg(sh, bands * rows_per_band)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return (
        agg.select(F.col("id"), F.explode(band_structs).alias("bb"))
        .select("id", "bb.band", "bb.bucket")
        .localCheckpoint(eager=True)
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """SimHash over word tokens: bit j of the hash is 1 iff the sum over
    tokens of ±1 (by bit j of the token hash) is positive. Near-dups differ
    in few bits (small Hamming distance).

    Shape: explode tokens → one 60-bit hash per row → groupBy with packed
    lane-counter SUMs (map-side combine). Same rationale as
    ``_min_hash_agg``: the hash is computed once per token, not once per
    bit."""
    nbits = min(bits, 60)
    # Stage the token array before exploding (same CollapseProject reasoning
    # as shingle_sets); k=1 shingles are just array_distinct(toks).
    tok = (
        df.select(F.col(id_col).alias("id"), tokens(F.lower(F.trim(F.col(text_col)))).alias("toks"))
        .select("id", F.explode(F.array_distinct("toks")).alias("tok"))
        .select("id", portable_hash60(F.col("tok")).alias("h"))
    )
    # Packed bit-count aggregation: 3 bit-counters per long in 20-bit lanes
    # (lane cap 2²⁰−1 ≈ 1M distinct tokens/doc — chunk mega-docs upstream),
    # so nbits sums become ceil(nbits/3) branchless ones. vote_j > 0 ⟺
    # popcount_j > n/2, recovered after the agg from the packed counters —
    # bit-identical to the per-bit ±1 sums, measured ~1.5× on the agg stage
    # (smaller agg buffers, no per-row conditionals, 4× less codegen).
    lanes, width = 3, 20
    ngroups = -(-nbits // lanes)
    # Aggregate expressions as SQL TEXT (one F.expr per lane group instead
    # of ~15 Column calls each): `CAST(0 AS BIGINT) + t0 + t1 + t2` parses
    # to the identical left-associated Add tree the old
    # sum([...], F.lit(0).cast("long")) built, and `&`/shiftleft/shiftright
    # are the same functions — bit-identical aggregation, ~10x fewer py4j
    # round-trips on this query's hottest build block.
    def _lane_sum(g: int) -> str:
        terms = " + ".join(
            f"shiftleft(shiftright(h, {g * lanes + l}) & 1, {width * l})"
            for l in range(lanes)
            if g * lanes + l < nbits
        )
        return f"SUM(CAST(0 AS BIGINT) + {terms}) AS p{g}"

    packed = tok.groupBy("id").agg(
        F.count("*").alias("n"),
        *[F.expr(_lane_sum(g)) for g in range(ngroups)],
    )
    # Bit reconstruction as ONE higher-order aggregate over the packed
    # counters instead of a 60-term when/shift OR-chain: bit-identical
    # output, but the expression tree shrinks ~20x, which cuts the
    # driver-side analysis/optimization time of this plan from ~1.4 s to
    # ~0.1 s (measured; the per-row lambda over 60 indices is noise next
    # to the token aggregation).
    parr_txt = "array(" + ", ".join(f"p{g}" for g in range(ngroups)) + ")"
    mask = (1 << width) - 1
    sim_txt = (
        f"aggregate(sequence(0, {nbits - 1}), CAST(0 AS BIGINT), "
        "(acc, j) -> acc + IF("
        f"2 * (shiftright(element_at({parr_txt}, CAST(j DIV {lanes} AS INT) + 1), "
        f"{width} * CAST(j % {lanes} AS INT)) & {mask}) > n, "
        "shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)), CAST(0 AS BIGINT)))"
    )
    # The reconstruction aggregate is INTERPRETED (higher-order functions
    # don't codegen), ~70 µs/row — and AQE coalesces the final-agg read to
    # ONE task at fixture scale (few hundred KB), serializing it (measured
    # 356 ms single-task). An explicit cluster-width repartition on the agg
    # key is not coalesced, so the per-doc reconstruction runs wide; the
    # extra exchange moves only the packed counters (a few MB at 100 TB
    # per partition — trivially small either way).
    # coalesce(sim, 0): sim is never null (aggregate over non-null packed
    # counters), but element_at leaves the expression NULLABLE — so the
    # segment join downstream infers isnotnull(segment), rewrites it to
    # isnotnull(<the whole interpreted aggregate>), and pushes it below
    # the repartition: the 60-step HOF then ran TWICE per doc, once on
    # the AQE-coalesced single task (the 356 ms serial stage in the
    # before-timeline). The non-nullable coalesce constant-folds the
    # inferred filter away entirely.
    par = df.sparkSession.sparkContext.defaultParallelism
    # ONE selectExpr (the packed-counter array is inlined into the
    # reconstruction text instead of a withColumn("parr", ...) staging
    # column — same expression tree after alias substitution).
    return packed.repartition(par, "id").selectExpr(
        "id", f"coalesce({sim_txt}, CAST(0 AS BIGINT)) AS simhash"
    )


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 3, blocks: int = 4) -> DataFrame:
    """Hamming-ball pairing at scale: split the 60-bit hash into ``blocks``
    segments; by pigeonhole any pair within ``max_hamming < blocks`` bits
    agrees on ≥1 whole segment → equi-join per segment, then verify the true
    Hamming distance with bit_count(xor)."""
    width = 60 // blocks
    # Segment templates as ONE parsed expression (the Column-chain builder
    # cost ~8 py4j calls per block struct); explode of a plain struct
    # array stays fully codegen'd (no HOF), and the parsed tree is the
    # same int-literal block + shifted/masked segment pair.
    seg_arr = ", ".join(
        f"struct({i} AS block, shiftright(simhash, {i * width}) & {(1 << width) - 1}"
        " AS segment)"
        for i in range(blocks)
    )
    seg = sims.selectExpr(
        "id", "simhash", f"explode(array({seg_arr})) AS s"
    ).select("id", "simhash", "s.block", "s.segment")
    # Pin the join's partitioning at cluster width: the seg frame is a few
    # hundred KB, so AQE coalesces the join's exchange to ONE task — but
    # the m² candidate expansion behind it is compute-bound, not
    # byte-bound (measured 666 ms serial at sf0.1). An explicit-width
    # repartition on exactly the equi-join key is not coalesced, and both
    # aliases reuse the single exchange.
    par = sims.sparkSession.sparkContext.defaultParallelism
    seg = seg.repartition(par, "block", "segment")
    a, b = seg.alias("a"), seg.alias("b")
    # First-matching-block emission instead of a trailing distinct: a pair
    # sharing m segments met the equi-join m times, and the old
    # dropDuplicates re-shuffled EVERY surviving candidate to collapse
    # those repeats (profiled at sf0.1: 613k partial rows, an 18.7 MiB
    # exchange with one 6.7 MiB skewed task, + a whole final-agg stage for
    # 271k unique pairs). Both simhashes are already on the candidate row,
    # so "is this the first block where the pair agrees?" is a pure
    # per-row expression — keep the row iff the join's block IS the
    # pair's minimal matching block, and every qualifying pair survives
    # exactly once. Same pair set, same hamming, one exchange fewer and
    # zero dedup shuffle (guide §2.4: remove shuffles outright).
    first_match = "CASE " + " ".join(
        f"WHEN (shiftright(a.simhash, {i * width}) & {(1 << width) - 1}) = "
        f"(shiftright(b.simhash, {i * width}) & {(1 << width) - 1}) THEN {i}"
        for i in range(blocks)
    ) + " END"
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.segment") == F.col("b.segment"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(F.expr(f"a.block = {first_match}"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): rolling char
    k-gram hashes → min per sliding window of w hashes → distinct minima.
    Guarantees any match of length ≥ w+k-1 shares a fingerprint, with
    density 2/(w+1) — the rolling-hash fingerprint family at corpus scale.

    Shape: ZERO shuffles — the whole scheme is per-document, so it runs
    array-wise inside one narrow stage: grams → hash array → sliding min
    via w zipped slices → array_distinct → explode. Distinct-within-doc
    equals distinct-over-(id, fp) because id is in the output key. The
    earlier posexplode + window form shuffled one row per character and
    sorted per doc (7.5 s → ~1 s at sf0.1); it also embedded
    lower(trim(text)) inside the gram lambda, re-evaluating the O(len)
    normalization once per element (HOF lambdas re-run embedded subtrees —
    see word_shingles)."""
    staged = df.select(F.col(id_col).alias("id"), F.lower(F.trim(F.col(text_col))).alias("s"))
    s = F.col("s")
    # All overlapping k-grams in ONE native regex pass (lookahead capture;
    # (?s) so grams span newlines like substring does). The earlier
    # transform(sequence, substring) HOF evaluated an interpreted substring
    # per character — gram building, not md5, dominated the stage (measured
    # 4.7 s → 2.7 s end-to-end at sf0.1). len < k falls back to one
    # whole-string gram, matching the substring form's truncated window.
    grams = F.when(F.length(s) < k, F.array(s)).otherwise(
        F.regexp_extract_all(s, F.lit(f"(?s)(?=(.{{{k}}}))"), 1)
    )
    # Hash array staged as a real column: the w slices below then reference
    # an attribute (evaluated once), never w inlined copies of the md5 loop.
    hashed = staged.select("id", F.transform(grams, portable_hash60).alias("h"))
    h = F.col("h")
    n = F.size(h)
    # n ≥ w: n-w+1 full windows; n < w: n ragged suffix windows (matches the
    # window-function form, where trailing frames truncate). Out-of-range
    # slices come back short, arrays_zip null-pads, and least() skips nulls.
    m = F.when(n >= w, n - w + 1).otherwise(n)
    zipped = F.arrays_zip(*[F.slice(h, j + 1, m) for j in range(w)])
    fps = F.array_distinct(
        F.transform(zipped, lambda z: F.least(*[z[str(j)] for j in range(w)]))
    )
    return hashed.select("id", F.explode(fps).alias("fp"))


def embedding_near_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact: all (a < b) pairs with
    cosine ≥ threshold. O(n²) scoring — correct as the oracle/baseline; the
    100 TB path is the LSH/IVF candidate generation in
    operators.similarity (same verify expression over candidates only)."""
    import numpy as np
    import pandas as pd

    # Broadcast-matrix scoring: one side of the all-pairs product is
    # collected, L2-normalized, and broadcast (the similarity analogue of a
    # broadcast join — bounded by the broadcast side, 2000×64 floats here);
    # each corpus partition then scores block @ matrixᵀ with BLAS inside
    # mapInPandas. 94 s → ~2 s at sf0.1 vs the interpreted per-pair HOF
    # fold. For corpora too big to broadcast, tile the right side or use
    # the LSH/IVF candidate path in operators.similarity.
    rows = df.select(id_col, vec_col).collect()
    if not rows:
        return df.sparkSession.createDataFrame([], "id_a long, id_b long, cosine double")
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    matn = mat / norms[:, None]
    sc = df.sparkSession.sparkContext
    b_ids, b_mat = sc.broadcast(ids), sc.broadcast(matn)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            block = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            bn = np.linalg.norm(block, axis=1)
            bn[bn == 0] = 1.0
            sims = (block / bn[:, None]) @ b_mat.value.T
            ia, ib = np.nonzero(sims >= threshold)
            keep = a_ids[ia] < b_ids.value[ib]
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ia][keep],
                    "id_b": b_ids.value[ib][keep],
                    "cosine": np.round(sims[ia, ib][keep], 6),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(score, "id_a long, id_b long, cosine double")


def embedding_near_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact and DISTRIBUTED: no
    driver ``collect()`` anywhere in the plan.

    Blocked all-pairs product: vectors are hashed into ``n_blocks`` blocks,
    each block's vectors are packed into one row (collect_list inside an
    executor-side groupBy — one shuffle of the corpus), and the B(B+1)/2
    unordered block pairs are scored independently with one BLAS
    ``A @ B.T`` per pair inside mapInPandas. Per-task memory is two blocks;
    at 100 TB you size ``n_blocks`` so a block is a few hundred MB and get
    n·B bytes of replication for n²/2 flops of exact scoring — the flops are
    inherent to EXACT all-pairs, but they are spread over the cluster with
    no single-machine bottleneck.

    Why not LSH candidates here: hyperplane LSH only separates at HIGH
    cosine thresholds. At the 0.40 threshold this corpus needs (its cosine
    range is low), the per-plane collision probability is 1-θ/π ≈ 0.63 vs
    0.5 for random pairs — any banding with near-1 recall admits more
    candidates than brute force. The LSH candidate path (operators.
    similarity) is the right 100 TB plan at ≥0.8-style thresholds and has
    its own recall-oracle catalog entry; this operator is the exact path,
    distributed properly.
    """
    import numpy as np
    import pandas as pd

    packed = (
        df.select(
            F.col(id_col).alias("id").cast("long"), F.col(vec_col).alias("vec")
        )
        .withColumn(
            "blk",
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_blocks)).cast("int"),
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "vec")).alias("items"))
    )
    left = packed.select(F.col("blk").alias("blk_a"), F.col("items").alias("items_a"))
    right = packed.select(F.col("blk").alias("blk_b"), F.col("items").alias("items_b"))
    # B×B tiny join (≤ n_blocks rows a side); the <= predicate enumerates
    # each unordered block pair exactly once.
    pairs = left.join(right, F.col("blk_a") <= F.col("blk_b")).repartition(
        n_blocks * (n_blocks + 1) // 2
    )

    def _unpack(items):
        ids = np.fromiter((it["id"] for it in items), dtype=np.int64, count=len(items))
        mat = np.array([list(it["vec"]) for it in items], dtype=np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        nrm[nrm == 0] = 1.0
        return ids, mat / nrm[:, None]

    def score(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                a_ids, a_mat = _unpack(row["items_a"])
                b_ids, b_mat = _unpack(row["items_b"])
                sims = a_mat @ b_mat.T
                ia, ib = np.nonzero(sims >= threshold)
                # same-block pairs appear with both orientations in the one
                # tile; cross-block tiles appear once — order ids in both.
                lo = np.minimum(a_ids[ia], b_ids[ib])
                hi = np.maximum(a_ids[ia], b_ids[ib])
                keep = lo < hi
                out = pd.DataFrame(
                    {
                        "id_a": lo[keep],
                        "id_b": hi[keep],
                        "cosine": np.round(sims[ia, ib][keep], 6),
                    }
                )
                yield out.drop_duplicates(["id_a", "id_b"])

    return pairs.mapInPandas(score, "id_a long, id_b long, cosine double")


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.40,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then drop near-duplicate
    pairs WITHIN clusters only — the pairwise work is corpus²/k instead of
    corpus², and each cluster dedups independently (the equi-join on
    cluster id is the only wide op; no all-pairs shuffle).

    Determinism for the oracle: centroids are the ``n_clusters`` corpus
    vectors with the smallest portable 60-bit md5 hash (reproducible in
    ANSI SQL, unlike xxhash64), assignment rounds cosine to 6dp with the
    centroid id as tie-break, and the drop rule is greedy-by-id (a row is
    dropped iff a lower id in its cluster sits at/above the threshold —
    the standard SemDeDup keep-one-per-neighborhood approximation).

    Returns one row per corpus vector: (id, centroid_id, kept)."""
    from cam_etl_spark.operators.similarity import ivf_assign, sample_centroids

    cents = sample_centroids(
        corpus,
        n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        hash_fn=lambda c: portable_hash60(c.cast("string")),
    )
    assigned = ivf_assign(
        corpus.select(F.col(id_col), F.col(vec_col)), cents, id_col, vec_col, n_probe=1
    )
    a = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
    )
    b = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.expr(cosine_from_norms_sql(
                "vec_a", "vec_b", l2_norm_sql("vec_a"), l2_norm_sql("vec_b")
            )) >= threshold
        )
        .select(F.col("id_b").alias("drop_id"))
        .distinct()
    )
    return (
        assigned.join(
            dropped, assigned[id_col] == dropped["drop_id"], "left"
        )
        .select(
            F.col(id_col),
            "centroid_id",
            F.col("drop_id").isNull().alias("kept"),
        )
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring-level duplicate spans — the ExactSubstr operator of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" (arXiv:2107.06499, §4.1: any length-k token window occurring
    more than once in the corpus marks its region duplicated; the paper
    uses k=50 BPE tokens via a corpus suffix array). Distributed, the same
    semantics come from k-gram keys: every duplicated window is a
    duplicated gram, and the maximal duplicated regions are the union of
    overlapping/adjacent duplicated windows — a gaps-and-islands merge.

    Plan shape (100 TB): tokenize (scan-shaped) → slide k-windows (one
    posexplode, corpus-token-count rows) → groupBy gram digest with
    map-side partial count (shuffle ∝ tokens) → equi-join hits back on
    the same key → per-doc interval merge as two window functions over a
    doc_id shuffle. No pair explosion anywhere: volume is corpus size +
    duplicate mass, never O(n²) — the suffix array's sequential advantage
    is replaced by Spark's shuffle parallelism. The gram key is 128 bits
    of two-seed xxhash64 over the token slice (see the inline note below):
    content-exact up to hash collision; the ORACLE replays the same
    duplicate structure over md5 of the joined gram text — both keyings
    are injective on token sequences up to collision, so the span sets
    agree.

    Returns one row per maximal duplicated span:
    (doc_id, span_start, span_end, span_tokens) — token indices, end
    exclusive, over whitespace tokens.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            tokens(F.coalesce(F.col(text_col), F.lit(""))), lambda x: x != ""
        ).alias("tk"),
    )
    # Gram key: 128 bits of xxhash64 over the token SLICE (two seeds), not
    # md5 over the joined string. Equivalent duplicate structure — both
    # keyings are injective on token sequences (tokens carry no whitespace,
    # and Spark hashes each array element as its own unit) up to hash
    # collision, and 2×64 bits keeps corpus-scale collisions negligible.
    # Wins (guide §2.2/§4): no per-position string build (array_join was
    # O(k) char copies per gram), no crypto hash, and the agg/join key is a
    # 16-byte struct instead of a 32-byte hex string — narrower shuffle.
    grams = toks.filter(F.size("tk") >= k).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - k),
                lambda i: F.struct(
                    F.xxhash64(F.lit(1), F.slice("tk", i + 1, k)).alias("h1"),
                    F.xxhash64(F.lit(2), F.slice("tk", i + 1, k)).alias("h2"),
                ),
            )
        ).alias("pos", "gk"),
    )
    # ONE gram expansion, not two: the old {groupBy count + join back}
    # shape computed the k-token slice hashing TWICE from the scan (the
    # groupBy's map-side partial agg sits below its exchange, so the two
    # exchange subtrees differ and neither plan-level nor AQE runtime
    # exchange reuse fires — both ~13 s halves of the hot stage at sf0.1
    # were the SAME expansion). A per-gram COUNT WINDOW expresses the
    # identical predicate — keep a gram occurrence iff its gram's global
    # count >= min_count — with one expansion and one exchange on the
    # gram key (the window's sort replaces the join's). Same rows out.
    wg = Window.partitionBy("gk")
    hits = (
        grams.withColumn("n", F.count("*").over(wg))
        .filter(F.col("n") >= min_count)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        hits.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), F.max("pos").alias("m"))
        .select(
            "doc_id",
            F.col("s").cast("long").alias("span_start"),
            (F.col("m") + k).cast("long").alias("span_end"),
            (F.col("m") + k - F.col("s")).cast("long").alias("span_tokens"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lee et al.'s removal step: drop every token covered by a duplicate
    span, keep the rest in order (documents without spans pass through).
    Column algebra only — the span list per doc is collect_list'ed (spans
    per doc are few by construction: they are maximal, hence disjoint)
    and applied with a positional array filter, so removal is one left
    join + one scan, no per-row Python."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            tokens(F.coalesce(F.col(text_col), F.lit(""))), lambda x: x != ""
        ).alias("tk"),
    )
    agg = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp")
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("sp"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    return toks.join(agg, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("sp").isNull(), F.array_join("tk", " "))
        .otherwise(
            F.array_join(F.filter("tk", lambda x, i: ~covered(i)), " ")
        )
        .alias("clean_text"),
    )


def banded_hamming_pairs(
    bands_df: DataFrame,
    band_cols: list[str],
    max_hamming: int,
    id_col: str = "doc_id",
    extra_key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Banded-LSH candidate generation + exact Hamming verify over
    PRE-COMPUTED fingerprint bands — the shared skeleton of the
    perceptual near-dup family (image dHash / audio frame-energy /
    per-frame video dHash).

    ``bands_df`` holds one row per item: ``id_col``, the optional
    ``extra_key_cols`` (e.g. a frame index — candidates must agree on
    them), and the integer ``band_cols``. Pigeonhole: two items whose
    fingerprints differ in <= max_hamming bits share at least one band
    whenever fewer bands than ``len(band_cols)`` are touched, so the
    blocking join on (extra keys, band_idx, band_value) is lossless for
    thresholds below 16 * (len(band_cols) - 1) + 15 in the worst case
    and verified exactly by the full Hamming distance either way.

    Plan shape: explode the bands, then an EXPLICIT repartition on the
    join keys ABOVE the (usually expensive — a decode) producer, so
    both self-join aliases share one exchange via ReuseExchange and the
    producer runs ONCE; then one candidate hash join and one pair-dedup
    exchange. Linear in band-bucket collisions, never all-pairs.

    Returns (doc_l, doc_r, *extra_key_cols, hamming) with
    hamming <= max_hamming, one row per (pair, extra keys)."""
    keys = list(extra_key_cols)
    e = bands_df.select(
        id_col, *keys, *band_cols,
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("i"), F.col(c).alias("band"))
            for i, c in enumerate(band_cols)
        ])).alias("k"),
    ).select(
        id_col, *keys, *band_cols,
        F.col("k.i").alias("i"), F.col("k.band").alias("band"),
    ).repartition(*keys, "i", "band")
    ham = sum(
        F.bit_count(F.col(f"l.{c}").bitwiseXOR(F.col(f"r.{c}")))
        for c in band_cols
    )
    cond = (
        (F.col("l.i") == F.col("r.i"))
        & (F.col("l.band") == F.col("r.band"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    )
    for kcol in keys:
        cond = cond & (F.col(f"l.{kcol}") == F.col(f"r.{kcol}"))
    return (
        e.alias("l")
        .join(e.alias("r"), cond)
        .select(
            F.col(f"l.{id_col}").alias("doc_l"),
            F.col(f"r.{id_col}").alias("doc_r"),
            *[F.col(f"l.{kcol}").alias(kcol) for kcol in keys],
            ham.cast("long").alias("hamming"),
        )
        # filter first (hamming is a pure function of the pair): the
        # dedup exchange then carries only surviving near-pairs, not
        # every banded candidate — result-identical, fewer shuffled rows
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def cdc_chunks(docs: DataFrame, divisor: int = 16,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """CONTENT-DEFINED chunking (the shift-robust alternative to
    fixed-width chunks): tokenize on whitespace, then cut a chunk
    boundary after token i whenever the first 32 bits (high-order —
    hex digits 1-8 of the digest) of
    md5(w_{i-2} ' ' w_{i-1} ' ' w_i) are divisible by ``divisor`` —
    a LOCAL decision over a 3-token window, so inserting or deleting
    text realigns boundaries within ~3 tokens while fixed 20-token
    chunks shift EVERY downstream fingerprint (pinned in
    tests/test_operators.py). Average chunk length ~= divisor
    tokens. Returns (id_col, chunk_no, h) with h = md5 of the
    chunk's space-joined tokens.

    Scale shape: posexplode -> one exchange on the doc id (the lag
    window + running boundary count are both per-doc and linear) ->
    the chunk groupBy reuses the SAME partitioning, so corpus-wide
    counting costs one further fingerprint shuffle exactly like the
    fixed-chunk pipeline. No pairwise comparisons anywhere."""
    toks = docs.select(
        id_col,
        F.expr(
            f"CASE WHEN trim({text_col}) = '' THEN array() "
            f"ELSE split(trim({text_col}), '\\\\s+') END"
        ).alias("tk"),
    )
    pos = toks.select(
        id_col, F.posexplode("tk").alias("i0", "w")
    ).withColumn("i", F.col("i0") + 1).drop("i0")
    w_doc = Window.partitionBy(id_col).orderBy("i")
    h3 = F.conv(
        F.substring(
            F.md5(F.concat_ws(
                " ",
                F.lag("w", 2).over(w_doc),
                F.lag("w", 1).over(w_doc),
                F.col("w"),
            )),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    flagged = pos.withColumn(
        "b",
        F.when((F.col("i") >= 3) & (h3 % divisor == 0), 1).otherwise(0),
    )
    numbered = flagged.withColumn(
        "chunk_no",
        F.coalesce(
            F.sum("b").over(
                w_doc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    return numbered.groupBy(id_col, "chunk_no").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda x: x["w"],
                ),
            )
        ).alias("h")
    )


def dedup_batch_against_index(
    batch: DataFrame,
    idx: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """One ingest batch deduped against a PERSISTED prior-corpus LSH
    index — the per-micro-batch kernel shared by the batch
    (`dedup_incremental_lsh`) and streaming (`stream_dedup_incremental`)
    entry points, so both paths produce byte-identical pairs. ``idx``
    is the (id, band, bucket) band index and ``store`` the (id, sh_set)
    hashed shingle store, both read from tables bucketed on their join
    keys: the equi-join below plans with ZERO Exchange on the persisted
    side (pinned in tests/test_plans_scale.py) — the daily/streaming
    job shuffles only the new batch, never the corpus. Returns
    (id_a=prior, id_b=new, jaccard) exact-verified pairs ≥ threshold."""
    new_sets = shingle_sets(batch, text_col, id_col, k)
    new_banded = banded_from_sets(new_sets, bands=bands,
                                  rows_per_band=rows_per_band)
    cands = (
        new_banded.alias("n")
        .join(idx.alias("p"), ["band", "bucket"])
        .select(F.col("p.id").alias("id_a"),
                F.col("n.id").alias("id_b"))
        .distinct()
    )
    # prior shingles come from the persisted store, SEMI-JOINED to
    # the batch's candidate ids first — never materialize the whole
    # corpus store per (micro-)batch; the store is bucketed on id so
    # its side of the semi-join plans without an Exchange. Only this
    # bounded frame is checkpointed (cands stays lazy so the cheap
    # band join re-runs once here and once in the verify — keeping
    # the full bucketed-join shape in the final plan). id domains
    # are disjoint, so one unioned lookup frame serves both sides.
    store_hits = store.join(
        cands.select(F.col("id_a").alias("id")).distinct(),
        "id", "left_semi")
    sets_all = store_hits.union(new_sets).localCheckpoint(eager=True)
    return _verify_jaccard(cands, sets_all, threshold)
