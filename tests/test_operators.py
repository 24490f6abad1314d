"""Composite-operator tests: dedup, similarity, KNN, hierarchy, history,
vocab (SURVEY §2.3-2.5 + extensions)."""

import pytest
from pyspark.sql import functions as F


def test_exact_dedup_keeps_lowest_id(spark):
    from cam_etl_spark.operators.dedup import duplicate_groups, exact_dedup

    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "different text")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [1, 3]  # 1 and 2 normalize identically; keep min id
    groups = duplicate_groups(df).collect()
    assert len(groups) == 1 and groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 1


def test_ngram_jaccard_pairs(spark):
    from cam_etl_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e g"),  # shares 3 of 5(ish) shingles with 1
            (3, "x y z w v u"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(df, threshold=0.1).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    # doc1 shingles {abc,bcd,cde,def}, doc2 {abc,bcd,cde,deg}: 3/5
    assert abs(pairs[(1, 2)] - 0.6) < 1e-9


def test_minhash_lsh_finds_near_dups(spark):
    from cam_etl_spark.operators.dedup import minhash_dedup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")
    far = "completely unrelated content with nothing shared at all here ok"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_dedup_pairs(df, threshold=0.3).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_simhash_near_pairs(spark):
    from cam_etl_spark.operators.dedup import simhash, simhash_near_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    sims = simhash(df)
    near = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_pairs(sims, max_hamming=15).collect()}
    assert (1, 2) in near
    # sanity: identical docs → hamming 0
    same = simhash(spark.createDataFrame([(1, "x y z"), (2, "x y z")], "doc_id long, text string"))
    h = simhash_near_pairs(same, max_hamming=0).collect()
    assert len(h) == 1 and h[0]["hamming"] == 0


def test_ann_lsh_recall_vs_brute(spark, sf_dir):
    """LSH-ANN recall against the exact brute-force baseline — the
    approximate operator's correctness contract."""
    from cam_etl_spark.io import load_table
    from cam_etl_spark.operators.similarity import knn_brute_cosine, knn_lsh_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_brute_cosine(emb, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_lsh_cosine(emb, queries, dim=64, k=3, n_planes=4, n_bands=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_recall_bounds_locked_across_sfs(spark):
    """Locks the deterministic recall facts the catalog oracles assert
    (plans/extensions.py dedup_minhash_lsh, ann_lsh_buckets; plans/
    surface.py ann_ivf_topk, dedup_embedding_lsh_recall): seeded hashes →
    recall is a fixed property of each corpus, so measure it at ALL THREE
    SFs, not just the driver's sf0.01."""
    import collections

    from cam_etl_spark.io import load_table
    from cam_etl_spark.operators.dedup import (
        embedding_near_pairs_blocked,
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from cam_etl_spark.operators.similarity import (
        knn_brute_cosine,
        knn_ivf_cosine,
        knn_lsh_cosine,
        lsh_candidate_pairs_cosine,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = load_table(spark, f"/root/testdata/{sf}", "documents")
        e = load_table(spark, f"/root/testdata/{sf}", "embeddings")

        # minhash banding recall = 100% → oracle can assert set equality
        exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(d, k=3, threshold=0.5).collect()}
        mh = {
            (r.id_a, r.id_b)
            for r in minhash_dedup_pairs(d, num_hashes=16, bands=8, k=3, threshold=0.5).collect()
        }
        assert mh == exact, f"{sf}: minhash missed {exact - mh} / extra {mh - exact}"

        # per-query ANN overlap with exact top-5: LSH >= 2, IVF >= 1
        q = e.filter(F.col("vec_id") < 10)
        brute = {(r.query_id, r.neighbor_id) for r in knn_brute_cosine(e, q, k=5).collect()}
        lsh = {
            (r.query_id, r.neighbor_id)
            for r in knn_lsh_cosine(e, q, dim=64, k=5, n_planes=4, n_bands=8).collect()
        }
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in knn_ivf_cosine(e, q, k=5, n_centroids=16, n_probe=4).collect()
        }
        queries = {p[0] for p in brute}
        lsh_hits = collections.Counter(p[0] for p in brute & lsh)
        ivf_hits = collections.Counter(p[0] for p in brute & ivf)
        assert all(lsh_hits.get(qi, 0) >= 2 for qi in queries), f"{sf}: LSH {lsh_hits}"
        assert all(ivf_hits.get(qi, 0) >= 1 for qi in queries), f"{sf}: IVF {ivf_hits}"

        # embedding-LSH candidate generation recalls every exact pair at 0.5
        exact_pairs = {
            (r.id_a, r.id_b)
            for r in embedding_near_pairs_blocked(e, threshold=0.5, n_blocks=8).collect()
        }
        cands = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs_cosine(e, dim=64, n_planes=2, n_bands=16).collect()
        }
        assert exact_pairs <= cands, f"{sf}: LSH candidates missed {exact_pairs - cands}"


def test_knn_grid_matches_broadcast(spark):
    """Grid-bucketed KNN must agree with the exact broadcast strategy when
    cell_size covers the neighbour distance."""
    from cam_etl_spark.operators.knn import knn_join

    pts = spark.createDataFrame(
        [(i, float(i % 7), float(i % 5)) for i in range(30)], "query_id long, x double, y double"
    )
    tgt = spark.createDataFrame(
        [(100 + i, float(i % 6) + 0.3, float(i % 4) + 0.2) for i in range(20)],
        "target_id long, x double, y double",
    )
    exact = {(r["query_id"], r["target_id"]) for r in knn_join(pts, tgt, keep=1).collect()}
    grid = {
        (r["query_id"], r["target_id"])
        for r in knn_join(pts, tgt, keep=1, strategy="grid", cell_size=8.0).collect()
    }
    assert grid == exact


def test_knn_join_exact_matches_broadcast(spark):
    """The escalating-tier grid 1-NN must equal the brute-force broadcast
    result even when many points' nearest target is beyond tier-1's cell
    (forcing the tier-2/3 fallbacks), including distances."""
    from cam_etl_spark.operators.knn import knn_join, knn_join_exact

    # targets clustered in one corner so far-away points escalate tiers
    pts = spark.createDataFrame(
        [(i, float(i % 13) * 3.0, float(i % 11) * 3.0) for i in range(60)],
        "query_id long, x double, y double",
    )
    tgt = spark.createDataFrame(
        [(100 + i, float(i % 4), float(i // 4)) for i in range(12)],
        "target_id long, x double, y double",
    )
    exact = {
        (r["query_id"], r["target_id"], round(r["distance"], 9))
        for r in knn_join(pts, tgt, keep=1, strategy="broadcast").collect()
    }
    tiered = {
        (r["query_id"], r["target_id"], round(r["distance"], 9))
        for r in knn_join_exact(pts, tgt, tiers=(1.0, 8.0, 64.0)).collect()
    }
    assert tiered == exact and len(tiered) == 60


def test_embedding_blocked_matches_collect_baseline(spark, sf_dir):
    """The distributed block-pair exact scorer must reproduce the broadcast-
    matrix baseline pair-for-pair (ids and rounded cosines)."""
    from cam_etl_spark.io import load_table
    from cam_etl_spark.operators.dedup import (
        embedding_near_pairs,
        embedding_near_pairs_blocked,
    )

    e = load_table(spark, sf_dir, "embeddings")
    base = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_pairs(e, threshold=0.40).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_pairs_blocked(e, threshold=0.40, n_blocks=5).collect()
    }
    assert blocked == base and len(base) > 0


def test_embedding_blocked_default_blocks_match_eight(spark, sf_dir):
    """The one-wave default block count changes the tiling, not the pairs."""
    from cam_etl_spark.io import load_table
    from cam_etl_spark.operators.dedup import embedding_near_pairs_blocked

    e = load_table(spark, sf_dir, "embeddings")

    def pairs(**kw):
        out = embedding_near_pairs_blocked(e, threshold=0.40, **kw)
        return sorted(tuple(r) for r in out.collect())

    default = pairs()
    assert default == pairs(n_blocks=8) and len(default) > 0


def _sql_executions(spark) -> int:
    """SQL executions started so far: the newest execution id + 1, since ids
    count up from 0. The status store exists with the UI off, but it keeps
    only the newest spark.sql.ui.retainedExecutions, so its
    executionsCount() stops growing in a long session."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() + 1 if n else 0


def test_hierarchy_roots_and_closure(spark):
    from cam_etl_spark.operators.hierarchy import descendants_closure, resolve_roots

    edges = spark.createDataFrame(
        [("a", None), ("b", "a"), ("c", "b"), ("d", "c"), ("e", None), ("f", "e")],
        "id string, parent_id string",
    )
    before = _sql_executions(spark)
    resolved = resolve_roots(edges)
    # every row is settled after two doubling rounds (depth <= 3); a round
    # is two executions: the lazy checkpoint, which under AQE runs the
    # join's shuffle stages, and the count that materializes it
    assert _sql_executions(spark) - before == 2 * 2
    roots = {r["id"]: (r["root_id"], r["depth"]) for r in resolved.collect()}
    assert roots["d"] == ("a", 3) and roots["a"] == ("a", 0) and roots["f"] == ("e", 1)

    # a deeper chain gives the rows of a plain parent walk
    parent = {i: (i - 1 if i > 0 else None) for i in range(10)}
    want = []
    for i in parent:
        node, depth = i, 0
        while parent[node] is not None:
            node, depth = parent[node], depth + 1
        want.append((i, node, depth))
    chain = spark.createDataFrame(list(parent.items()), "id long, parent_id long")
    assert sorted(tuple(r) for r in resolve_roots(chain).collect()) == want

    closure = {(r["id"], r["ancestor_id"], r["distance"]) for r in descendants_closure(edges).collect()}
    assert ("d", "a", 3) in closure and ("c", "a", 2) in closure and ("b", "a", 1) in closure
    assert len([c for c in closure if c[0] == "d"]) == 3


def test_history_sequencing(spark):
    from cam_etl_spark.operators.history import sequence_history

    df = spark.createDataFrame(
        [("a1", 1, "h1"), ("a1", 2, "h2"), ("a1", 3, "h3"), ("a2", 1, "h4")],
        "addr_id string, version int, hist_id string",
    )
    out = {r["hist_id"]: r for r in sequence_history(df, "addr_id", "version", "hist_id").collect()}
    assert out["h3"]["is_current"] and not out["h1"]["is_current"]
    assert out["h3"]["prev_id"] == "h2" and out["h1"]["prev_id"] is None
    assert out["h4"]["is_current"] and out["h4"]["seq"] == 1


def test_vocab_lookup_strict(spark):
    from cam_etl_spark.operators.vocab import UnresolvedConceptError, lookup_concept, vocab_df

    v = vocab_df(spark, {"RD": "https://x/road", "ST": "https://x/street"})
    df = spark.createDataFrame([("rd",), ("ST ",), ("AVE",)], "code string")
    out = {r["code"]: r["concept_iri"] for r in lookup_concept(df, v, "code", static_map={"AVE": "https://x/avenue"}).collect()}
    assert out["rd"] == "https://x/road" and out["ST "] == "https://x/street"
    assert out["AVE"] == "https://x/avenue"
    # strict mode is an inline raise_error guard — it fires when the plan
    # EXECUTES (no extra eager action), surfacing as a Spark runtime error
    # carrying the offending code
    with pytest.raises(Exception, match="unresolved code.*NOPE"):
        bad = spark.createDataFrame([("NOPE",)], "code string")
        lookup_concept(bad, v, "code", strict=True).collect()
    # resolved rows still pass through a strict lookup untouched
    ok = lookup_concept(df, v, "code", static_map={"AVE": "https://x/avenue"}, strict=True)
    assert ok.count() == 3


def test_vocab_lookup_strict_survives_column_pruning(spark):
    """strict=True must fail on unresolved codes even when downstream
    drops out_col — Catalyst prunes the inline guard away there, so
    strict now implies the eager validate_now gate by default."""
    from cam_etl_spark.operators.vocab import UnresolvedConceptError, lookup_concept, vocab_df

    v = vocab_df(spark, {"RD": "https://x/road"})
    bad = spark.createDataFrame([("NOPE", 1)], "code string, n int")
    with pytest.raises(UnresolvedConceptError, match="NOPE"):
        # .select("n") drops concept_iri: the pruned inline guard alone
        # would let this pass silently
        lookup_concept(bad, v, "code", strict=True).select("n").count()
    # explicit opt-out restores the lazy zero-extra-action behavior
    # (documented caveat: pruned guard = no validation)
    assert (
        lookup_concept(bad, v, "code", strict=True, validate_now=False)
        .select("n")
        .count()
        == 1
    )


def test_unresolved_codes_gate(spark):
    from cam_etl_spark.operators.validate import unresolved_codes
    from cam_etl_spark.operators.vocab import vocab_df

    lookup = vocab_df(spark, {"STREET": "iri:st", "ROAD": "iri:rd"})
    data = spark.createDataFrame(
        [("street",), ("ROAD",), ("lane",), ("",), (None,)], "code string"
    )
    bad = unresolved_codes(data, "code", lookup).collect()
    assert [r["code"] for r in bad] == ["LANE"]  # casefolds, skips blank/null


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting must not change join semantics — verified on a skewed key
    distribution (90% of rows share one key)."""
    from pyspark.sql import functions as F

    from cam_etl_spark.operators.skew import salted_join

    large = spark.range(10_000).select(
        F.col("id"),
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 25).alias("k"),
    )
    small = spark.range(25).select(F.col("id").alias("k"), F.format_string("dim-%s", "id").alias("v"))
    plain = large.join(small, "k")
    salted = salted_join(large, small, "k")
    assert salted.count() == plain.count()
    a = {(r["id"], r["k"], r["v"]) for r in plain.collect()}
    b = {(r["id"], r["k"], r["v"]) for r in salted.collect()}
    assert a == b
    # left join: unmatched keys survive with nulls, same as plain
    large2 = large.withColumn("k", F.col("k") + 100)  # no matches
    assert salted_join(large2, small, "k", how="left").count() == large2.count()
    # right/full would duplicate unmatched small-side rows per salt replica
    import pytest

    for bad in ("right", "full_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(large, small, "k", how=bad)


def test_point_in_polygon_ray_casting(spark):
    """Non-rectangular containment vs a pure-Python ray-cast reference on
    an L-shaped polygon and a triangle."""
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql import types as T

    from cam_etl_spark.operators.knn import point_in_polygon_join

    lshape = [(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)]
    tri = [(10, 10), (14, 10), (12, 13)]
    vt = T.ArrayType(T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]))
    polys = spark.createDataFrame(
        [("L", [{"x": float(x), "y": float(y)} for x, y in lshape]),
         ("T", [{"x": float(x), "y": float(y)} for x, y in tri])],
        T.StructType([T.StructField("poly_id", T.StringType()), T.StructField("vertices", vt)]),
    )
    pts = [(i, x + 0.5, y + 0.5) for i, (x, y) in enumerate(
        [(0, 0), (3, 1), (3, 3), (1, 3), (2, 2), (11, 10), (12, 11), (13, 12), (5, 5)]
    )]
    points = spark.createDataFrame(pts, "pid long, x double, y double")

    def ray(px, py, poly):
        n, c = len(poly), False
        for i in range(n):
            x1, y1 = poly[i]
            x2, y2 = poly[(i + 1) % n]
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                c = not c
        return c

    expect = {(pid, name) for pid, px, py in pts for name, poly in [("L", lshape), ("T", tri)]
              if ray(px, py, [(float(a), float(b)) for a, b in poly])}
    got = {(r["pid"], r["poly_id"]) for r in point_in_polygon_join(points, polys).collect()}
    assert got == expect
    assert (2, "L") not in got and (4, "L") not in got  # the L's notch is outside
    assert (1, "L") in got and (6, "T") in got

    # how='left': points in no polygon come back once with a null poly_id
    left = point_in_polygon_join(points, polys, how="left").collect()
    outside = {r["pid"] for r in left if r["poly_id"] is None}
    assert outside == {pid for pid, _, _ in pts} - {p for p, _ in expect}
    assert len(left) == len(expect) + len(outside)
    # how='flag': full product with a boolean __in
    flag = point_in_polygon_join(points, polys, how="flag")
    assert flag.count() == len(pts) * 2 and "__in" in flag.columns
    import pytest

    with pytest.raises(ValueError, match="how"):
        point_in_polygon_join(points, polys, how="right")


def test_point_in_polygon_grid_matches_broadcast(spark):
    """The non-broadcast grid PIP join returns exactly the same (point,
    polygon) pairs as the broadcast ray-cast path — on polygons spanning
    multiple grid cells, inside one cell, and far from every point — and
    its plan contains no broadcast of the polygon side and no cross join."""
    import random

    from pyspark.sql import types as T

    from cam_etl_spark.operators.knn import (
        point_in_polygon_join,
        point_in_polygon_join_grid,
    )

    rng = random.Random(7)
    polys_py = []
    for pid in range(12):
        cx, cy = rng.uniform(0, 20), rng.uniform(0, 20)
        a, b = rng.uniform(0.3, 6.0), rng.uniform(0.3, 6.0)  # some >> cell
        polys_py.append(
            (pid, [(cx + a, cy), (cx, cy + b), (cx - a, cy), (cx, cy - b)])
        )
    vt = T.ArrayType(
        T.StructType(
            [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
        )
    )
    polys = spark.createDataFrame(
        [(pid, [{"x": x, "y": y} for x, y in vs]) for pid, vs in polys_py],
        T.StructType([T.StructField("poly_id", T.LongType()), T.StructField("vertices", vt)]),
    )
    pts = [(i, rng.uniform(-2, 22), rng.uniform(-2, 22)) for i in range(400)]
    points = spark.createDataFrame(pts, "pid long, x double, y double")

    grid = point_in_polygon_join_grid(points, polys, cell_size=1.5)
    expect = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_join(points, polys).collect()
    }
    got = {(r["pid"], r["poly_id"]) for r in grid.collect()}
    assert got == expect and len(expect) > 50

    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_zorder_key_interleaves_and_clusters(spark):
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.spatial import zorder_key

    df = spark.createDataFrame([(x, y) for x in range(16) for y in range(16)], "x long, y long")
    got = {(r["x"], r["y"]): r["z"] for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y"), 8).alias("z")).collect()}

    def morton(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert all(got[(x, y)] == morton(x, y) for x in range(16) for y in range(16))
    # locality: the 4 cells of any aligned 2x2 block are contiguous in z
    for bx in range(0, 16, 2):
        for by in range(0, 16, 2):
            zs = sorted(got[(bx + dx, by + dy)] for dx in (0, 1) for dy in (0, 1))
            assert zs[-1] - zs[0] == 3, (bx, by, zs)


def test_approx_aggregates_within_tolerance(spark, sf_dir):
    from pyspark.sql import functions as F

    import __spark_entry__ as ent

    approx = {r["flag"]: r for r in ent.queries()["a11_approx_aggregates"](spark, sf_dir).collect()}
    from cam_etl_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["flag"]: r
        for r in li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.countDistinct("l_orderkey").alias("orders"))
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, ex in exact.items():
        ap = approx[flag]
        # the query itself carries the error-bound checks (HLL++ within 5%,
        # approx_percentile inside the exact [p45, p55] band) as booleans
        assert ap["exact_orders"] == ex["orders"]
        assert ap["cd_ok"] and ap["p50_ok"], ap


def test_connected_components_chains_and_isolates(spark):
    from pyspark.sql import functions as F

    from cam_etl_spark.operators.graph import connected_components, dedup_clusters

    # chain 1-2-3-4 (transitive, no direct 1-4 edge), pair {10,11},
    # triangle {20,21,22}, plus a long path 30..37 (forces multiple rounds)
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]
    edges += [(i, i + 1) for i in range(30, 37)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {
        **{n: 1 for n in (1, 2, 3, 4)},
        **{n: 10 for n in (10, 11)},
        **{n: 20 for n in (20, 21, 22)},
        **{n: 30 for n in range(30, 38)},
    }

    # dedup verdict: docs 1-4 one cluster (keep 1), 50 a singleton
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 50)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    verdict = {r["id"]: (r["cluster_id"], r["is_representative"])
               for r in dedup_clusters(docs, pairs).collect()}
    assert verdict == {1: (1, True), 2: (1, False), 3: (1, False),
                       4: (1, False), 50: (50, True)}

    # empty pair set: everything is its own representative
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = dedup_clusters(docs, empty)
    assert out.filter(~F.col("is_representative")).count() == 0
    assert out.count() == 5


def test_split_sample_pack_deterministic_and_consistent(spark, sf_dir):
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.text import token_count
    from cam_etl_spark.io import load_table
    from cam_etl_spark.operators.sampling import (
        pack_sequences,
        sample_stratified,
        split_assign,
    )

    d = load_table(spark, sf_dir, "documents")

    # split: partitions all rows, and the assignment is layout-independent
    s1 = split_assign(d).select("doc_id", "split")
    s2 = split_assign(d.repartition(13)).select("doc_id", "split")
    assert s1.count() == d.count()
    assert s1.exceptAll(s2).isEmpty() and s2.exceptAll(s1).isEmpty()

    # stratified sample: subset, stable under repartitioning, strata respected
    f = {"en": 0.0, "de": 1.0}
    kept = sample_stratified(d, "lang", f, default_fraction=0.5)
    assert kept.filter(F.col("lang") == "en").count() == 0
    de_total = d.filter(F.col("lang") == "de").count()
    assert kept.filter(F.col("lang") == "de").count() == de_total
    kept2 = sample_stratified(d.repartition(7), "lang", f, default_fraction=0.5)
    assert kept.select("doc_id").exceptAll(kept2.select("doc_id")).isEmpty()

    # packing: per-shard stream is gapless; offsets stay inside the window
    wt = d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    packed = pack_sequences(wt, "n_tokens", ctx_len=512, num_shards=4)
    assert packed.filter((F.col("offset") < 0) | (F.col("offset") >= 512)).count() == 0
    rows = packed.orderBy("shard", "doc_id").collect()
    streams = {}
    for r in rows:
        start = streams.get(r["shard"], 0)
        assert r["seq_id"] == f"{r['shard']}-{start // 512}"
        assert r["offset"] == start % 512
        streams[r["shard"]] = start + r["n_tokens"]


def test_fuzzy_levenshtein_join_blocking_and_verify(spark):
    from cam_etl_spark.operators.similarity import fuzzy_levenshtein_join

    df = spark.createDataFrame(
        [
            ("cold bolt",),
            ("old bolt",),   # lev 1 from 'cold bolt', shares token 'bolt'
            ("red anvil",),
            ("new anvil",),  # lev 2 from 'red anvil', shares 'anvil'
            ("red anvil",),  # duplicate input row: distinct-ed away
            ("zzz qqq",),    # lev far from everything
            ("xolt yolt",),  # lev 2 from nothing sharing a token -> never a candidate
        ],
        "name string",
    )
    got = {
        (r.name_a, r.name_b, r.lev)
        for r in fuzzy_levenshtein_join(df, "name", max_distance=2).collect()
    }
    assert got == {
        ("cold bolt", "old bolt", 1),
        ("new anvil", "red anvil", 2),
    }


def test_bm25_ranking_hand_computed(spark, tmp_path):
    """BM25 on a 3-doc corpus, hand-computed: corpus 'a a b' / 'a c' / 'c c c',
    query terms (a, b). N=3, avgdl=8/3."""
    import math

    from cam_etl_spark.plans import QUERIES

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c"), (2, "c c c")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    # reuse the catalog builder but swap in the tiny corpus and query terms
    import cam_etl_spark.plans.surface as surface
    from pyspark.sql import functions as F

    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term")
    ).filter(F.col("term") != "")
    k1, b = 1.2, 0.75
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        toks.filter(F.col("term").isin(["a", "b"]))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1) / denom
    got = {
        r.doc_id: r.score
        for r in tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
        .collect()
    }

    def bm25(pairs, dl_):
        avgdl = 8 / 3
        s = 0.0
        for tf_, df_ in pairs:
            idf_ = math.log((3 - df_ + 0.5) / (df_ + 0.5) + 1.0)
            s += idf_ * tf_ * (k1 + 1) / (tf_ + k1 * (1 - b + b * dl_ / avgdl))
        return round(s, 6)

    # doc0: a(tf=2, df=2), b(tf=1, df=1), dl=3; doc1: a(tf=1, df=2), dl=2
    assert got == {
        0: bm25([(2, 2), (1, 1)], 3),
        1: bm25([(1, 2)], 2),
    }


def test_cross_split_contamination_orients_pairs(spark):
    from cam_etl_spark.operators.sampling import cross_split_contamination

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.8), (5, 6, 0.7)],
        "id_a long, id_b long, jaccard double",
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "val"), (3, "test"), (4, "train"), (5, "val"), (6, "test")],
        "doc_id long, split string",
    )
    got = {
        (r.eval_doc_id, r.eval_split, r.train_doc_id)
        for r in cross_split_contamination(pairs, splits).collect()
    }
    # pair (5,6) is val/test — no train side, excluded; others orient eval-first
    assert got == {(2, "val", 1), (3, "test", 4)}


def test_parse_wkt_linestring_and_distance_edges(spark):
    from cam_etl_spark.functions.spatial import (
        parse_wkt_linestring,
        point_to_linestring_distance,
    )

    df = spark.createDataFrame(
        [
            (1, "LINESTRING (0 0, 10 0)"),
            (2, "LINESTRING (3 4)"),          # single vertex -> point distance
            (3, "LINESTRING (0 0, 0 0, 5 5)"),  # zero-length first segment
            (4, "POINT (1 1)"),                # not a linestring -> null
            (5, None),
        ],
        "id long, wkt string",
    )
    v = parse_wkt_linestring(F.col("wkt"))
    d = F.round(point_to_linestring_distance(F.lit(5.0), F.lit(3.0), v), 6)
    got = {r["id"]: r["d"] for r in df.select("id", d.alias("d")).collect()}
    assert got[1] == 3.0            # clamp inside the segment
    assert got[2] == 2.236068       # sqrt((5-3)^2 + (3-4)^2)
    assert got[3] == 1.414214       # distance to the diagonal
    assert got[4] is None and got[5] is None


def test_nearest_segment_join_matches_brute_force(spark):
    from cam_etl_spark.functions.spatial import point_to_linestring_distance
    from cam_etl_spark.operators.knn import nearest_segment_join
    from pyspark.sql import Window

    # 40 points, 12 short polylines scattered over a 20x20 domain
    pts = spark.createDataFrame(
        [(i, float((i * 37) % 20), float((i * 53) % 20)) for i in range(40)],
        "query_id long, x double, y double",
    )
    segs_rows = []
    for j in range(12):
        x0, y0 = float((j * 31) % 20), float((j * 41) % 20)
        segs_rows.append(
            (j, [(x0, y0), (x0 + 0.4, y0 + 0.2), (x0 + 0.6, y0 - 0.3)])
        )
    segs = spark.createDataFrame(
        segs_rows, "target_id long, verts array<struct<x double, y double>>"
    )
    grid = {
        (r["query_id"], r["target_id"]): round(r["distance"], 6)
        for r in nearest_segment_join(pts, segs, tiers=(2.0, 16.0, 64.0)).collect()
    }
    w = Window.partitionBy("query_id").orderBy(
        F.round("distance", 6).asc(), F.col("target_id").asc()
    )
    brute = {
        (r["query_id"], r["target_id"]): round(r["distance"], 6)
        for r in pts.crossJoin(segs)
        .withColumn(
            "distance",
            point_to_linestring_distance(F.col("x"), F.col("y"), F.col("verts")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert grid == brute
    assert len(grid) == 40  # every point matched exactly once


def test_nearest_segment_join_domain_wider_than_last_tier(spark):
    """Points/segments spread over a domain far wider than the configured
    last tier: the operator must widen the last tier to the data bbox
    (otherwise far-apart cells never meet and points drop or mis-match)."""
    from cam_etl_spark.functions.spatial import point_to_linestring_distance
    from cam_etl_spark.operators.knn import nearest_segment_join
    from pyspark.sql import Window

    # domain spans ~5000 units; last configured tier is only 4.0
    pts = spark.createDataFrame(
        [(i, float(i * 997 % 5000), float(i * 641 % 5000)) for i in range(25)],
        "query_id long, x double, y double",
    )
    segs = spark.createDataFrame(
        [
            (j, [(float(j * 1237 % 5000), float(j * 733 % 5000)),
                 (float(j * 1237 % 5000) + 0.5, float(j * 733 % 5000) + 0.5)])
            for j in range(6)
        ],
        "target_id long, verts array<struct<x double, y double>>",
    )
    got = {
        (r["query_id"], r["target_id"]): round(r["distance"], 6)
        for r in nearest_segment_join(pts, segs, tiers=(1.0, 4.0)).collect()
    }
    w = Window.partitionBy("query_id").orderBy(
        F.round("distance", 6).asc(), F.col("target_id").asc()
    )
    brute = {
        (r["query_id"], r["target_id"]): round(r["distance"], 6)
        for r in pts.crossJoin(segs)
        .withColumn(
            "distance",
            point_to_linestring_distance(F.col("x"), F.col("y"), F.col("verts")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == brute
    assert len(got) == 25  # no point dropped


def test_nearest_segment_join_empty_points(spark):
    from cam_etl_spark.operators.knn import nearest_segment_join

    pts = spark.createDataFrame([], "query_id long, x double, y double")
    segs = spark.createDataFrame(
        [(1, [(0.0, 0.0), (1.0, 1.0)])],
        "target_id long, verts array<struct<x double, y double>>",
    )
    assert nearest_segment_join(pts, segs).count() == 0


def test_polygon_metrics_known_shapes(spark):
    from cam_etl_spark.functions.spatial import (
        parse_wkt_polygon,
        polygon_area,
        polygon_centroid,
        polygon_signed_area,
    )

    df = spark.createDataFrame(
        [
            (1, "POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))"),   # 4x2 rect, ccw
            (2, "POLYGON ((0 0, 0 2, 4 2, 4 0, 0 0))"),   # same rect, cw
            (3, "POLYGON ((1 1, 1 1, 1 1, 1 1))"),        # degenerate
            (4, "LINESTRING (0 0, 1 1)"),                  # not a polygon
        ],
        "id long, wkt string",
    )
    v = parse_wkt_polygon(F.col("wkt"))
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            F.round(polygon_area(v), 6).alias("a"),
            F.round(polygon_signed_area(v), 6).alias("sa"),
            polygon_centroid(v).alias("c"),
        ).collect()
    }
    assert got[1]["a"] == 8.0 and got[1]["sa"] == 8.0     # ccw positive
    assert got[2]["a"] == 8.0 and got[2]["sa"] == -8.0    # cw negative
    assert (got[1]["c"]["cx"], got[1]["c"]["cy"]) == (2.0, 1.0)
    assert (got[2]["c"]["cx"], got[2]["c"]["cy"]) == (2.0, 1.0)  # orientation-invariant
    assert got[3]["a"] == 0.0 and got[3]["c"]["cx"] == 1.0       # degenerate fallback
    assert got[4]["a"] is None  # non-polygon parses to null


def test_winnowing_guarantee_shared_substring_shares_fingerprint(spark):
    """The MOSS/winnowing contract: for k-grams with window w, any two
    documents sharing a substring of length >= w+k-1 share at least one
    fingerprint. 40 randomized pairs (seeded), batched through ONE job."""
    import random

    from cam_etl_spark.operators.dedup import winnowing_fingerprints

    rng = random.Random(42)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    rows, expect_pairs = [], []
    for case in range(40):
        shared_len = rng.randint(8, 30)  # >= w+k-1 = 8 for k=5, w=4
        shared = "".join(rng.choice(alpha) for _ in range(shared_len))
        a = ("".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
             + shared
             + "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40))))
        b = ("".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
             + shared
             + "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40))))
        rows.append((case * 2, a))
        rows.append((case * 2 + 1, b))
        expect_pairs.append((case * 2, case * 2 + 1))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, k=5, w=4).collect()
    by_doc: dict = {}
    for r in fps:
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    for a_id, b_id in expect_pairs:
        assert by_doc[a_id] & by_doc[b_id], (
            f"docs {a_id}/{b_id} share a {8}+ char substring but no fingerprint"
        )


def test_tfidf_cosine_pairs_identity_and_pruning(spark):
    import math

    from cam_etl_spark.operators.similarity import tfidf_cosine_pairs

    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma"),          # identical to 1 -> cosine 1.0
        (3, "alpha beta delta"),
        (4, "omega"),                      # hapax-only doc
        (5, None),                         # null text survives
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(**kw):
        return {(r["doc_a"], r["doc_b"]): r["cosine"]
                for r in tfidf_cosine_pairs(df, threshold=0.01, min_df=2, **kw).collect()}

    out = run()
    assert out[(1, 2)] == 1.0
    # doc 4's only term is hapax (df=1): pruned, so it pairs with nobody
    assert not any(4 in p for p in out)
    # hand-check 1-vs-3: shared terms alpha+beta, n_docs=4 (docs w/ tokens)
    n = 4
    w = {t: math.log(n / df) for t, df in
         {"alpha": 3, "beta": 3, "gamma": 2, "delta": 1}.items()}
    va = [w["alpha"], w["beta"], w["gamma"]]
    vb = [w["alpha"], w["beta"]]          # delta pruned (df=1 < min_df)
    dot = w["alpha"] ** 2 + w["beta"] ** 2
    cos = dot / (math.sqrt(sum(x * x for x in va)) * math.sqrt(sum(x * x for x in vb)))
    assert abs(out[(1, 3)] - round(cos, 4)) < 1e-9

    # the dense (blocked GEMM) and sparse (postings join) strategies are
    # the same operator: identical pair sets and cosines
    assert run(dense_vocab_max=0) == out

    # max_df_frac prunes ubiquitous terms: alpha/beta hit 3 of 4 docs
    strict = tfidf_cosine_pairs(df, threshold=0.01, min_df=2, max_df_frac=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in strict} == {(1, 2)}  # only gamma left

    # a document whose every term is corpus-wide (zero idf) drops out
    # instead of poisoning norms with NaN
    ubi = spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "x y z"), (4, "x y z")],
        "doc_id long, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             tfidf_cosine_pairs(ubi, threshold=0.01, min_df=2).collect()}
    assert pairs == {(3, 4)}  # x/y are zero-idf everywhere; z pairs 3-4

    # empty input -> empty output, no crash; threshold must be positive
    assert tfidf_cosine_pairs(df.filter("doc_id < 0"), threshold=0.5).count() == 0
    import pytest

    with pytest.raises(ValueError, match="threshold"):
        tfidf_cosine_pairs(df, threshold=0.0)


def test_one_wave_blocks_rule():
    """B(B+1)/2 tiles fit in one wave of cores; the ~1500-items-per-block
    floor and the 64-block cap still hold."""
    from cam_etl_spark.operators.similarity import one_wave_blocks

    assert [one_wave_blocks(c) for c in (1, 4, 8, 32)] == [1, 2, 3, 7]  # 1/3/6/28 tiles
    assert one_wave_blocks(4, 1500) == 2 and one_wave_blocks(4, 4501) == 4
    assert one_wave_blocks(4, 10**9) == 64 and one_wave_blocks(10**6) == 64


def test_tfidf_dense_tiles_fit_one_wave(spark):
    """On a corpus whose 30-word vocabulary takes the dense path, the tile
    stage has at most defaultParallelism tasks and returns the same rows
    as 8 blocks and as the sparse postings join."""
    import random

    from cam_etl_spark.operators.similarity import tfidf_cosine_pairs

    rng = random.Random(7)
    words = [f"w{i}" for i in range(30)]
    texts = [" ".join(rng.choices(words, k=rng.randint(5, 12))) for _ in range(600)]
    for i in range(0, 600, 20):  # near-duplicates: an earlier doc + a marker
        texts[i] = texts[rng.randrange(i + 1)] + " dup"
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def rows(out):
        return sorted(tuple(r) for r in out.collect())

    auto = tfidf_cosine_pairs(df, threshold=0.9)
    assert auto.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    got = rows(auto)
    assert len(got) > 0
    assert got == rows(tfidf_cosine_pairs(df, threshold=0.9, n_blocks=8))
    assert got == rows(tfidf_cosine_pairs(df, threshold=0.9, dense_vocab_max=0))


def test_phrase_search_positions_counts_and_three_terms(spark):
    import pytest

    from cam_etl_spark.operators.similarity import phrase_search

    rows = [
        (1, "the quick brown fox"),
        (2, "quick brown quick brown fox"),   # two bigram hits, one trigram
        (3, "brown quick"),                    # wrong order
        (4, "quick  brown"),                   # double separator still adjacent
        (5, "quick stop brown"),               # gap -> no hit
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    two = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
           for r in phrase_search(df, ["quick", "brown"]).collect()}
    assert two == {1: (1, 1), 2: (2, 0), 4: (1, 0)}
    three = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
             for r in phrase_search(df, ["quick", "brown", "fox"]).collect()}
    assert three == {1: (1, 1), 2: (1, 2)}
    # repeated term in the phrase: overlapping self-adjacency counts
    rep = spark.createDataFrame(
        [(1, "go go go stop"), (2, "go stop go")], "doc_id long, text string"
    )
    reps = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
            for r in phrase_search(rep, ["go", "go"]).collect()}
    assert reps == {1: (2, 0)}
    with pytest.raises(ValueError, match=">= 2"):
        phrase_search(df, ["solo"])
    assert phrase_search(df.filter("doc_id < 0"), ["a", "b"]).count() == 0


def test_pagerank_hand_computed_and_mass_conserved(spark):
    import pytest

    from cam_etl_spark.operators.graph import pagerank

    # 1 -> 2, 1 -> 3, 2 -> 3; 3 dangling. N=3, d=0.85.
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src long, dst long")
    got = {r["node"]: r["pagerank"] for r in pagerank(edges, n_iter=2).collect()}

    def step(pr):
        n, d = 3, 0.85
        dang = pr[3]
        out = {1: [], 2: [], 3: []}
        contrib = {1: 0.0, 2: pr[1] / 2, 3: pr[1] / 2 + pr[2]}
        return {v: round((1 - d) / n + d * (contrib[v] + dang / n), 10)
                for v in (1, 2, 3)}

    pr = {v: round(1 / 3, 10) for v in (1, 2, 3)}
    pr = step(step(pr))
    for v in (1, 2, 3):
        assert abs(got[v] - round(pr[v], 6)) < 2e-6, (v, got[v], pr[v])
    # rank is a probability distribution: mass conserved by the dangling term
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # ordering: 3 receives from both 1 and 2 -> highest rank
    assert got[3] > got[2] > got[1]

    with pytest.raises(ValueError, match="n_iter"):
        pagerank(edges, n_iter=0)
    # duplicate edges collapse (distinct-edge semantics)
    dup = spark.createDataFrame([(1, 2), (1, 2), (1, 3), (2, 3)], "src long, dst long")
    got_dup = {r["node"]: r["pagerank"] for r in pagerank(dup, n_iter=2).collect()}
    assert got_dup == got


def test_bpe_learn_merges_textbook_and_greedy_semantics(spark):
    import pytest

    from cam_etl_spark.operators.bpe import bpe_learn_merges

    # Sennrich-style corpus: low x7 (5+2 as prefix), newest x6, widest x3
    docs = spark.createDataFrame(
        [(1, "low low low low low"), (2, "lower lower"),
         (3, "newest newest newest newest newest newest"),
         (4, "widest widest widest")],
        "doc_id long, text string",
    )
    before = _sql_executions(spark)
    learned = bpe_learn_merges(docs, 4)
    # one collect of the vocabulary; the merges are learned on the driver
    assert _sql_executions(spark) - before == 1
    got = [(r["step"], r["merge_left"], r["merge_right"], r["pair_count"])
           for r in learned.orderBy("step").collect()]
    assert got == [(1, "e", "s", 9), (2, "es", "t", 9),
                   (3, "l", "o", 7), (4, "lo", "w", 7)]

    # greedy left-to-right: 'aaa' merges (a,a) once -> ('aa','a') next
    rep = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    g2 = [(r["merge_left"], r["merge_right"], r["pair_count"])
          for r in bpe_learn_merges(rep, 2).orderBy("step").collect()]
    assert g2[0] == ("a", "a", 4)       # two overlapping pairs count, one merges
    assert g2[1] == ("aa", "a", 2)      # the leftover tail pairs with the merge

    # adjacent occurrences merge in one pass: 'abab' -> [ab][ab]
    adj = spark.createDataFrame([(1, "abab abab abab")], "doc_id long, text string")
    g3 = [(r["merge_left"], r["merge_right"]) for r in
          bpe_learn_merges(adj, 2).orderBy("step").collect()]
    assert g3[0] == ("a", "b")
    assert g3[1] == ("ab", "ab")        # both pairs merged in one iteration

    # odd self-run: exact GREEDY segmentation 'aaaaa' -> [aa][aa][a]
    # (a single-space delimiter encoding would mis-segment to [aa][a][aa]
    # and learn (aa,aa) nowhere / (a,aa) instead)
    run5 = spark.createDataFrame([(1, "aaaaa aaaaa")], "doc_id long, text string")
    g5 = [(r["merge_left"], r["merge_right"], r["pair_count"]) for r in
          bpe_learn_merges(run5, 2).orderBy("step").collect()]
    assert g5[0] == ("a", "a", 8)       # 4 overlapping bigrams per word
    assert g5[1] == ("aa", "a", 2)      # greedy tail pair; ties break (l, r)

    # ties across code planes break in binary order: z < é < U+E000 < U+1D4B3
    planes = spark.createDataFrame(
        [(1, "\U0001d4b3\U0001d4b3 \ue000\ue000 \u00e9\u00e9 zz")], "doc_id long, text string"
    )
    gp = [(r["merge_left"], r["merge_right"], r["pair_count"]) for r in
          bpe_learn_merges(planes, 5, token_split=r"\s+").orderBy("step").collect()]
    assert gp == [("z", "z", 1), ("\u00e9", "\u00e9", 1), ("\ue000", "\ue000", 1),
                  ("\U0001d4b3", "\U0001d4b3", 1)]

    # exhaustion: single-symbol corpus yields an empty merge table
    assert bpe_learn_merges(
        spark.createDataFrame([(1, "a b a")], "doc_id long, text string"), 3
    ).count() == 0
    # empty corpus: no rows, the merge table's schema
    none = bpe_learn_merges(docs.filter("doc_id < 0"), 3)
    assert none.count() == 0
    assert none.schema.simpleString() == (
        "struct<step:int,merge_left:string,merge_right:string,pair_count:bigint>"
    )
    with pytest.raises(ValueError, match="n_merges"):
        bpe_learn_merges(docs, 0)


def test_heavy_hitters_exact_under_adversarial_partitioning(spark):
    import pytest

    from cam_etl_spark.operators.sketch import heavy_hitters

    # skewed corpus: 'hot' 60x, 'warm' 25x, 100 distinct rares 1x each
    rows = [(i, "hot") for i in range(60)]
    rows += [(100 + i, "warm") for i in range(25)]
    rows += [(1000 + i, f"rare{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n = 185

    for parts in (1, 7, 32):  # MG candidate union must survive any split
        got = {r["term"]: r["freq"]
               for r in heavy_hitters(df.repartition(parts), k=4).collect()}
        # threshold N/(k+1) = 37: only 'hot' qualifies
        assert got == {"hot": 60}, (parts, got)
        got2 = {r["term"]: r["freq"]
                for r in heavy_hitters(df.repartition(parts), k=9).collect()}
        # threshold 18.5: hot + warm
        assert got2 == {"hot": 60, "warm": 25}, (parts, got2)

    # no term above threshold -> empty, not an error
    uni = spark.createDataFrame([(i, f"t{i % 50}") for i in range(200)],
                                "doc_id long, text string")
    assert heavy_hitters(uni, k=2).count() == 0
    assert heavy_hitters(uni.filter("doc_id < 0"), k=4).count() == 0
    with pytest.raises(ValueError, match="k must"):
        heavy_hitters(df, k=0)


def test_kmeans_lloyd_partitions_and_refines(spark, sf_dir):
    import pytest

    from cam_etl_spark.io import load_table
    from cam_etl_spark.operators.similarity import kmeans_lloyd

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    r1 = kmeans_lloyd(e, k=4, n_iter=1).collect()
    r3 = kmeans_lloyd(e, k=4, n_iter=3).collect()
    # clusters partition the corpus
    assert sum(r["n_members"] for r in r1) == n
    assert sum(r["n_members"] for r in r3) == n
    assert 1 <= len(r3) <= 4
    # Lloyd refinement: more iterations must not hurt overall cohesion
    def cohesion(rows):
        return sum(r["n_members"] * r["mean_cos"] for r in rows) / n
    assert cohesion(r3) >= cohesion(r1) - 1e-6, (cohesion(r1), cohesion(r3))
    # deterministic across partitionings
    again = kmeans_lloyd(e.repartition(13), k=4, n_iter=3).collect()
    assert sorted((r["centroid_id"], r["n_members"], r["mean_cos"]) for r in again) \
        == sorted((r["centroid_id"], r["n_members"], r["mean_cos"]) for r in r3)
    with pytest.raises(ValueError, match="must be >= 1"):
        kmeans_lloyd(e, k=0)


def test_mmr_select_diversifies_vs_topk(spark, sf_dir):
    import pytest

    from cam_etl_spark.io import load_table
    from cam_etl_spark.operators.similarity import mmr_select

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter("vec_id = 0")
    corpus = e.filter("vec_id <> 0")
    out = mmr_select(corpus, qv, k=3, pool=20, lam=0.7).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    picks = [r["vec_id"] for r in out]
    assert len(set(picks)) == 3 and 0 not in picks
    # rank 1 is the plain argmax of relevance
    top1 = max(out, key=lambda r: (r["relevance"], -r["vec_id"]))
    assert out[0]["vec_id"] == top1["vec_id"] or out[0]["relevance"] >= top1["relevance"]
    # deterministic across partitionings
    again = [r["vec_id"] for r in
             mmr_select(corpus.repartition(9), qv, k=3, pool=20, lam=0.7).collect()]
    assert again == picks
    # lam=1 degenerates to pure relevance top-k
    pure = [r["vec_id"] for r in mmr_select(corpus, qv, k=3, pool=20, lam=1.0).collect()]
    rel_order = [r["vec_id"] for r in sorted(
        mmr_select(corpus, qv, k=20, pool=20, lam=1.0).collect(),
        key=lambda r: (-r["relevance"], r["vec_id"]))][:3]
    assert pure == rel_order
    with pytest.raises(ValueError, match="pool >= k"):
        mmr_select(corpus, qv, k=5, pool=3)


def test_exact_substring_spans_and_removal(spark):
    """Lee et al. ExactSubstr: a shared k-gram run marks its maximal span
    in BOTH documents; removal drops exactly the covered tokens; unique
    docs and sub-k docs are untouched."""
    from cam_etl_spark.operators.dedup import (
        exact_substring_spans,
        remove_duplicate_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens, k=4 -> 3 grams
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),        # span tokens 2..8
            (2, f"{shared} tail1 tail2 tail3 tail4"),   # span tokens 0..6
            (3, "unique words only here never repeated anywhere at all"),
            (4, "tiny doc"),                            # shorter than k
            (5, None),                                  # null text
        ],
        "doc_id int, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in exact_substring_spans(docs, k=4).collect()
    }
    assert spans == {(1, 2, 8, 6), (2, 0, 6, 6)}

    cleaned = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(
            docs, exact_substring_spans(docs, k=4)
        ).collect()
    }
    assert cleaned[1] == "one two three four"
    assert cleaned[2] == "tail1 tail2 tail3 tail4"
    assert cleaned[3].startswith("unique words")
    assert cleaned[4] == "tiny doc"
    assert cleaned[5] == ""

    # within-document repetition also counts (the paper's semantics)
    rep = spark.createDataFrame(
        [(9, "x1 x2 x3 x4 mid1 mid2 x1 x2 x3 x4")], "doc_id int, text string"
    )
    got = {(r["span_start"], r["span_end"])
           for r in exact_substring_spans(rep, k=4).collect()}
    assert got == {(0, 4), (6, 10)}

    # adjacent duplicated windows merge into ONE island (no split spans)
    long_shared = " ".join(f"w{i}" for i in range(12))
    pair = spark.createDataFrame(
        [(11, long_shared + " endA"), (12, "startB " + long_shared)],
        "doc_id int, text string",
    )
    got11 = [(r["span_start"], r["span_end"]) for r in
             exact_substring_spans(pair, k=4).filter("doc_id = 11").collect()]
    assert got11 == [(0, 12)]


def test_bpe_apply_roundtrip_counts(spark):
    """Applying the learned merges preserves total symbol mass: the token
    histogram's weighted character count equals the corpus character
    count, and learned merge tokens actually appear in the histogram."""
    import pyspark.sql.functions as F

    from cam_etl_spark.operators.bpe import bpe_apply, bpe_learn_merges

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        "doc_id int, text string",
    )
    merges = bpe_learn_merges(docs, n_merges=3)
    hist = bpe_apply(docs, merges)
    rows = {r["token"]: r["n_occurrences"] for r in hist.collect()}
    n_chars = sum(len(tok) * n for tok, n in rows.items())
    want = docs.select(
        F.sum(F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")))
    ).first()[0]
    assert n_chars == want
    learned = {r["merge_left"] + r["merge_right"] for r in merges.collect()}
    assert learned & set(rows)  # merged symbols survive into the histogram
    # zero merges degrades to a character histogram
    empty = merges.filter("step < 0")
    chars = {r["token"] for r in bpe_apply(docs, empty).collect()}
    assert all(len(c) == 1 for c in chars)


def test_pq_adc_topk_duplicate_query_ranks_first(spark):
    """A corpus vector identical to the query shares its codes, so its
    ADC distance is the query's own quantization distance — the minimum
    any vector can achieve; it must rank first. Result is invariant to
    partitioning, ranks are dense 1..k."""
    import numpy as np

    from cam_etl_spark.operators.similarity import pq_adc_topk

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    qvec = rows[0][1]
    rows.append((99, list(qvec)))  # exact duplicate of the query vector
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = pq_adc_topk(vecs, query_id=0, m=4, ks=4, k=5).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    assert out[0]["vec_id"] == 99 or out[0]["adc"] == [
        r for r in out if r["vec_id"] == 99
    ][0]["adc"]  # duplicate achieves the minimal ADC (ties allowed)
    again = pq_adc_topk(
        vecs.repartition(7), query_id=0, m=4, ks=4, k=5
    ).collect()
    assert [(r["vec_id"], r["adc"]) for r in again] == [
        (r["vec_id"], r["adc"]) for r in out
    ]
    with pytest.raises(ValueError, match="subspaces"):
        pq_adc_topk(vecs, query_id=0, m=3, ks=4, k=5)


def test_exact_substring_spans_property_vs_bruteforce(spark):
    """Property: for random small corpora, the distributed span set equals
    a brute-force Python reimplementation (duplicated k-gram positions →
    merged intervals)."""
    import random

    from cam_etl_spark.operators.dedup import exact_substring_spans

    def brute(docs, k):
        grams = {}
        toks = {i: t.split() for i, t in docs}
        for i, tk in toks.items():
            for p in range(len(tk) - k + 1):
                grams.setdefault(" ".join(tk[p : p + k]), []).append((i, p))
        hits = {}
        for occ in grams.values():
            if len(occ) >= 2:
                for i, p in occ:
                    hits.setdefault(i, set()).add(p)
        spans = set()
        for i, ps in hits.items():
            run = []
            for p in sorted(ps):
                if run and p - run[-1] > k:
                    spans.add((i, run[0], run[-1] + k))
                    run = []
                run.append(p)
            if run:
                spans.add((i, run[0], run[-1] + k))
        return spans

    rng = random.Random(5)
    vocab = [f"w{j}" for j in range(12)]  # tiny vocab -> frequent repeats
    for trial in range(4):
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
            for i in range(14)
        ]
        k = rng.choice([2, 3])
        want = brute(docs, k)
        df = spark.createDataFrame(docs, "doc_id int, text string")
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in exact_substring_spans(df, k=k).collect()
        }
        assert got == want, f"trial {trial} k={k}: {got ^ want}"


def test_canonicalize_url_property(spark):
    """Property: canonical URLs never keep a fragment, never keep utm_
    params, never end a non-root path with '/', and are IDEMPOTENT
    (canonicalizing a canonical URL is a no-op)."""
    import random

    import pyspark.sql.functions as F

    from cam_etl_spark.functions.strings import canonicalize_url

    rng = random.Random(9)
    urls = []
    for _ in range(120):
        scheme = rng.choice(["http", "HTTP", "https", "HtTpS"])
        host = rng.choice(["www.Ex.COM", "ex.com", "WWW.a-b.org", "sub.ex.com"])
        port = rng.choice(["", ":80", ":443", ":8080"])
        path = rng.choice(["", "/", "/a", "/a/b", "/a/b/"])
        query = rng.choice(
            ["", "?id=1", "?utm_source=x", "?utm_a=1&id=2&utm_b=3", "?a=1&b=2"]
        )
        frag = rng.choice(["", "#x", "#a?fake=1", "#?","#a&b"])
        urls.append(f"{scheme}://{host}{port}{path}{query}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(
        "url", canonicalize_url(F.col("url")).alias("c1")
    ).withColumn("c2", canonicalize_url(F.col("c1")))
    for r in once.collect():
        c = r["c1"]
        assert "#" not in c, r
        assert "utm_" not in c, r
        body = c.split("://", 1)[1]
        p = body.split("?", 1)[0]
        if "/" in p:
            pathpart = p[p.index("/"):]
            assert pathpart == "/" or not pathpart.endswith("/"), r
        assert r["c2"] == c, f"not idempotent: {r}"


def test_cow_bucketed_upsert(spark, tmp_path):
    """Copy-on-write upsert: updated keys replaced, new keys inserted,
    untouched rows byte-identical, and only delta buckets rewritten."""
    from pyspark.sql import functions as F

    from cam_etl_spark.operators.cow import upsert_bucketed, write_bucketed

    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    path = str(tmp_path / "tbl")
    write_bucketed(base, path, "k", 32)
    updates = spark.createDataFrame(
        [(5, 999), (700, 888), (5000, 777)], "k long, v long"
    )
    touched = upsert_bucketed(spark, path, updates, "k", 32)
    assert 0 < len(touched) <= 3
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert len(got) == 1001  # 1000 base + 1 insert
    assert got[5] == 999 and got[700] == 888 and got[5000] == 777
    assert got[6] == 12 and got[999] == 1998  # untouched rows intact


def test_banded_hamming_pairs(spark):
    from cam_etl_spark.operators.dedup import band_index, banded_hamming_pairs, banded_pairs

    # 4 bands of 16 bits; doc 1 differs from doc 0 in band 0 by 2 bits,
    # doc 2 shares no band with doc 0/1, doc 3 == doc 0 exactly
    rows = [
        (0, 0b1010, 7, 9, 3),
        (1, 0b1001, 7, 9, 3),       # hamming 2 vs doc 0 (bands 1-3 shared)
        (2, 0xFFFF, 0xAAAA, 0x5555, 0x1234),
        (3, 0b1010, 7, 9, 3),       # hamming 0 vs doc 0
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    # docs 0 and 3 agree on all four bands: the join meets them four
    # times, the first-match filter emits them once, and no dedup
    # aggregate is planned
    out = banded_hamming_pairs(df, ["b0", "b1", "b2", "b3"], 3)
    got = sorted((r.doc_l, r.doc_r, r.hamming) for r in out.collect())
    assert got == [(0, 1, 2), (0, 3, 0), (1, 3, 2)]
    assert "HashAggregate" not in out._jdf.queryExecution().executedPlan().toString()
    # a NULL band never collides: 4/6 and 5/6 share only a NULL b0, and
    # 4/5 pair through b1 alone
    nulls = spark.createDataFrame(
        [(4, None, 5), (5, None, 5), (6, None, 6)], "doc_id long, b0 long, b1 long"
    )
    pairs = banded_pairs(band_index(nulls, ["b0", "b1"]), "doc_id").selectExpr(
        "a.doc_id", "b.doc_id", "a.__bi"
    )
    assert [tuple(r) for r in pairs.collect()] == [(4, 5, 1)]
    # threshold excludes; candidates still require a shared band
    got1 = {
        (r.doc_l, r.doc_r)
        for r in banded_hamming_pairs(df, ["b0", "b1", "b2", "b3"], 1).collect()
    }
    assert got1 == {(0, 3)}
    # extra blocking key: same bands under different keys never pair
    df2 = spark.createDataFrame(
        [(0, 0, 1, 2, 3, 4), (1, 1, 1, 2, 3, 4)],
        "doc_id long, f long, b0 long, b1 long, b2 long, b3 long",
    )
    assert (
        banded_hamming_pairs(
            df2, ["b0", "b1", "b2", "b3"], 64, extra_key_cols=("f",)
        ).count()
        == 0
    )


def test_cdc_chunks_shift_robustness(spark):
    """Content-defined chunking realigns after an INSERTION (the
    failure mode of fixed-width chunks): prepending one word to a
    200-word document preserves most chunk fingerprints, while fixed
    20-token chunking of the same pair shares ZERO fingerprints."""
    import hashlib
    import random

    import pyspark.sql.functions as F

    from cam_etl_spark.operators.dedup import cdc_chunks

    rng = random.Random(97)
    words = ["w%04d" % rng.randrange(3000) for _ in range(200)]
    doc_a = " ".join(words)
    doc_b = "INSERTED " + doc_a
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, "")], "doc_id long, text string"
    )
    out = cdc_chunks(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_no, r.h))
    assert 3 not in by_doc  # empty doc -> no chunks
    ha = {h for _, h in by_doc[1]}
    hb = {h for _, h in by_doc[2]}
    assert len(ha) >= 6  # ~200/16 chunks
    shared = len(ha & hb)
    assert shared >= int(0.7 * len(ha)), (shared, len(ha))

    # fixed 20-token chunks of the same pair share NOTHING
    def fixed(ws):
        return {
            hashlib.md5(" ".join(ws[i:i + 20]).encode()).hexdigest()
            for i in range(0, len(ws), 20)
        }
    assert not fixed(words) & fixed(["INSERTED"] + words)

    # determinism + chunk-number contiguity
    out2 = cdc_chunks(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    nos = sorted(n for n, _ in by_doc[1])
    assert nos == list(range(len(nos)))
