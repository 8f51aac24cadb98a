"""KG graph analytics: degrees, two-hop, triangles, fixed-point PageRank,
and the passage-level boilerplate detector.

Hand-computed small graphs pin the semantics; a random-graph test proves the
degree-ordered triangle orientation agrees with a brute-force id-ordered
count; PageRank is checked for exact integer determinism (two runs, reversed
edge input order, different partitioning -> bit-identical ranks) and against
a NetworkX-free hand iteration of the same fixed-point recurrence.
"""

import random

import pytest
from pyspark.sql import functions as F

from jamie_spark import kgstats, textstats


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


# K4 minus one edge (a-d): triangles abc, bcd
K4_MINUS = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"),
]


def test_degrees_directed(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "b")])
    rows = {r["node"]: (r["out_deg"], r["in_deg"]) for r in kgstats.degrees(e).collect()}
    # duplicate a->b collapses; distinct edges: ab ac bc ca
    assert rows == {"a": (2, 1), "b": (1, 1), "c": (1, 2)}


def test_two_hop_counts_and_fanout_cap(spark):
    e = _edges(spark, [("a", "m"), ("b", "m"), ("m", "x"), ("m", "y"), ("x", "y")])
    got = {
        (r["src"], r["dst2"]): r["n_paths"]
        for r in kgstats.two_hop(e).collect()
    }
    assert got == {
        ("a", "x"): 1, ("a", "y"): 1, ("b", "x"): 1, ("b", "y"): 1,
        ("m", "y"): 1,
    }
    # cap at fanout 1: mid m (out-deg 2) is dropped as the second hop
    capped = {
        (r["src"], r["dst2"]): r["n_paths"]
        for r in kgstats.two_hop(e, max_fanout=1).collect()
    }
    assert capped == {("m", "y"): 1}


def test_triangles_small_graph(spark):
    e = _edges(spark, K4_MINUS)
    tris = sorted(tuple(r) for r in kgstats.triangles(e).collect())
    assert tris == [("a", "b", "c"), ("b", "c", "d")]
    assert kgstats.triangle_count(e) == 2


def test_triangles_direction_and_dup_insensitive(spark):
    # reversed directions + duplicates project to the same undirected graph
    e = _edges(spark, [(b, a) for a, b in K4_MINUS] + K4_MINUS)
    tris = sorted(tuple(r) for r in kgstats.triangles(e).collect())
    assert tris == [("a", "b", "c"), ("b", "c", "d")]


def _brute_triangles(pairs):
    und = set()
    for a, b in pairs:
        if a != b:
            und.add((min(a, b), max(a, b)))
    nodes = sorted({x for e in und for x in e})
    tris = set()
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) not in und:
                continue
            for c in nodes:
                if c > b and (a, c) in und and (b, c) in und:
                    tris.add((a, b, c))
    return sorted(tris)


def test_triangles_match_bruteforce_random_graph(spark):
    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(24)]
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(160)
    ]
    got = sorted(tuple(r) for r in kgstats.triangles(_edges(spark, pairs)).collect())
    assert got == _brute_triangles(pairs)
    assert len(got) > 5  # the random graph actually exercises the join


def _fp_pagerank_py(pairs, iters, scale=kgstats.PR_SCALE, damping=85):
    edges = sorted(set(pairs))
    nodes = sorted({x for e in edges for x in e})
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = {n: scale for n in nodes}
    base = scale * (100 - damping) // 100
    for _ in range(iters):
        mass = {n: 0 for n in nodes}
        for s, d in edges:
            mass[d] += rank[s] // out_deg[s]
        rank = {n: base + damping * mass[n] // 100 for n in nodes}
    return rank


def test_neighbor_jaccard_semantics(spark):
    # a and b share neighbors {x, y}; a also sees z, so |union| = 3
    pairs = [("a", "x"), ("a", "y"), ("a", "z"), ("b", "x"), ("b", "y")]
    got = {
        (r["node_a"], r["node_b"]): (r["shared"], r["jaccard"])
        for r in kgstats.neighbor_jaccard(_edges(spark, pairs), min_shared=2).collect()
    }
    assert got == {("a", "b"): (2, 0.6667), ("x", "y"): (2, 1.0)}


def _nbr_jaccard_py(pairs, min_shared):
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    out = {}
    ns = sorted(nbrs)
    for i, a in enumerate(ns):
        for b in ns[i + 1:]:
            sh = len(nbrs[a] & nbrs[b])
            if sh >= min_shared:
                out[(a, b)] = (sh, round(sh / len(nbrs[a] | nbrs[b]), 4))
    return out


def test_neighbor_jaccard_matches_bruteforce(spark):
    rng = random.Random(23)
    nodes = [f"v{i}" for i in range(25)]
    pairs = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(110)})
    got = {
        (r["node_a"], r["node_b"]): (r["shared"], r["jaccard"])
        for r in kgstats.neighbor_jaccard(_edges(spark, pairs), min_shared=2).collect()
    }
    assert got == _nbr_jaccard_py(pairs, 2)


def _kcore_py(pairs, k, iters):
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    for _ in range(iters):
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        und = {(a, b) for a, b in und if a in keep and b in keep}
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return {n: d for n, d in deg.items() if d >= k}


def test_kcore_peels_tail(spark):
    # triangle core + a pendant chain hanging off it
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    got = {r["node"]: r["deg"] for r in
           kgstats.kcore(_edges(spark, pairs), k=2, iters=4).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}  # chain peels away round by round
    assert got == _kcore_py(pairs, 2, 4)
    # k=3: the triangle itself dies (max degree 2)
    assert kgstats.kcore(_edges(spark, pairs), k=3, iters=4).count() == 0


def test_kcore_matches_bruteforce_random(spark):
    rng = random.Random(17)
    nodes = [f"v{i}" for i in range(30)]
    pairs = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(140)})
    for k in (2, 3, 4):
        got = {r["node"]: r["deg"] for r in
               kgstats.kcore(_edges(spark, pairs), k=k, iters=6).collect()}
        assert got == _kcore_py(pairs, k, 6), k


def test_pagerank_matches_hand_iteration(spark):
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"), ("d", "c"),
    ]
    got = {
        r["node"]: r["rank_fp"]
        for r in kgstats.pagerank_fixed(_edges(spark, pairs), iters=4).collect()
    }
    assert got == _fp_pagerank_py(pairs, 4)
    # d has no in-edges: exactly the base term after iteration 1
    assert got["d"] == kgstats.PR_SCALE * 15 // 100
    # the damping knob stays consistent with the teleport base
    got50 = {
        r["node"]: r["rank_fp"]
        for r in kgstats.pagerank_fixed(
            _edges(spark, pairs), iters=3, damping_num=50
        ).collect()
    }
    assert got50 == _fp_pagerank_py(pairs, 3, damping=50)
    assert got50["d"] == kgstats.PR_SCALE * 50 // 100


def test_pagerank_exactly_deterministic_across_layouts(spark):
    rng = random.Random(3)
    nodes = [f"v{i}" for i in range(40)]
    pairs = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(300)})
    a = kgstats.pagerank_fixed(_edges(spark, pairs), iters=5)
    b = kgstats.pagerank_fixed(
        _edges(spark, list(reversed(pairs))).repartition(17), iters=5
    )
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb  # int64 arithmetic: no float summation-order drift
    assert ra == sorted(_fp_pagerank_py(pairs, 5).items())


def test_pagerank_sink_accumulates_more_than_source(spark):
    # star: everyone points at h
    pairs = [(f"s{i}", "h") for i in range(6)]
    got = {
        r["node"]: r["rank_fp"]
        for r in kgstats.pagerank_fixed(_edges(spark, pairs), iters=3).collect()
    }
    assert got["h"] > got["s0"]
    assert all(got[f"s{i}"] == got["s0"] for i in range(6))


def test_orientation_flattens_power_law_hub(spark):
    """The scale claim behind triangles(): on a power-law graph the oriented
    out-degree collapses — a 50k-degree hub generates ZERO wedges because
    every one of its edges points INTO it (it is the degree-max endpoint).
    Without the orientation the hub alone would contribute ~1.2e9 wedges."""
    from jamie_spark import fixtures

    edges = fixtures.zipf_edges_df(spark, 200_000, 50_000, num_partitions=8)
    max_deg = (
        kgstats.degrees(edges)
        .agg(F.max(F.col("out_deg") + F.col("in_deg")))
        .first()[0]
    )
    max_oriented = (
        kgstats.orient(edges)
        .groupBy("lo")
        .agg(F.count(F.lit(1)).alias("fan"))
        .agg(F.max("fan"))
        .first()[0]
    )
    assert max_deg > 2_000  # the generator really produces a hub
    # oriented fanout is within a small factor of sqrt(m), orders below the hub
    assert max_oriented * 20 < max_deg, (max_oriented, max_deg)


def _lpa_py(pairs, iters):
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    label = {n: n for n in adj}
    for _ in range(iters):
        nxt = {}
        for n, nbrs in adj.items():
            counts = {}
            for m in nbrs:
                counts[label[m]] = counts.get(label[m], 0) + 1
            nxt[n] = min(counts, key=lambda lb: (-counts[lb], lb))
        label = nxt
    return label


def test_label_propagation_two_cliques_with_bridge(spark):
    clique1 = [("a1", "a2"), ("a1", "a3"), ("a2", "a3")]
    clique2 = [("b1", "b2"), ("b1", "b3"), ("b2", "b3")]
    pairs = clique1 + clique2 + [("a3", "b1")]
    got = {
        r["node"]: r["label"]
        for r in kgstats.label_propagation(_edges(spark, pairs), iters=4).collect()
    }
    assert got == _lpa_py(pairs, 4)
    # the two cliques land in different communities
    assert len({got["a1"], got["a2"]}) == 1
    assert len({got["b2"], got["b3"]}) == 1
    assert got["a1"] != got["b2"]


def test_label_propagation_deterministic_across_layouts(spark):
    rng = random.Random(11)
    nodes = [f"v{i}" for i in range(30)]
    pairs = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)})
    a = kgstats.label_propagation(_edges(spark, pairs), iters=4)
    b = kgstats.label_propagation(
        _edges(spark, list(reversed(pairs))).repartition(13), iters=4
    )
    ra = sorted(tuple(r) for r in a.collect())
    assert ra == sorted(tuple(r) for r in b.collect())
    assert ra == sorted(_lpa_py(pairs, 4).items())


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_common_passages_finds_shared_boilerplate(spark):
    boiler = "all rights reserved contact us terms of service apply now"
    texts = [f"doc {i} body words {boiler}" for i in range(5)]
    texts.append("unique document with no shared passage at all here ok")
    out = textstats.common_passages(
        _docs_df(spark, texts), k=4, stride=1, min_docs=5
    ).collect()
    passages = {r["passage"]: r["n_docs"] for r in out}
    assert passages["all rights reserved contact"] == 5
    assert all(n >= 5 for n in passages.values())
    assert not any("unique" in p for p in passages)


def test_common_passages_short_docs_and_within_doc_repeat(spark):
    texts = [
        "too short",                      # < k words: no windows
        "x y z w x y z w",               # internal repeat counts ONCE per doc
        "x y z w a b c d",
    ]
    out = textstats.common_passages(
        _docs_df(spark, texts), k=4, stride=4, min_docs=2
    ).collect()
    got = {r["passage"]: r["n_docs"] for r in out}
    assert got == {"x y z w": 2}


def test_common_passages_cdc_is_offset_exact(spark):
    """The content-defined variant catches a shared block regardless of its
    offset modulo stride — the documented failure mode of the strided
    variant. Footer preceded by 1 token in doc A, 2 in doc B (offsets
    disagree mod 4): strided misses it, CDC finds identical windows."""
    footer = " ".join(f"f{i}" for i in range(40))
    texts = [f"x {footer}", f"x y {footer}", f"x y z {footer}"]
    strided = textstats.common_passages(
        _docs_df(spark, texts), k=8, stride=4, min_docs=3
    ).collect()
    cdc = textstats.common_passages_cdc(
        _docs_df(spark, texts), k=8, stride=4, min_docs=3
    ).collect()
    assert strided == []  # phase classes disagree -> strided finds nothing
    assert len(cdc) > 0   # content anchors -> same windows in all three docs
    assert all(r["n_docs"] == 3 for r in cdc)
    assert all(all(w.startswith("f") for w in r["passage"].split()) for r in cdc)
    # volume stays ~1/stride of all windows: 33 windows fully inside the
    # footer, expect ~8 anchored, certainly not all
    assert len(cdc) < 20


def test_common_passages_stride_alignment(spark):
    # stride 2 over 6 words, k=3 -> windows at pos 1 and 3 only
    out = textstats.common_passages(
        _docs_df(spark, ["a b c d e f", "a b c d e f"]), k=3, stride=2, min_docs=2
    ).collect()
    assert sorted(r["passage"] for r in out) == ["a b c", "c d e"]


def test_entity_sim_threshold_prunes_on_power_law(spark):
    """The selective-threshold regime (VERDICT r03 #7): on the md5 Zipf
    fixture (hub N1 ~ half the endpoint mass) the registered threshold must
    prune the wedge output several-fold — the word-graph entry can't show
    this because its graph is near-complete."""
    from jamie_spark import fixtures

    edges = fixtures.zipf_edges_md5_df(spark, 5000, 10000).cache()
    try:
        all_pairs = kgstats.neighbor_jaccard(
            edges, min_shared=2, threshold=0.0
        ).count()
        pruned = kgstats.neighbor_jaccard(
            edges, min_shared=2, threshold=0.5
        ).count()
    finally:
        edges.unpersist()
    assert 0 < pruned < all_pairs / 3, (pruned, all_pairs)


def test_bfs_distances_hand_graph(spark):
    # chain a->b->c->d, shortcut a->c, back-edge d->a, unreachable island x->y
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "a"), ("x", "y")],
    )
    got = {
        r["node"]: r["dist"]
        for r in kgstats.bfs_distances(e, "a", max_hops=6).collect()
    }
    # shortcut wins over the chain for c; island never reached
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_distances_hop_cap_and_directedness(spark):
    # a->b->c->d with the cap at 2: d is out of radius; edges are DIRECTED
    # so from "b" vertex a is unreachable
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    capped = {
        r["node"]: r["dist"]
        for r in kgstats.bfs_distances(e, "a", max_hops=2).collect()
    }
    assert capped == {"a": 0, "b": 1, "c": 2}
    from_b = {
        r["node"]: r["dist"]
        for r in kgstats.bfs_distances(e, "b", max_hops=6).collect()
    }
    assert from_b == {"b": 0, "c": 1, "d": 2}


def test_bfs_distances_matches_bruteforce_random_graph(spark):
    rng = random.Random(4051)
    nodes = [f"n{i:02d}" for i in range(30)]
    pairs = {
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(70)
    }
    pairs = [(s, d) for s, d in pairs if s != d]
    # reference BFS
    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
    want, frontier = {"n00": 0}, ["n00"]
    for hop in range(1, 5):
        nxt = sorted(
            {d for v in frontier for d in adj.get(v, ()) if d not in want}
        )
        for d in nxt:
            want[d] = hop
        frontier = nxt
    got = {
        r["node"]: r["dist"]
        for r in kgstats.bfs_distances(
            _edges(spark, pairs), "n00", max_hops=4
        ).collect()
    }
    assert got == want


def test_negative_sample_semantics(spark):
    t = spark.createDataFrame(
        [("s1", "p", "o1"), ("s1", "p", "o2"), ("s2", "p", "o1"),
         ("s3", "q", "o3")],
        "subj string, pred string, obj string",
    )
    got = kgstats.negative_sample(t, k=3).collect()
    # corruption vocab = heads + tails
    vocab = {"s1", "s2", "s3", "o1", "o2", "o3"}
    positives = {("s1", "p", "o1"), ("s1", "p", "o2"), ("s2", "p", "o1"),
                 ("s3", "q", "o3")}
    for r in got:
        # every negative comes from the tail vocab and is never a positive
        assert r["neg_obj"] in vocab
        assert (r["subj"], r["pred"], r["neg_obj"]) not in positives
        assert 0 <= r["sample_idx"] < 3
    # at most k per positive; at least one survives overall
    from collections import Counter

    per_pos = Counter((r["subj"], r["pred"]) for r in got)
    assert got and max(per_pos.values()) <= 2 * 3  # s1 has two positives
    # deterministic: second run identical
    again = kgstats.negative_sample(t, k=3).collect()
    key = lambda r: (r["subj"], r["pred"], r["neg_obj"], r["sample_idx"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, again))
    # n_entities passthrough gives the same sample (no eager count)
    pre = kgstats.negative_sample(t, k=3, n_entities=6).collect()
    assert sorted(map(key, got)) == sorted(map(key, pre))


def test_triple_provenance_rollup(spark):
    """Mention count, distinct-source support, and observation span per
    triple; duplicate mentions from one source count mentions but not
    sources."""
    t = spark.createDataFrame(
        [
            ("s1", "p", "o1", 1, 100),
            ("s1", "p", "o1", 1, 100),   # same page mentions it twice
            ("s1", "p", "o1", 2, 500),   # independent re-assertion later
            ("s2", "p", "o2", 3, 50),
        ],
        "subj string, pred string, obj string, doc_id long, observed_at long",
    )
    got = {
        (r["subj"], r["pred"], r["obj"]): (
            r["n_mentions"], r["n_sources"], r["first_seen"], r["last_seen"]
        )
        for r in kgstats.triple_provenance(t).collect()
    }
    assert got == {
        ("s1", "p", "o1"): (3, 2, 100, 500),
        ("s2", "p", "o2"): (1, 1, 50, 50),
    }


def test_negative_sample_k_zero_is_empty(spark):
    """k=0 disables negatives entirely — Spark's sequence(0, -1) would
    auto-descend and emit phantom sample_idx in {0, -1} per positive."""
    t = spark.createDataFrame(
        [("s1", "p", "o1"), ("s2", "p", "o2")],
        "subj string, pred string, obj string",
    )
    out = kgstats.negative_sample(t, k=0)
    assert out.columns == ["subj", "pred", "neg_obj", "sample_idx"]
    assert out.count() == 0


def test_negative_sample_rank_two_phase_scale_shape(spark):
    """The entity-vocab rank must ride the shared two-phase md5-prefix
    prefix sum, not a global ORDER BY window — a web-KG vocab grows with
    the corpus, so a bare row_number() OVER (ORDER BY entity) is the same
    single-reducer sort the token_budget fix removed. Assert the rank is
    the md5-walk position (semantics) and that every window in the plan
    partitions by the bucket column (shape)."""
    import contextlib
    import hashlib
    import io

    rows = [(f"s{i}", "p", f"o{(i * 7) % 40}") for i in range(120)]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = kgstats.negative_sample(t, k=2)
    # reference semantics: slot -> entity along the md5(entity) walk
    pos = set(rows)
    vocab = sorted(
        {s for s, _, _ in rows} | {o for _, _, o in rows},
        key=lambda e: (hashlib.md5(e.encode()).hexdigest(), e),
    )
    exp = set()
    for s, p, o in set(rows):
        for i in range(2):
            h = hashlib.md5(f"{s}|{p}|{o}|{i}".encode()).hexdigest()
            neg = vocab[int(h[:15], 16) % len(vocab)]
            if (s, p, neg) not in pos:
                exp.add((s, p, neg, i))
    got = {
        (r["subj"], r["pred"], r["neg_obj"], r["sample_idx"])
        for r in out.collect()
    }
    assert got == exp and got
    # plan shape: every window partitions by the md5-prefix bucket _b
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    wins = [
        ln
        for ln in buf.getvalue().splitlines()
        if "windowspecdefinition" in ln
    ]
    assert wins, "rank window not found in plan"
    assert all("_b#" in ln for ln in wins), wins


def test_pagerank_weighted_unit_weights_equal_fixed(spark):
    """With every weight = 1 on a distinct-edge graph the weighted
    recurrence degenerates to pagerank_fixed exactly — bit-identical."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src string, dst string",
    )
    fixed = {
        r["node"]: r["rank_fp"]
        for r in kgstats.pagerank_fixed(edges, iters=4).collect()
    }
    weighted = {
        r["node"]: r["rank_fp"]
        for r in kgstats.pagerank_weighted(
            edges.withColumn("w", F.lit(1)), iters=4
        ).collect()
    }
    assert weighted == fixed


def test_pagerank_weighted_mass_follows_weight(spark):
    """The heavier out-edge carries more mass: with a->b weighted 9 and
    a->c weighted 1, b outranks c (same topology, same everything else)."""
    edges = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    ranks = {
        r["node"]: r["rank_fp"]
        for r in kgstats.pagerank_weighted(edges, iters=5).collect()
    }
    assert ranks["b"] > ranks["c"]


def test_pagerank_weighted_parallel_edges_preaggregate(spark):
    """Duplicate (src, dst) rows sum their weights — three unit rows
    equal one weight-3 row, bit-identical."""
    dup = spark.createDataFrame(
        [("a", "b", 1)] * 3 + [("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    merged = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    a = {r["node"]: r["rank_fp"]
         for r in kgstats.pagerank_weighted(dup, iters=4).collect()}
    b = {r["node"]: r["rank_fp"]
         for r in kgstats.pagerank_weighted(merged, iters=4).collect()}
    assert a == b


def test_pagerank_weighted_hand_iteration(spark):
    """The weighted int64 recurrence matches a hand iteration using the
    same div/mod floor decomposition."""
    rows = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 5)]
    edges = spark.createDataFrame(rows, "src string, dst string, w long")
    scale, damp, iters = 1_000_000_000, 85, 4
    base = scale * (100 - damp) // 100
    nodes = {"a", "b", "c"}
    out_w = {}
    for s, _, w in rows:
        out_w[s] = out_w.get(s, 0) + w
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        mass = {n: 0 for n in nodes}
        for s, d, w in rows:
            W = out_w[s]
            r = rank[s]
            mass[d] += (r // W) * w + ((r % W) * w) // W
        rank = {n: base + (damp * mass[n]) // 100 for n in nodes}
    got = {r["node"]: r["rank_fp"]
           for r in kgstats.pagerank_weighted(edges, iters=iters).collect()}
    assert got == rank
