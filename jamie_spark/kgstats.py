"""Graph analytics over constructed KG triples (kg_construct tier).

The reference (racerandom/JaMIE) stops at emitting document-level triples;
any downstream consumer of a 100 TB web-scale knowledge graph immediately
needs the classic graph profile: degree distributions, multi-hop reachability
counts, triangle/clustering structure, and a centrality ranking. These are
first-class operators here, all expressed as DataFrame plans over an edge
table ``(src, dst)`` so Catalyst handles pushdown/pruning and AQE handles
runtime skew.

Scale design notes (each operator documents its own):

* ``degrees``        — one hash aggregation, map-side partial combine.
* ``two_hop``        — a single self-join shuffled on the MID vertex; hub
                       mids are the skew risk, AQE skew-split plus an
                       optional hub cap (``max_fanout``) bound the blowup.
* ``triangles``      — degree-ordered edge orientation (each undirected edge
                       points low->high by (degree, id)), the standard trick
                       that bounds wedge generation by O(m * arboricity)
                       instead of O(sum deg^2): the hottest hub generates NO
                       wedges unless both endpoints out-rank it.
* ``pagerank_fixed`` — fixed-point INTEGER PageRank: ranks are scaled to
                       int64 units and every step is integer arithmetic
                       (div/sum), so results are exactly reproducible across
                       engines and partitionings — float summation order can
                       never flip a value. This is what makes an iterative
                       algorithm value-oracle-able against DuckDB.

No counterpart exists in the reference repo; cited papers: triangle
orientation per Ortmann & Brandes (2014) / Suri & Vassilvitskii (2011,
"Counting triangles and the curse of the last reducer").
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from .frames import local_frame, materialize, scope

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

# 1.0 of PageRank mass in fixed-point units. int64 holds total mass up to
# ~9.2e9 vertices at this scale; raise/lower per deployment (documented
# knob). The damping step uses the exact identity
#   (d * m) div 100 == d * (m div 100) + (d * (m mod 100)) div 100
# (valid because 100*(m div 100)*d is divisible by 100), so intermediate
# products stay below ~0.85 * m + 8415 and the in-mass bound really is the
# full int64 range — the naive d * m multiply would silently wrap once one
# hub vertex collected more than ~1.1e8 vertices' worth of mass.
PR_SCALE = 1_000_000_000


def _damped(damping_num: int, mass_sql: str) -> "F.Column":
    """``(damping_num * mass) div 100`` via the overflow-safe exact
    decomposition above; ``mass_sql`` is an int64 SQL expression."""
    d = int(damping_num)
    return F.expr(
        f"{d} * (({mass_sql}) div 100)"
        f" + ({d} * (({mass_sql}) % 100)) div 100"
    )


def degrees(edges: "DataFrame") -> "DataFrame":
    """Per-vertex degree profile over a DIRECTED distinct-edge table.

    Returns (node, out_deg, in_deg). One shuffle per direction on the vertex
    key, partial-aggregated map-side; the union+sum keeps it to a single
    final hash aggregation instead of an outer join.
    """
    e = edges.select("src", "dst").distinct()
    out_part = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg"), F.lit(0).cast("long").alias("in_deg")
    )
    in_part = e.groupBy(F.col("dst").alias("node")).agg(
        F.lit(0).cast("long").alias("out_deg"), F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_part.unionByName(in_part)
        .groupBy("node")
        .agg(F.sum("out_deg").alias("out_deg"), F.sum("in_deg").alias("in_deg"))
    )


def two_hop(edges: "DataFrame", max_fanout: int | None = None) -> "DataFrame":
    """Count 2-hop directed paths a->m->c, grouped by (src, dst2).

    The self-join shuffles both sides on the MID vertex — the natural key —
    so each mid's wedges are produced by one task; AQE skew-join splitting
    handles hot mids at runtime. ``max_fanout`` optionally drops mids whose
    out-degree exceeds the cap BEFORE the join (hub blacklisting, the same
    document-frequency-cap idea as textstats._filtered_shingles): on a
    power-law web KG the top hub alone would otherwise contribute
    in_deg*out_deg ~ O(n^2) paths.
    """
    e = edges.select("src", "dst").distinct()
    right = e
    if max_fanout is not None:
        hubs = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("fan"))
            .where(F.col("fan") > max_fanout)
            .select("src")
        )
        right = e.join(F.broadcast(hubs), "src", "left_anti")
    a = e.select(F.col("src"), F.col("dst").alias("mid"))
    b = right.select(F.col("src").alias("mid"), F.col("dst").alias("dst2"))
    return (
        a.join(b, "mid")
        .groupBy("src", "dst2")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


def _undirected(edges: "DataFrame") -> "DataFrame":
    """Distinct undirected projection with endpoints ordered a < b."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _adjacency(und: "DataFrame") -> "DataFrame":
    """Undirected edges (a, b) -> both-direction (node, nbr) rows — the one
    definition of adjacency every undirected operator shares."""
    return und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionAll(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))


def _und_degrees(und: "DataFrame") -> "DataFrame":
    """(node, deg) over the undirected projection — single source for the
    degree semantics (self-loops already dropped by _undirected; parallel
    edges already collapsed by its distinct)."""
    return (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def orient(edges: "DataFrame", und: "DataFrame | None" = None) -> "DataFrame":
    """Degree-order the undirected projection: every edge points from the
    LOWER to the HIGHER endpoint under the total order (degree, node) — so
    every vertex's oriented out-degree is bounded by O(sqrt(m)) on any graph
    (a max-degree hub's edges ALL point into it: oriented out-degree 0).
    Public so the skew tests can assert the hub-flattening directly.
    ``und`` lets callers that already materialized the undirected
    projection (triangles) share it instead of re-deriving the scan +
    distinct. Returns (lo, hi)."""
    und = _undirected(edges) if und is None else und
    deg = _und_degrees(und)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # orient low -> high under (deg, id); ties broken by id so the order is total
    return (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select(F.col("e.lo").alias("lo"), F.col("e.hi").alias("hi"))
    )


def triangles(edges: "DataFrame") -> "DataFrame":
    """Enumerate triangles (a, b, c), a < b < c, of the undirected projection.

    Plan: degree-ordered orientation (see :func:`orient`) bounds wedge
    generation by O(m * arboricity) instead of O(sum deg^2); oriented wedges
    (x->y, x->z) are joined back against undirected edges (y, z). The
    orientation changes WHICH joins produce each triangle but never the set
    of triangles, so a plain id-ordered 3-way self-join is a valid
    cross-engine oracle while Spark runs the skew-proof plan.

    The wedge join shuffles on the wedge's low vertex; the closing join on
    (y, z) is an equi-join on both endpoints. Output columns are the
    id-sorted triple so the result is orientation-independent.

    Runs one Spark job when called: the eager checkpoint of ``und``.
    """
    # und feeds the closing join AND orient's degree lineage (3+ reads of
    # the raw scan + distinct otherwise; the branches shuffle on different
    # keys so ReuseExchange cannot collapse them) — materialize once, the
    # same treatment neighbor_jaccard gives its adjacency
    und = materialize(_undirected(edges))
    oriented = orient(edges, und=und)
    w1 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    w2 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    # y < z by id keeps each wedge once (both orderings close the same triangle)
    wedges = w1.join(w2, "x").where(F.col("y") < F.col("z"))
    closing = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    tri = wedges.join(closing, ["y", "z"])
    return tri.select(
        F.least("x", "y", "z").alias("a"),
        F.greatest(
            F.least("x", "y"), F.least(F.greatest("x", "y"), "z")
        ).alias("b"),
        F.greatest("x", "y", "z").alias("c"),
    )


def triangle_count(edges: "DataFrame") -> int:
    """Total triangle count (driver-side scalar)."""
    return triangles(edges).count()


_LPA_CHECKPOINT_EVERY = 3


def label_propagation(edges: "DataFrame", iters: int = 4) -> "DataFrame":
    """Synchronous label-propagation community detection, deterministic.

    label_0(v)     = v
    label_{i+1}(v) = the most frequent label among v's undirected neighbors,
                     ties broken by MIN label. The vertex set is the edge
                     endpoints (self-loops dropped), so every vertex has a
                     neighbor. (Classic async LPA visits vertices in random
                     order — useless for a reproducible pipeline; the
                     synchronous variant with a total tie-break is exactly
                     reproducible across engines and partitionings, so it
                     value-oracles against an unrolled-CTE DuckDB twin the
                     same way pagerank_fixed does.)

    Per iteration: one join (adjacency x labels, shuffled on the neighbor
    key) + one count aggregation + one max_by-style reduction — no window
    sort; the per-vertex argmax uses ``min_by`` over the (-count, label)
    struct so the whole step stays a hash aggregation. Fixed ``iters`` keeps
    the round count independent of data (communities stabilize in a handful
    of rounds; convergence detection would add a driver action per round).

    Lineage is truncated with ``frames.materialize`` every
    ``_LPA_CHECKPOINT_EVERY`` rounds, not every round — each eager
    checkpoint is a full materialization barrier (a scheduled job), pure
    overhead when Catalyst can plan 2-3 chained rounds as one job; unbounded
    chaining would instead grow the plan tree superlinearly. Same cadence on
    :func:`pagerank_fixed`.

    Runs Spark jobs when called: the labels are computed here.
    """
    with scope() as s:
        adj = materialize(_adjacency(_undirected(edges)))
        nodes = materialize(adj.select("node").distinct())
        labels = nodes.select("node", F.col("node").alias("label"))
        for it in range(iters):
            nbr_labels = adj.join(
                labels.select(
                    F.col("node").alias("nbr"),
                    F.col("label").alias("nbr_label"),
                ),
                "nbr",
            )
            counts = nbr_labels.groupBy("node", "nbr_label").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            best = counts.groupBy("node").agg(
                F.min_by(
                    "nbr_label",
                    F.struct((-F.col("cnt")).alias("neg"), "nbr_label"),
                ).alias("label")
            )
            labels = nodes.join(best, "node", "left").select(
                "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
            )
            if (it + 1) % _LPA_CHECKPOINT_EVERY == 0 and it + 1 < iters:
                labels = materialize(labels)
        return s.keep(materialize(labels))


def neighbor_jaccard(
    edges: "DataFrame", min_shared: int = 2, threshold: float = 0.0
) -> "DataFrame":
    """(node_a, node_b, shared, jaccard) — undirected-neighborhood Jaccard
    for every vertex pair sharing >= ``min_shared`` neighbors: the classic
    link-prediction / entity-similarity signal over the KG ("these two
    entities connect to the same things").

    Plan shape is the dedup posting-list join transplanted to graphs:
    pairs are generated ONLY through shared neighbors (wedge join on the
    common vertex — never an all-pairs product), counted, then the union
    size arrives arithmetically as deg_a + deg_b - shared. Hub neighbors
    create the same quadratic wedge risk as hot shingles; callers on
    power-law graphs should pre-cap hubs (drop or sample neighbors of
    degree > D, exactly like textstats' max_df cap — not applied by default
    because, unlike boilerplate shingles, hubs may be the signal).

    Runs one Spark job when called: the eager checkpoint of ``adj``.
    """
    # adj feeds THREE distinct subplans (deg, both wedge sides) with
    # different shuffle keys — ReuseExchange can't collapse them, so
    # materialize once instead of re-running the scan + distinct 3x
    adj = materialize(_adjacency(_undirected(edges)))
    # degree over adjacency == _und_degrees over und (both directions once)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    w1 = adj.select(F.col("node").alias("node_a"), "nbr")
    w2 = adj.select(F.col("node").alias("node_b"), "nbr")
    shared = (
        w1.join(w2, "nbr")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("deg_b"))
    # threshold on the EXACT ratio, round only the output column: rounding
    # first would admit pairs just under the threshold (0.49996 -> 0.5)
    # and make boundary pairs impossible to exclude. The exact double of
    # an int/int division is engine-deterministic, so the oracle mirrors.
    exact = F.col("shared") / (
        F.col("deg_a") + F.col("deg_b") - F.col("shared")
    )
    return (
        shared.join(da, "node_a")
        .join(db, "node_b")
        .where(exact >= threshold)
        .select(
            "node_a",
            "node_b",
            "shared",
            F.round(exact, 4).alias("jaccard"),
        )
    )


_KCORE_CHECKPOINT_EVERY = 1


def kcore(edges: "DataFrame", k: int = 3, iters: int = 5) -> "DataFrame":
    """(node, deg) — the k-core after ``iters`` peeling rounds: repeatedly
    drop vertices whose UNDIRECTED degree is < k, then edges touching them.

    The dense-subgraph detector (spam link farms, tightly-coupled entity
    clusters) next to LPA's communities. Pure integer degree arithmetic and
    a fixed round count, so — like pagerank_fixed/label_propagation — the
    result is engine-exact and value-oracles against an unrolled-CTE DuckDB
    twin. ``iters`` bounds the peeling: most graphs converge in a handful
    of rounds (a round that deletes nothing is a fixpoint and further
    rounds are no-ops, so running extra rounds is safe, just wasted);
    convergence detection would add a driver action per round. Per round:
    one degree aggregation + one semi-join per endpoint.

    Lineage is truncated every round here (``_KCORE_CHECKPOINT_EVERY``),
    unlike pagerank/LPA: each
    round references the PREVIOUS round's edge frame three times (degree
    union twice + the filter join), so an unmaterialized chain duplicates
    the whole prior-round subtree per reference — ~3^rounds copies of the
    scan by round 4 (measured 12s vs ~1s on the sf0.1 word graph). The
    per-round barrier is the cheap side of that trade.

    Runs Spark jobs when called: the core is computed here.
    """
    with scope() as s:
        cur = materialize(_undirected(edges))
        for it in range(iters):
            keep = _und_degrees(cur).where(F.col("deg") >= k).select("node")
            cur = (
                cur.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
                .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
                .select("a", "b")
            )
            if (it + 1) % _KCORE_CHECKPOINT_EVERY == 0 and it + 1 < iters:
                cur = materialize(cur)
        return s.keep(materialize(_und_degrees(cur).where(F.col("deg") >= k)))


_PR_CHECKPOINT_EVERY = 3


def pagerank_fixed(
    edges: "DataFrame",
    iters: int = 5,
    damping_num: int = 85,
    scale: int = PR_SCALE,
) -> "DataFrame":
    """Fixed-point integer PageRank, exactly reproducible across engines.

    rank_0(v)   = scale                       (i.e. 1.0 in fixed-point units)
    contrib(e)  = rank_i(src) DIV out_deg(src)             (integer division)
    rank_{i+1}(v) = ((100 - damping_num) * scale) DIV 100
                  + (damping_num * SUM contrib(in-edges))  DIV 100

    Every operation is int64 arithmetic: sums are associative/commutative
    exactly, so partition order, shuffle order, and engine (Spark vs DuckDB)
    can never change a single unit — unlike float PageRank, where summation
    order drifts the low bits and breaks value-hash comparison. The truncated
    division remainder is the deliberate price (bounded by out_deg units per
    vertex per iteration, i.e. ~1e-9 of mass at the default scale).

    Dangling vertices (no out-edges) simply leak their mass, the classic
    simplified formulation. Runs as :func:`pagerank_weighted` over the
    distinct edges at unit weight: with ``w = 1`` its per-edge floor
    ``(r div W) * w + ((r mod W) * w) div W`` is ``r div out_deg``, so the
    result is the recurrence above, bit for bit. Runs Spark jobs when
    called: the ranks are computed here.
    """
    unit = edges.select("src", "dst").distinct().withColumn("w", F.lit(1))
    return pagerank_weighted(unit, iters, damping_num, scale)


def pagerank_weighted(
    edges: "DataFrame",
    iters: int = 5,
    damping_num: int = 85,
    scale: int = PR_SCALE,
) -> "DataFrame":
    """Fixed-point integer PageRank over a WEIGHTED multigraph
    (src, dst, w): each vertex pushes ``rank * w(e) DIV w_out(src)`` per
    edge, so a host that links somewhere 157 times pushes 157x the mass
    of a single link — the authority signal host graphs actually need
    (:func:`pagerank_fixed` sees only the distinct-edge skeleton, which
    flattens real link-count asymmetry into rank ties). Parallel edge
    rows pre-aggregate into one weighted edge.

    Same engine-exact int64 contract as :func:`pagerank_fixed`; the
    per-edge floor is taken via the exact identity
    ``(rank * w) div W == (rank div W) * w + ((rank mod W) * w) div W``
    so intermediate products stay below ``W * max_w`` instead of
    ``rank * max_w`` (safe while a vertex's total out-weight squared fits
    int64, i.e. out-weight < ~3e9 — pre-bucket heavier weights).

    Each iteration is one join (edges x ranks, shuffled on src) + one
    aggregation (shuffled on dst); lineage is truncated with
    ``frames.materialize`` every ``_PR_CHECKPOINT_EVERY`` rounds (each is a
    full materialization barrier — pure overhead when Catalyst can plan a
    few chained rounds as one job) and once at the end, before the loop
    invariants and intermediate rounds are released on return. Runs Spark
    jobs when called: the ranks are computed here.
    """
    e = edges.groupBy("src", "dst").agg(F.sum("w").cast("long").alias("w"))
    base = scale * (100 - damping_num) // 100
    with scope() as s:
        # both loop invariants are materialized: every iteration re-reads
        # the vertex set AND the weight-annotated edges, which would
        # otherwise re-run the upstream scan + aggregation each round
        nodes = materialize(
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
        e_deg = materialize(e.join(out_w, "src"))
        ranks = nodes.select(
            "node", F.lit(int(scale)).cast("long").alias("rank_fp")
        )
        for it in range(iters):
            contribs = (
                e_deg.join(ranks, e_deg["src"] == ranks["node"])
                .select(
                    F.col("dst"),
                    (
                        F.expr("rank_fp div out_w") * F.col("w")
                        + F.expr("((rank_fp % out_w) * w) div out_w")
                    ).alias("contrib"),
                )
                .groupBy("dst")
                .agg(F.sum("contrib").alias("in_mass"))
            )
            ranks = (
                nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
                .select(
                    "node",
                    (
                        F.lit(int(base))
                        + _damped(damping_num, "coalesce(in_mass, 0L)")
                    ).cast("long").alias("rank_fp"),
                )
            )
            if (it + 1) % _PR_CHECKPOINT_EVERY == 0 and it + 1 < iters:
                ranks = materialize(ranks)
        return s.keep(materialize(ranks))


_BFS_CHECKPOINT_EVERY = 3


def bfs_distances(
    edges: "DataFrame",
    source: str,
    max_hops: int = 6,
) -> "DataFrame":
    """Single-source BFS hop distances over the DIRECTED edge table, bounded
    at ``max_hops`` — the multi-hop reachability primitive (path-length
    queries, neighborhood radius profiles) a KG consumer asks right after
    ``two_hop``.

    Returns (node, dist) for every vertex reachable from ``source`` within
    ``max_hops`` directed hops, ``dist`` = minimal hop count (source row is
    (source, 0)).

    Frontier algorithm: each round joins the CURRENT frontier (only the
    just-discovered vertices, never the settled set) to the edge table —
    shuffled on the join key — then anti-joins the settled set so a vertex
    is labeled the first (= minimal) time it is seen. Work per round is
    O(edges out of the frontier), total O(E) over the run like the classic
    BFS bound; the settled set grows monotonically and is the anti-join's
    build side. Bounded rounds keep the plan finite at web scale (a 100 TB
    KG has effectively unbounded diameter through crawl-noise chains; every
    production path query caps its radius). Lineage is truncated with
    ``frames.materialize`` every ``_BFS_CHECKPOINT_EVERY`` rounds, same
    contract as ``pagerank_fixed``; early-exits when the frontier empties.

    Engine-portable by construction (set arithmetic only, no floats), so the
    driver oracle replays it as a depth-capped recursive CTE with MIN(d).

    Runs Spark jobs when called: the distances are computed here.
    """
    spark = edges.sparkSession
    settled = local_frame(spark, [(source, 0)], "node string, dist long")
    frontier = settled.select("node")
    with scope() as s:
        e = materialize(edges.select("src", "dst").distinct())
        for hop in range(1, max_hops + 1):
            # materialize the frontier ONCE per round: it is consumed three
            # times (the emptiness check, the settled union, next round's
            # join) — without this each consumer replays the join+anti-join
            nxt = materialize(
                e.join(frontier, e["src"] == frontier["node"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(settled.select("node"), "node", "left_anti")
            )
            if nxt.isEmpty():
                break
            settled = settled.unionByName(
                nxt.select("node", F.lit(hop).cast("long").alias("dist"))
            )
            if hop % _BFS_CHECKPOINT_EVERY == 0:
                # the settled union chain feeds every later anti-join
                settled = materialize(settled)
            frontier = nxt
        return s.keep(materialize(settled))


def triple_provenance(
    triples: "DataFrame",
    source_col: str = "doc_id",
    time_col: str = "observed_at",
) -> "DataFrame":
    """(subj, pred, obj, n_mentions, n_sources, first_seen, last_seen) —
    knowledge-fusion provenance rollup: how often, from how many distinct
    sources, and over what observation span each candidate triple was
    asserted. This is the confidence signal KG construction ranks and
    thresholds on (a triple seen once on one page is noise; seen across
    many independent pages over months it is knowledge) and the per-triple
    lineage record the north-star contract asks the materialized graph to
    carry.

    Scale shape: ONE hash aggregation keyed by the triple — map-side
    combine does most of the work (mention streams collapse to triple
    cardinality before the shuffle); COUNT(DISTINCT source) rewrites to a
    two-level partial aggregate under whole-stage codegen, never a
    per-triple set in Python. Exact integer outputs (counts + epoch
    seconds), so the rollup value-oracles like the samplers.
    """
    return triples.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct(source_col).alias("n_sources"),
        F.min(time_col).cast("long").alias("first_seen"),
        F.max(time_col).cast("long").alias("last_seen"),
    )


def negative_sample(
    triples: "DataFrame", k: int = 2, n_entities: int | None = None
) -> "DataFrame":
    """Deterministic corrupt-tail negative sampling — the training-data
    generator for KG-embedding models (TransE-family): every positive
    (subj, pred, obj) gets ``k`` corrupted tails drawn from the entity
    vocabulary, with any corruption that is itself a known positive
    filtered out.

    Returns (subj, pred, neg_obj, sample_idx); rows whose hash-pick
    collides with a true triple are DROPPED (both engines drop the same
    rows), so up to ``k`` rows come back per positive.

    Determinism: pick i for a triple is ``md5(subj|pred|obj|i) mod |V|``
    — engine-portable integer arithmetic (the same 60-bit md5-prefix
    trick as the HLL/CMS sketches), so the sample is reproducible across
    runs, partitionings, and engines, and the driver oracle replays it
    exactly.

    Scale shape: the entity vocabulary gets a dense 0-based rank along the
    md5(entity) walk via the shared two-phase md5-prefix prefix sum
    (textstats._md5_walk_cumsum with unit weights) — a web-KG entity vocab
    GROWS with the corpus (every canonicalized surface is a node), so a
    bare ``row_number() OVER (ORDER BY entity)`` would funnel the whole
    vocabulary through ONE window task: the exact single-reducer sort the
    token_budget_sample fix removed. The walk rank is just as
    deterministic (ORDER BY md5(entity), entity — the oracle replays it
    verbatim) and every partition stays 1/256th of the vocab. The
    per-corpus work is an equi-join of candidates on the slot key (plain
    shuffle join, no broadcast assumption — a web-KG vocab can exceed
    broadcast limits) and a left-anti join against the positive set.
    ``n_entities`` skips the vocab count when the caller already knows it
    (same contract as sim's ``n_rows``).

    Runs Spark jobs when called: the eager checkpoints of ``t`` and ``ent``,
    and the vocab count unless ``n_entities`` is given.
    """
    if k <= 0:
        # k=0 means "no negatives", not sequence(0, -1) — Spark's sequence
        # auto-descends and would emit sample_idx in {0, -1} per positive
        return triples.select("subj", "pred", "obj").where(F.lit(False)).select(
            "subj",
            "pred",
            F.col("obj").alias("neg_obj"),
            F.lit(0).cast("long").alias("sample_idx"),
        )
    # the distinct positive set feeds FOUR consumers (entity vocab twice,
    # candidates, the positive anti-join) plus the optional eager count —
    # materialize once instead of re-running the upstream extraction +
    # distinct per consumer
    t = materialize(triples.select("subj", "pred", "obj").distinct())
    # corruption vocabulary = ALL entities (heads and tails, the TransE
    # convention): a tails-only vocab can be so saturated by positives on
    # a dense dictionary-derived graph that every corruption collides and
    # the sample comes back empty
    # vocab feeds the count, and the rank prefix-sum reads it through two
    # branches — materialize (it is entity-cardinality, not corpus rows)
    ent = materialize(
        t.select(F.col("subj").alias("obj")).union(t.select("obj")).distinct()
    )
    if n_entities is None:
        n_entities = ent.count()
    from . import textstats

    ent_d = ent.select(
        F.col("obj").alias("doc_id"),
        F.lit(1).cast("long").alias("unit_w"),
    )
    # unit weight as an inline column — the weights-frame form self-joined
    # the entity vocabulary on doc_id (both sides re-running the distinct)
    ranked = textstats._md5_walk_cumsum(ent_d, [], weight_col="unit_w")
    ent_rk = ranked.select(
        F.col("doc_id").alias("neg_obj"),
        (F.col("cum_tokens") - 1).alias("rk"),
    )
    cand = t.select(
        "subj",
        "pred",
        "obj",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("sample_idx"),
    ).withColumn(
        "slot",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            "subj",
                            "pred",
                            "obj",
                            F.col("sample_idx").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(int(n_entities)),
        ),
    )
    neg = cand.join(ent_rk, cand["slot"] == ent_rk["rk"]).select(
        "subj",
        "pred",
        "neg_obj",
        F.col("sample_idx").cast("long").alias("sample_idx"),
    )
    pos = t.select("subj", "pred", F.col("obj").alias("neg_obj"))
    return neg.join(pos, ["subj", "pred", "neg_obj"], "left_anti")
