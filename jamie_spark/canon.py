"""Canonicalization by connected components over alias edges (N4).

The canonical map is union-find on the driver over the dictionary rows
linking reads too: ``concepts.prepare`` builds it with the linking index
from one collect, and :func:`canonicalize_concepts` returns it as a local
relation built through Arrow (:func:`frames.local_frame`): a
``LocalTableScan`` that runs no Python task when it is read or broadcast.

:func:`connected_components` serves graph-sized inputs. GraphFrames is the
first choice on a real cluster (north_star names it); its jar is optional,
so the engine ships a pure-DataFrame fallback and picks at runtime
(SURVEY.md §7 step 6). Physical strategies, chosen from what the call can
observe:

* driver union-find below ``SMALL_GRAPH_EDGES`` — tiny graphs don't
  deserve shuffles; the components come back as a local relation too;
* GraphFrames ``connectedComponents`` when the jar is present;
* **alternating large-star / small-star** (Kiveris et al., "Connected
  Components in MapReduce and Beyond") — the distributed default: converges
  in O(log n) rounds regardless of graph diameter, each round two grouped
  aggregations. This is the algorithm that survives adversarial graphs
  (long alias chains) where naive label propagation needs O(diameter)
  rounds. It raises if ``CC_MAX_ROUNDS`` pass unconverged.

On shallow graphs the star algorithm costs what label propagation does,
and it removes the diameter failure mode. ``frames.materialize`` truncates
lineage every round so plans don't snowball; the solve releases the rounds.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from .concepts import prepare, union_find
from .frames import local_frame, materialize, scope

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

    from .concepts import Prepared


def _graphframes_available(spark) -> bool:
    try:
        import graphframes  # noqa: F401

        # py4j returns a JavaPackage (no raise) for a missing class, so
        # attribute access alone cannot probe the JAR — load the class
        # through reflection, which raises when the jar is absent. Without
        # this, pip-installed graphframes with no spark-packages jar (the
        # common misconfiguration) would take the GraphFrames branch and
        # crash mid-job instead of falling back to the star rounds.
        # context classloader, not Class.forName: jars added at session
        # start (--packages / spark.jars) live there, not always on the
        # JVM system classpath
        spark._jvm.Thread.currentThread().getContextClassLoader().loadClass(
            "org.graphframes.GraphFrame"
        )
        return True
    except Exception:
        return False


#: below this edge count the graph is collected and solved with union-find on
#: the driver — one job instead of O(diameter) iterations. Same adaptive idea
#: as Spark's broadcast-join threshold: tiny graphs don't deserve shuffles.
SMALL_GRAPH_EDGES = 100_000

#: round cap of the distributed star path, which raises when the cap passes
#: unconverged; the star rounds need O(log n), so 50 leaves wide headroom
CC_MAX_ROUNDS = 50


def _checksum(df: "DataFrame") -> tuple[int, int]:
    """(row_count, order-insensitive hash) of an edge set — the cheap
    convergence test for the star rounds (one aggregation, no sort/except)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).first()
    return row["n"], row["h"]


def _endpoints(edges: "DataFrame") -> "DataFrame":
    """(vertex) — the distinct non-null endpoints of an edge set."""
    return (
        edges.select(F.col("src").alias("vertex"))
        .union(edges.select(F.col("dst").alias("vertex")))
        .where(F.col("vertex").isNotNull())
        .distinct()
    )


def _star_components(edges: "DataFrame") -> "DataFrame":
    """Alternating large-star / small-star -> (vertex, component=min vertex).

    Each round:
      large-star: for every vertex u, link every LARGER neighbor v to
        m = min(N(u) ∪ {u}) — over the symmetric edge closure;
      small-star: orient edges large->small, link every smaller neighbor
        (and u itself) to the minimum — over the oriented set.
    The edge set converges to per-component stars rooted at the minimum
    vertex in O(log n) rounds (Kiveris et al.); convergence is detected by
    an order-insensitive checksum of the edge set. A null endpoint links
    nothing and is no vertex, as in ``concepts.union_find``.
    """
    with scope() as s:
        verts = materialize(_endpoints(edges))
        e = materialize(
            edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        prev = None
        for _ in range(CC_MAX_ROUNDS):
            if e.isEmpty():
                break
            # large-star over the symmetric closure
            sym = e.union(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            m = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
                "u", F.least("u", F.col("mv")).alias("m")
            )
            e1 = (
                sym.join(m, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
                .distinct()
            )
            # small-star over the large->small orientation
            dr = e1.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            ).distinct()
            m2 = dr.groupBy("u").agg(F.min("v").alias("m"))
            e2 = materialize(
                dr.join(m2, "u")
                .select(F.col("v").alias("node"), "m")
                .union(m2.select(F.col("u").alias("node"), "m"))
                .where(F.col("node") != F.col("m"))
                .select(F.col("node").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            cur = _checksum(e2)
            e = e2
            if cur == prev:
                break
            prev = cur
        else:
            # an unconverged edge set can hold several (u -> v) edges per
            # vertex, which would emit duplicate conflicting (vertex,
            # component) rows — never return that silently
            raise RuntimeError(
                f"star connected_components did not converge within"
                f" {CC_MAX_ROUNDS} rounds; components are non-canonical"
            )
        # converged: e holds (vertex -> component-min) star edges; roots
        # map to themselves, isolated vertices cannot occur (every vertex
        # came from an edge), so coalesce covers exactly the roots.
        comps = verts.join(
            e.select(F.col("u").alias("vertex"), F.col("v").alias("c")),
            "vertex",
            "left",
        ).select(
            "vertex", F.coalesce("c", F.col("vertex")).alias("component")
        )
        return s.keep(materialize(comps))


def connected_components(
    edges: "DataFrame", small_graph_edges: int = SMALL_GRAPH_EDGES
) -> "DataFrame":
    """edges(src string, dst string) -> (vertex string, component string).

    ``component`` is the lexicographic minimum vertex id in the component
    (deterministic canonical representative); a null endpoint links nothing
    and is no vertex. Physical strategy is adaptive: driver-side union-find
    below ``small_graph_edges`` (tests force the distributed path with
    ``small_graph_edges=0``), GraphFrames when its jar is present, else the
    star rounds, which raise ``RuntimeError`` if ``CC_MAX_ROUNDS`` pass
    unconverged (canonicalizing with unconverged labels would silently
    corrupt the KG). Runs Spark jobs when called: the probe's
    ``limit+collect``, and the whole star solve.
    """
    spark = edges.sparkSession
    if small_graph_edges > 0:
        rows = edges.limit(small_graph_edges + 1).collect()
        if len(rows) <= small_graph_edges:
            comp = union_find((r["src"], r["dst"]) for r in rows)
            return local_frame(
                spark, sorted(comp.items()), "vertex string, component string"
            )
    if _graphframes_available(spark):  # pragma: no cover - not in sandbox
        from graphframes import GraphFrame

        vertices = _endpoints(edges).withColumnRenamed("vertex", "id")
        g = GraphFrame(vertices, edges)
        cc = g.connectedComponents()
        # GraphFrames emits arbitrary numeric component ids; every other
        # branch (and incremental_components' min-merge argument, which
        # contracts onto labels AS vertices) relies on the documented
        # invariant component == lexicographic-min member vertex, so
        # normalize before returning — one component-cardinality agg+join
        mins = cc.groupBy("component").agg(F.min("id").alias("_minv"))
        return cc.join(mins, "component").select(
            F.col("id").alias("vertex"),
            F.col("_minv").cast("string").alias("component"),
        )
    return _star_components(edges)


def canonicalize_concepts(concept_dict: "DataFrame | Prepared") -> "DataFrame":
    """Alias table, or its ``concepts.prepare`` result -> (concept_id,
    canonical_id): the prepared canonical map (union-find over the
    alias<->concept_id edges, min concept_id per component) as a local
    relation. It has no dictionary scan or join in its plan, so both
    broadcast builds of ``graph.canonical_triples`` read the finished
    map."""
    from pyspark.sql import SparkSession

    return local_frame(
        SparkSession.active(),
        sorted(prepare(concept_dict).canonical.items()),
        "concept_id string, canonical_id string",
    )


def incremental_components(
    labels: "DataFrame",
    new_edges: "DataFrame",
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> "DataFrame":
    """Fold a batch of NEW edges into an existing (vertex, component)
    labeling without recomputing the whole graph — the incremental-KG-
    maintenance primitive for a continuous crawl: each ingest batch adds
    alias/entity edges, and re-running full CC over a 100 TB accumulated
    graph per batch is exactly the non-scalable plan.

    Requires the invariant ``connected_components`` establishes: a
    component's id IS its minimum member vertex. Then incremental = full
    recompute, by this argument: contracting every existing component to
    its id preserves connectivity (components are connected), and the
    minimum of a merged group of component ids equals the minimum over all
    their member vertices (each id is already its component's minimum).

    Plan shape (everything scales with the BATCH, not the corpus):
      1. endpoint lookup: new-edge endpoints -> current component id (one
         equi-join against the label table; vertices the labeling has never
         seen stand for themselves);
      2. contracted delta CC: star-CC over the batch-sized contracted edge
         set (self-loops — edges internal to one existing component — drop
         out first);
      3. relabel: merged roots move only the AFFECTED components' rows —
         the moved-roots map is at most 2x batch size; the join against
         the label table is left un-hinted so AQE broadcasts it when the
         batch is small (the usual ingest shape) and falls back to a
         shuffle join for a giant backfill batch, where a forced
         broadcast would OOM the executors. Untouched rows coalesce
         through unchanged; new vertices append with their merged (or
         own) root. A null endpoint is no vertex, as in the full solve.
    """
    lab = labels.select("vertex", "component")
    src_c = lab.select(
        F.col("vertex").alias("src"), F.col("component").alias("src_comp")
    )
    dst_c = lab.select(
        F.col("vertex").alias("dst"), F.col("component").alias("dst_comp")
    )
    ends = (
        new_edges.select("src", "dst")
        .distinct()
        .join(src_c, "src", "left")
        .join(dst_c, "dst", "left")
        .select(
            F.coalesce("src_comp", F.col("src")).alias("u"),
            F.coalesce("dst_comp", F.col("dst")).alias("v"),
        )
    )
    contracted = (
        ends.where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .distinct()
    )
    # delta solve on the contracted (batch-sized) graph; reuse the adaptive
    # strategy — union-find for dictionary-sized batches, star-CC above
    delta = connected_components(contracted, small_graph_edges=small_graph_edges)
    moved = delta.where(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("component"), F.col("component").alias("new_comp")
    )
    relabeled = (
        lab.join(moved, "component", "left")
        .select(
            "vertex",
            F.coalesce("new_comp", F.col("component")).alias("component"),
        )
    )
    # vertices first seen in this batch: their contracted node is themselves
    known = lab.select("vertex")
    new_vs = _endpoints(new_edges).join(known, "vertex", "left_anti")
    new_rows = (
        new_vs.join(delta, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("component", F.col("vertex")).alias("component"),
        )
    )
    return relabeled.unionByName(new_rows)
