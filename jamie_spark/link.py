"""Entity linking: candidate generation (N2) + rerank (N3).

Links mention surfaces to the concept dictionary:

1. distinct-surface dedup — at 10^12 documents mention surfaces follow a power
   law; linking DISTINCT surfaces and joining back turns an O(mentions) problem
   into an O(vocabulary) one. This is the single biggest scale lever here.
2. exact path — broadcast equi-join surface == normalized alias (the dictionary
   is small: broadcast, no shuffle of the big side).
3. fuzzy path — surfaces that miss exactly are scored against every
   same-sem_type alias of a broadcast dictionary by exact Jaccard over
   distinct character {1,2}-grams, built ENTIRELY from JVM-side built-ins
   (``transform``/``sequence``/``substring``/``array_intersect``/
   ``array_union`` — no UDF, whole-stage codegen applies); pairs below
   ``MIN_JACCARD`` are dropped.
4. rerank (N3) — ``Window.partitionBy(surface, sem_type)`` ordered by
   ``desc(score), concept_id, method`` + ``row_number() == 1``; ties break
   deterministically on concept_id.

Width normalization of the alias side is JVM-side too (``translate`` over the
full-width ASCII block), mirroring jamie_spark.textnorm.zen_to_han.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame

# translate() mapping for the full-width ASCII block — DERIVED from
# textnorm's _ZEN2HAN so the JVM-side alias normalization can never
# desynchronize from the Python-side surface normalization (two
# independently-maintained copies of the same table would drift)
from .textnorm import _ZEN2HAN as _Z2H

_ZEN = "".join(chr(c) for c in sorted(_Z2H))
_HAN = "".join(chr(_Z2H[c]) for c in sorted(_Z2H))

#: Jaccard floor for a fuzzy candidate; single source of truth for the
#: Spark path AND the DuckDB oracle (``kg_pipeline_triples*``).
MIN_JACCARD = 0.10


def normalize_col(col: "Column") -> "Column":
    """JVM-side zen_to_han (same table as textnorm.zen_to_han)."""
    return F.translate(col, _ZEN, _HAN)


def _with_grams(df: "DataFrame", colname: str, out: str = "grams") -> "DataFrame":
    return df.withColumn(
        out,
        F.array_distinct(
            F.concat(
                F.expr(
                    f"transform(sequence(1, greatest(length({colname}), 1)),"
                    f" i -> substring({colname}, i, 1))"
                ),
                F.expr(
                    f"transform(sequence(1, greatest(length({colname}) - 1, 1)),"
                    f" i -> substring({colname}, i, 2))"
                ),
            )
        ),
    )


def link_surfaces(
    surfaces: "DataFrame",
    concept_dict: "DataFrame",
    materialize: bool = True,
) -> "DataFrame":
    """(surface, sem_type) x dictionary -> (surface, sem_type, concept_id,
    score, method).

    Candidates are restricted to dictionary rows of the surface's semantic
    family — without this an anatomy mention like 肺 happily fuzzy-matches
    the disease 肺癌 (observed in verification).

    Surfaces that miss the exact join are scored against every alias of
    their sem_type by exact Jaccard on a broadcast of the dictionary
    (``method == "broadcast"``), kept at >= ``MIN_JACCARD``. Cost: one
    array_intersect/array_union pair per (missed surface, same-sem_type
    alias), i.e. |missed| x |aliases per sem_type|. The surfaces side is
    already deduped to the vocabulary, so this is cheap at fixture and
    clinical-dictionary sizes; at UMLS size (~10^6 aliases of one type)
    the cross product dominates. The scale path for that case — a
    (sem_type, gram) posting join with length/overlap bounds, so aliases
    that share no gram are never scored — is deferred until a workload
    actually scores fuzzy pairs.
    """
    keys = ["surface", "sem_type"]
    surf = surfaces.select(*keys).distinct()
    if materialize:
        # vocabulary-sized and scanned by three branches (exact, anti-join,
        # fuzzy) — persist so the upstream corpus-sized plan runs exactly
        # once. Callers that already hand in a cheap-to-rescan input (parquet
        # checkpoint / localCheckpoint, e.g. pipeline.run_kg) pass
        # materialize=False to avoid leaking cache blocks per invocation.
        surf = surf.persist()
    dic = concept_dict.select(
        "concept_id",
        normalize_col(F.col("alias")).alias("alias_norm"),
        "sem_type",
    ).distinct()

    # exact path: broadcast equi-join
    exact = surf.join(
        F.broadcast(dic),
        (surf["surface"] == dic["alias_norm"])
        & (surf["sem_type"] == dic["sem_type"]),
        "inner",
    ).select(
        *[surf[c].alias(c) for c in keys],
        "concept_id",
        F.lit(1.0).alias("score"),
        F.lit("exact").alias("method"),
    )

    # fuzzy path for the misses only
    dic_surfaces = dic.select(
        F.col("alias_norm").alias("surface"), "sem_type"
    ).distinct()
    missed = surf.join(F.broadcast(dic_surfaces), keys, "left_anti")
    d_grams = _with_grams(dic, "alias_norm")
    m_grams = _with_grams(missed, "surface")
    pairs = m_grams.alias("m").join(
        F.broadcast(d_grams.alias("d")),
        F.col("m.sem_type") == F.col("d.sem_type"),
    )
    fuzzy = pairs.select(
        F.col("m.surface").alias("surface"),
        F.col("m.sem_type").alias("sem_type"),
        F.col("m.grams").alias("s_grams"),
        F.col("d.concept_id").alias("concept_id"),
        F.col("d.grams").alias("a_grams"),
    ).withColumn(
        "score",
        F.size(F.array_intersect("s_grams", "a_grams"))
        / F.size(F.array_union("s_grams", "a_grams")),
    ).where(F.col("score") >= MIN_JACCARD).select(
        *keys, "concept_id", "score", F.lit("broadcast").alias("method")
    )

    candidates = exact.unionByName(fuzzy)

    # N3 rerank: top-1 per (surface, sem_type), deterministic tie-break
    w = Window.partitionBy(*keys).orderBy(
        F.desc("score"), F.asc("concept_id"), F.asc("method")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") == 1)
        .drop("rank")
    )
