"""Entity linking: candidate generation (N2) + rerank (N3).

Links mention surfaces to the concept dictionary:

1. distinct-surface dedup — at 10^12 documents mention surfaces follow a power
   law; linking DISTINCT surfaces and joining back turns an O(mentions) problem
   into an O(vocabulary) one. This is the single biggest scale lever here.
2. exact path — broadcast equi-join surface == normalized alias (the dictionary
   is small: broadcast, no shuffle of the big side).
3. fuzzy path (MinHash-LSH) — surfaces that miss exactly go through banded
   MinHash over character {1,2}-grams, built ENTIRELY from JVM-side built-ins
   (``transform``/``sequence``/``substring``/``xxhash64``/``array_min`` —
   no UDF, whole-stage codegen applies): band-key equi-join against alias
   bands, then exact Jaccard verification via ``array_intersect`` /
   ``array_union`` on distinct grams.
4. rerank (N3) — ``Window.partitionBy(surface).orderBy(desc(score), concept_id)``
   + ``row_number() == 1``; ties break deterministically on concept_id.

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

N_HASHES = 16
N_BANDS = 8  # rows-per-band = N_HASHES // N_BANDS = 2


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


def _with_bands(df: "DataFrame", out: str = "band") -> "DataFrame":
    """MinHash signature -> exploded (band_id, band_key) rows.

    minhash_k = min over grams of xxhash64(gram, k); band key = hash of the
    band's signature slice. All JVM-side.
    """
    sig = F.array(
        *[
            F.array_min(
                F.expr(f"transform(grams, g -> xxhash64(g, {k}))")
            )
            for k in range(N_HASHES)
        ]
    )
    rows_per_band = N_HASHES // N_BANDS
    df = df.withColumn("sig", sig)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return df.withColumn(out, F.explode(bands)).drop("sig")


def link_surfaces(
    surfaces: "DataFrame",
    concept_dict: "DataFrame",
    min_jaccard: float = 0.10,
    fuzzy: str = "broadcast",
    materialize: bool = True,
) -> "DataFrame":
    """(surface, sem_type) x dictionary -> (surface, sem_type, concept_id,
    score, method).

    Candidates are restricted to dictionary rows of the surface's semantic
    family — without this an anatomy mention like 肺 happily fuzzy-matches
    the disease 肺癌 (observed in verification).

    ``fuzzy`` picks the candidate-generation strategy for surfaces that miss
    the exact join:

    * ``"broadcast"`` (default): score every same-sem_type alias directly via
      exact Jaccard on a broadcast of the dictionary — one stage, no banding.
      Correct choice whenever the dictionary fits a broadcast (UMLS/MedDRA
      ~10^6 aliases still does); the surfaces side is already deduped to the
      vocabulary, so the cross product is |missed| x |aliases per sem_type|.
    * ``"minhash"``: banded MinHash-LSH equi-join — the plan for dictionaries
      too large to broadcast; candidates then verified with exact Jaccard.
      RECALL CAVEAT: with N_HASHES=16 / N_BANDS=8 (2 rows per band) the
      LSH s-curve's 50%-recall point sits near Jaccard ~0.35 — pairs with
      true Jaccard between ``min_jaccard`` and ~0.3 are mostly NOT
      generated as candidates (e.g. J=0.15: P(any band) = 1-(1-0.15^2)^8
      ~= 0.17), so switching from ``"broadcast"`` keeps the same verify
      threshold but silently trades away low-similarity recall. Raise
      N_BANDS (more bands of fewer rows) to push the curve left if the
      dictionary needs sub-0.3 matches at LSH scale.
    """
    strategy = fuzzy  # `fuzzy` is rebound to the candidate frame below
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
    d_grams = _with_grams(dic.withColumnRenamed("alias_norm", "alias"), "alias")
    m_grams = _with_grams(missed, "surface")
    same_type = F.col("m.sem_type") == F.col("d.sem_type")
    if fuzzy == "broadcast":
        pairs = m_grams.alias("m").join(
            F.broadcast(d_grams.alias("d")), same_type
        )
    elif fuzzy == "minhash":
        band_cond = (F.col("m.band.band_id") == F.col("d.band.band_id")) & (
            F.col("m.band.band_key") == F.col("d.band.band_key")
        )
        pairs = _with_bands(m_grams).alias("m").join(
            F.broadcast(_with_bands(d_grams).alias("d")), band_cond & same_type
        )
    else:
        raise ValueError(f"unknown fuzzy strategy: {fuzzy}")
    cand = pairs.select(
        F.col("m.surface").alias("surface"),
        F.col("m.sem_type").alias("sem_type"),
        F.col("m.grams").alias("s_grams"),
        F.col("d.concept_id").alias("concept_id"),
        F.col("d.alias").alias("alias"),
        F.col("d.grams").alias("a_grams"),
    )
    if fuzzy == "minhash":
        cand = cand.dropDuplicates(keys + ["concept_id", "alias"])
    fuzzy = cand.withColumn(
        "score",
        F.size(F.array_intersect("s_grams", "a_grams"))
        / F.size(F.array_union("s_grams", "a_grams")),
    ).where(F.col("score") >= min_jaccard).select(
        # method reports the strategy that actually produced the candidate
        # (was hardcoded 'minhash' even on the broadcast path)
        *keys, "concept_id", "score", F.lit(strategy).alias("method")
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
