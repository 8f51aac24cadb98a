"""Mentions + triples as first-class DataFrames (B3 / mention-triplets).

annotations (one row per sentence, nested arrays)
  -> mentions(url, sent_id, begin_tok, end_tok, ner_tag, mod_tag, surface, tid)
  -> triples(url, sent_id, subj_surface, pred, obj_surface, ...)

The heavy decode already happened inside the inference stage
(jamie_spark.infer); here it's pure JVM-side ``posexplode`` — no Python, no
shuffle (explode is a narrow transformation). ``tid`` reproduces the
reference's document-order T{n} numbering (``data_objects.py:272-277``) with a
window over (url) ordered by (sent_id, begin) — the only window in the
front-end, partitioned by url so it scales with document count.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


def _with_tid(m: "DataFrame") -> "DataFrame":
    """Document-order T{n} mention ids: the front-end's one url window."""
    w = Window.partitionBy("url").orderBy("sent_id", "begin_tok")
    return m.withColumn("tid", F.concat(F.lit("T"), F.row_number().over(w)))


def mentions_from_annotations(annotations: "DataFrame") -> "DataFrame":
    """Explode per-sentence entity arrays into a mentions table (B1+B3)."""
    m = annotations.select(
        "url",
        "sent_id",
        F.explode("entities").alias("e"),
    ).select(
        "url",
        "sent_id",
        F.col("e.begin").alias("begin_tok"),
        F.col("e.end").alias("end_tok"),
        F.col("e.tag").alias("ner_tag"),
        F.col("e.mod").alias("mod_tag"),
        F.col("e.surface").alias("surface"),
    )
    return _with_tid(m)


def mentions_from_flat(flat: "DataFrame") -> "DataFrame":
    """Flat hot-path rows (kind='m') -> mentions table with document-order tid."""
    m = flat.where(F.col("kind") == "m").select(
        "url",
        "sent_id",
        F.col("begin").alias("begin_tok"),
        F.col("end").alias("end_tok"),
        F.col("tag").alias("ner_tag"),
        F.col("mod").alias("mod_tag"),
        "surface",
    )
    return _with_tid(m)


#: (flat column, triples column) in triples-table order: the columns of
#: :func:`triples_from_flat` and of ``pipeline.run_kg``'s canonical triples,
#: which add the flat rows' subj_id and obj_id
TRIPLE_COLUMNS = (
    ("url", "url"),
    ("sent_id", "sent_id"),
    ("surface", "subj_surface"),
    ("rel", "pred"),
    ("obj_surface", "obj_surface"),
    ("tag", "subj_tag"),
    ("obj_tag", "obj_tag"),
    ("mod", "subj_mod"),
)


def triples_from_flat(flat: "DataFrame") -> "DataFrame":
    """Flat hot-path rows (kind='t') -> triples table (mention-triplet shape)."""
    return flat.where(F.col("kind") == "t").select(
        *[F.col(c).alias(name) for c, name in TRIPLE_COLUMNS]
    )


def rel_token_triples(annotations: "DataFrame") -> "DataFrame":
    """(url, sent_id, tail_id, head_id, rel) — token-anchored relation
    triples, the RELAXED eval tuple (reference ``update_rel_triplets``
    data_objects.py:233-238 / ``eval_rel_relax`` clinical_eval.py:135-138).

    Pure JVM: zip the per-token multihead lists, explode, drop 'N'.
    """
    per_tok = annotations.select(
        "url",
        "sent_id",
        F.posexplode(F.arrays_zip("rels", "heads")).alias("tail_id", "rh"),
    )
    return (
        per_tok.select(
            "url",
            "sent_id",
            "tail_id",
            F.explode(
                F.expr(
                    "zip_with(rh.rels, rh.heads,"
                    " (r, h) -> struct(r AS rel, h AS head_id))"
                )
            ).alias("p"),
        )
        .where(F.col("p.rel") != "N")
        .select(
            "url", "sent_id", "tail_id",
            F.col("p.head_id").alias("head_id"),
            F.col("p.rel").alias("rel"),
        )
    )


def detailed_triples(annotations: "DataFrame") -> "DataFrame":
    """(url, sent_id, tail_begin, tail_end, head_begin, head_end, rel) —
    span-keyed relation triples, the STRICT eval tuple (reference
    ``update_rel_detailed_triplets`` data_objects.py:240-249 / ``eval_rel``
    clinical_eval.py:140-143). Anchors that are not span-final fall back to
    the single-token span (id, id+1), as in the reference.

    Pure JVM: token triples left-joined twice against the span table keyed
    on span-final token id. The joins are per-(url, sent_id) equi-joins of
    two already-narrow tables; at corpus scale both sides partition by url.
    """
    tok = rel_token_triples(annotations)
    spans = annotations.select(
        "url", "sent_id", F.explode("entities").alias("e")
    ).select(
        "url",
        "sent_id",
        (F.col("e.end") - 1).alias("last_tok"),
        F.col("e.begin").alias("sb"),
        F.col("e.end").alias("se"),
    )
    t = spans.withColumnRenamed("last_tok", "tail_id").withColumnsRenamed(
        {"sb": "tb", "se": "te"}
    )
    h = spans.withColumnRenamed("last_tok", "head_id").withColumnsRenamed(
        {"sb": "hb", "se": "he"}
    )
    return (
        tok.join(t, ["url", "sent_id", "tail_id"], "left")
        .join(h, ["url", "sent_id", "head_id"], "left")
        .select(
            "url",
            "sent_id",
            F.coalesce("tb", F.col("tail_id")).alias("tail_begin"),
            F.coalesce("te", F.col("tail_id") + 1).alias("tail_end"),
            F.coalesce("hb", F.col("head_id")).alias("head_begin"),
            F.coalesce("he", F.col("head_id") + 1).alias("head_end"),
            "rel",
        )
    )


def triples_from_annotations(annotations: "DataFrame") -> "DataFrame":
    """Explode per-sentence triple arrays (mention-triplet semantics,
    reference data_objects.py:251-265)."""
    return annotations.select(
        "url",
        "sent_id",
        F.explode("triples").alias("t"),
    ).select(
        "url",
        "sent_id",
        F.col("t.tail_surface").alias("subj_surface"),
        F.col("t.rel").alias("pred"),
        F.col("t.head_surface").alias("obj_surface"),
        F.col("t.tail_tag").alias("subj_tag"),
        F.col("t.head_tag").alias("obj_tag"),
        F.col("t.tail_mod").alias("subj_mod"),
    )
