"""Distributed multiset P/R/F1 (E1/E2/E3 semantics as joins).

The reference's ``TupleEvaluator.update`` (reference ``clinical_eval.py:65-81``)
does MULTISET matching: each gold tuple consumes at most one identical pred
tuple (``pred_tuple_cp.remove``), labels ``N/O/_/OO`` are ignored, and

    tps(label) = sum over distinct tuples of min(gold_count, pred_count)
    fns(label) = gold_count - tps ;  fps(label) = pred_count - tps

which is exactly a full-outer join of per-tuple counts with ``least`` — no
per-row Python, fully shuffled-hash-aggregable, scales to any corpus. The
micro/macro summaries mirror ``print_results`` (``clinical_eval.py:83-108``).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

IGNORED_LABELS = ("N", "O", "_", "OO")


def per_label_counts(
    gold: "DataFrame", pred: "DataFrame", key_cols: list[str], label_col: str
) -> "DataFrame":
    """-> (label, tps, fps, fns) via multiset tuple matching.

    NULL-safe throughout, matching the reference's Python multiset
    semantics (None == None): a NULL label is NOT in IGNORED_LABELS (the
    raw ``~isin`` would evaluate to NULL and silently drop the row — a
    vanished false positive), and tuple keys join with eqNullSafe so two
    tuples agreeing on a NULL field still pair up as the reference's
    tuple equality does."""
    from functools import reduce

    keys = [label_col] + [c for c in key_cols if c != label_col]
    keep = F.col(label_col).isNull() | ~F.col(label_col).isin(
        *IGNORED_LABELS
    )
    # GROUP BY treats NULL keys as equal — same as Python tuple hashing.
    # Explicit aliases: gold and pred often share plan lineage (pred is
    # derived from the same scan), and unqualified g[c]/p[c] references
    # would be ambiguous in the self-join.
    g = (
        gold.where(keep)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("gc"))
        .alias("_g")
    )
    p = (
        pred.where(keep)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("pc"))
        .alias("_p")
    )
    cond = reduce(
        lambda a, b: a & b,
        [
            F.col(f"_g.{c}").eqNullSafe(F.col(f"_p.{c}"))
            for c in keys
        ],
    )
    joined = g.join(p, on=cond, how="full_outer").select(
        F.coalesce(
            F.col(f"_g.{label_col}"), F.col(f"_p.{label_col}")
        ).alias("label"),
        F.coalesce(F.col("_g.gc"), F.lit(0)).alias("gc"),
        F.coalesce(F.col("_p.pc"), F.lit(0)).alias("pc"),
    )
    return joined.groupBy("label").agg(
        F.sum(F.least("gc", "pc")).alias("tps"),
        F.sum(F.col("pc") - F.least("gc", "pc")).alias("fps"),
        F.sum(F.col("gc") - F.least("gc", "pc")).alias("fns"),
    )


def _f1(tps: float, fps: float, fns: float) -> tuple[float, float, float]:
    # reference clinical_eval.py:7-11
    p = 0.0 if not (tps + fps) else tps / (tps + fps)
    r = 0.0 if not (tps + fns) else tps / (tps + fns)
    f1 = 0.0 if not (p + r) else 2 * p * r / (p + r)
    return p, r, f1


def prf_summary(
    gold: "DataFrame",
    pred: "DataFrame",
    key_cols: list[str],
    label_col: str,
    f1_mode: str = "micro",
) -> dict:
    """Driver-side summary dict {precision, recall, f1, per_label}.

    Aggregates the (tiny) per-label table on the driver — the distributed part
    is done by :func:`per_label_counts`.
    """
    rows = per_label_counts(gold, pred, key_cols, label_col).collect()
    per_label = {
        r["label"]: dict(zip(("precision", "recall", "f1"), _f1(r["tps"], r["fps"], r["fns"])))
        for r in rows
    }
    if f1_mode == "micro":
        tps = sum(r["tps"] for r in rows)
        fps = sum(r["fps"] for r in rows)
        fns = sum(r["fns"] for r in rows)
        p, r_, f1 = _f1(tps, fps, fns)
    elif f1_mode == "macro":
        n = max(len(per_label), 1)
        p = sum(v["precision"] for v in per_label.values()) / n
        r_ = sum(v["recall"] for v in per_label.values()) / n
        f1 = sum(v["f1"] for v in per_label.values()) / n
    else:
        raise ValueError(f"unknown f1_mode: {f1_mode}")
    return {"precision": p, "recall": r_, "f1": f1, "per_label": per_label}


def eval_mentions(gold_mentions: "DataFrame", pred_mentions: "DataFrame") -> dict:
    """NER + modality eval (MhsEvaluator.eval_ner/.eval_mod semantics,
    reference clinical_eval.py:125-133): tuple = (url, sent_id, span, tag[,mod])."""
    ner = prf_summary(
        gold_mentions, pred_mentions,
        ["url", "sent_id", "begin_tok", "end_tok"], "ner_tag",
    )
    mod = prf_summary(
        gold_mentions.withColumn("m", F.concat_ws("/", "ner_tag", "mod_tag")),
        pred_mentions.withColumn("m", F.concat_ws("/", "ner_tag", "mod_tag")),
        ["url", "sent_id", "begin_tok", "end_tok"], "m",
    )
    return {"ner": ner, "mod": mod}


def modality_family_scores(
    gold_mentions: "DataFrame", pred_mentions: "DataFrame"
) -> dict:
    """E4: modality P/R/F1 rolled up per attribute family
    (certainty / state / type — reference ``measure_modality_fscore``
    utils.py:1522-1545 via MOD_DICT data_objects.py:6-10)."""
    from .concepts import MOD_DICT

    rows = per_label_counts(
        gold_mentions, pred_mentions,
        ["url", "sent_id", "begin_tok", "end_tok", "mod_tag"], "mod_tag",
    ).collect()
    fam_counts: dict[str, list[float]] = {}
    for r in rows:
        fam = MOD_DICT.get(r["label"], "other")
        acc = fam_counts.setdefault(fam, [0.0, 0.0, 0.0])
        acc[0] += r["tps"]
        acc[1] += r["fps"]
        acc[2] += r["fns"]
    return {
        fam: dict(zip(("precision", "recall", "f1"), _f1(*acc)))
        for fam, acc in fam_counts.items()
    }


def downsample_negatives(
    pairs: "DataFrame", rel_col: str = "rel", keep_prob: float = 0.1,
    seed: int = 42,
) -> "DataFrame":
    """R3: keep all positive pairs, a seeded ``keep_prob`` fraction of 'N'
    pairs (reference utils.py:1655-1658, clinical_pipeline_rel.py:63-73).
    Training-prep only — never on the inference path.

    The draw is a seeded hash of the ROW CONTENT, not ``F.rand`` —
    rand(seed) depends on partition index and row order, so the kept set
    would change under repartitioning/AQE and differ between two actions
    on the same frame (the engine's no-rand() rule; train_dev_split and
    graph.salted use the same trick). Byte-identical duplicate rows draw
    identically (all kept or all dropped) — the deterministic analogue of
    the reference's per-row RNG."""
    u = (
        F.pmod(
            F.xxhash64(*[F.col(c) for c in pairs.columns], F.lit(seed)),
            F.lit(1_000_000),
        )
        / 1_000_000.0
    )
    return pairs.where(
        (F.col(rel_col) != "N") | (u < F.lit(keep_prob))
    )


def train_dev_split(
    docs: "DataFrame", dev_ratio: float = 0.1, seed: int = 42,
    doc_col: str = "url",
) -> tuple["DataFrame", "DataFrame"]:
    """R9: random per-DOCUMENT train/dev split (reference formater.py:61-75,
    ``random.random() > dev_ratio`` per doc) — every row of a document lands
    on the same side. The draw is a seeded hash of the document key instead
    of RNG state: same fractions in expectation, but deterministic across
    retries/resumes (the engine's no-rand() rule; R8 uses the same trick for
    k-fold)."""
    u = (F.pmod(F.xxhash64(F.col(doc_col), F.lit(seed)), F.lit(1_000_000))
         / 1_000_000.0)
    dev = docs.where(u < dev_ratio)
    train = docs.where(u >= dev_ratio)
    return train, dev


def eval_triples(gold_triples: "DataFrame", pred_triples: "DataFrame") -> dict:
    """Mention-string relation eval (MhsEvaluator.eval_mention_rel,
    reference clinical_eval.py:145-149)."""
    cols = ["url", "sent_id", "subj_surface", "obj_surface"]
    return prf_summary(
        gold_triples.select(*cols, "pred"),
        pred_triples.select(*cols, "pred"),
        cols,
        "pred",
    )


def eval_rel_strict(gold_detailed: "DataFrame", pred_detailed: "DataFrame") -> dict:
    """STRICT relation eval: tuple = (url, sent_id, tail span, head span,
    rel) — reference ``eval_rel`` clinical_eval.py:140-143 over
    ``update_rel_detailed_triplets`` data_objects.py:240-249. The strictest
    (safest) acceptance gate: a relation only counts if BOTH entity spans
    match exactly, so same-surface entities at different positions never
    cross-credit (they do under the mention-string eval).

    Inputs come from :func:`jamie_spark.mentions.detailed_triples` (pred) or
    a gold-side join of relations onto mention spans.

    Note: the reference quirk of sharing one TupleEvaluator instance between
    eval_rel and eval_rel_relax (counts accumulate if both are called on the
    same MhsEvaluator) is NOT reproduced — each eval here is independent.
    """
    cols = ["url", "sent_id", "tail_begin", "tail_end", "head_begin", "head_end"]
    return prf_summary(
        gold_detailed.select(*cols, "rel"),
        pred_detailed.select(*cols, "rel"),
        cols,
        "rel",
    )


def eval_rel_relax(gold_tok: "DataFrame", pred_tok: "DataFrame") -> dict:
    """RELAXED relation eval: tuple = (url, sent_id, tail token id, head
    token id, rel) — reference ``eval_rel_relax`` clinical_eval.py:135-138
    over ``update_rel_triplets`` data_objects.py:231-238. Credits the anchor
    tokens regardless of predicted span boundaries.

    Inputs come from :func:`jamie_spark.mentions.rel_token_triples`.
    """
    cols = ["url", "sent_id", "tail_id", "head_id"]
    return prf_summary(
        gold_tok.select(*cols, "rel"),
        pred_tok.select(*cols, "rel"),
        cols,
        "rel",
    )


def mhs_eval(gold_ann: "DataFrame", pred_ann: "DataFrame") -> dict:
    """The full E3 battery over two annotation tables (MhsEvaluator,
    reference clinical_eval.py:111-149): ner, mod, rel_strict, rel_relax,
    rel_mention — each an independent multiset P/R/F1.

    The five metrics each collect() their own counts, so the inputs are
    materialized for the battery in one ``frames.scope()`` — without this,
    an annotation table fed straight from the inference stage would re-run
    the model once per metric (~5x the dominant cost)."""
    from . import frames, mentions as m

    with frames.scope():
        gold_ann = frames.materialize(gold_ann)
        pred_ann = frames.materialize(pred_ann)
        out = eval_mentions(
            m.mentions_from_annotations(gold_ann),
            m.mentions_from_annotations(pred_ann),
        )
        out["rel_strict"] = eval_rel_strict(
            m.detailed_triples(gold_ann), m.detailed_triples(pred_ann)
        )
        out["rel_relax"] = eval_rel_relax(
            m.rel_token_triples(gold_ann), m.rel_token_triples(pred_ann)
        )
        out["rel_mention"] = eval_triples(
            m.triples_from_annotations(gold_ann),
            m.triples_from_annotations(pred_ann),
        )
    return out
