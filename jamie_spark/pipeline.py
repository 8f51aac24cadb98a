"""End-to-end pipeline composition (SURVEY.md §3.2 Spark re-expression).

    pages -> annotate + link (N2/N3) + canonicalize (N4), one mapInArrow
             probing one prepared dictionary
          -> mentions, triples, canonical triples (projections)
          -> materialize salted (N5) [+ lineage N6]

Each stage is a DataFrame -> DataFrame function; ``run_extraction`` /
``run_kg`` return the intermediate tables for tests and ad-hoc queries.
A dictionary argument is a table or its ``concepts.prepare`` result;
``run_with_lineage`` prepares it once for all of its buckets.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from . import infer, lineage, mentions as mentions_mod
from .concepts import prepare

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

    from .concepts import Prepared


def run_extraction(
    pages: "DataFrame", lang: str = "ja", mode: str = "sentence"
) -> dict:
    annotations = infer.annotate_pages(pages, lang=lang, mode=mode)
    return {
        "annotations": annotations,
        "mentions": mentions_mod.mentions_from_annotations(annotations),
        "triples": mentions_mod.triples_from_annotations(annotations),
    }


def run_kg(
    pages: "DataFrame",
    concept_dict: "DataFrame | Prepared",
    lang: str = "ja",
    checkpoint_dir: str | None = None,
    mode: str = "sentence",
    model_spec: str | None = None,
) -> dict:
    """Full knowledge-graph construction; returns all intermediate tables.

    Uses the flat Arrow-native hot path (infer.annotate_pages_flat): one
    mapInArrow stage emitting primitive-typed mention/triple rows, each
    triple already carrying its canonical subj_id/obj_id (``link.resolver``
    over one ``concepts.prepare`` of ``concept_dict``: one collect for a
    table, none for a dictionary already prepared). The canonical triples
    are a projection of that stage, with no join and no pin: pages -> one
    Arrow stage -> select. The nested annotations stage exists for parity
    outputs (CONLL/XML) and is not on this path.

    Every returned table reads the stage; each evaluation reruns it. With
    ``checkpoint_dir`` set, the stage lands as a parquet checkpoint and the
    tables read it back — the sandbox analog of the per-stage Iceberg
    checkpoint (N6).

    ``model_spec`` selects the extractor provider (``standin`` default,
    ``numpy:<dir>``, ``torch:<dir>``) — resolved driver-side and shipped by
    closure, same contract as infer.annotate_pages_flat.
    """
    flat = infer.annotate_pages_flat(
        pages, lang=lang, mode=mode, model_spec=model_spec,
        dictionary=prepare(concept_dict),
    )
    if checkpoint_dir is not None:
        path = os.path.join(checkpoint_dir, "flat_annotations.parquet")
        flat.write.mode("overwrite").parquet(path)
        flat = pages.sparkSession.read.parquet(path)
    return {
        "annotations": flat,
        "mentions": mentions_mod.mentions_from_flat(flat),
        "triples": mentions_mod.triples_from_flat(flat),
        "canonical_triples": flat.where(F.col("kind") == "t").select(
            *[F.col(c).alias(name) for c, name in mentions_mod.TRIPLE_COLUMNS],
            "subj_id", "obj_id",
        ),
    }


def release(result: dict) -> None:
    """No-op: :func:`run_kg` pins nothing. Kept for perfbench's workloads,
    which call it after each pass."""


#: the ledger stage ``run_with_lineage`` records its buckets under
STAGE = "kg_triples"


def run_with_lineage(
    spark: "SparkSession",
    pages: "DataFrame",
    concept_dict: "DataFrame | Prepared",
    out_dir: str,
    n_buckets: int = 8,
    max_buckets: int | None = None,
    lang: str = "ja",
) -> list[int]:
    """Bucket-wise run with lineage + resume (N6). Returns buckets processed.

    The dictionary is prepared once, before the ledger is read, and every
    bucket probes it. Resume is keyed on (:data:`STAGE`, bucket,
    :func:`resume_key`): swapping the model via JAMIE_MODEL, changing the
    tokenizer grammar or changing any dictionary row invalidates the
    completions made under the old ones, so a resume never mixes triples of
    two extractors or canonical ids of two dictionaries in one output.
    ``max_buckets`` caps work per invocation (used by the kill/resume test to
    simulate a mid-run crash). Each bucket overwrites its own data directory
    BEFORE appending its lineage row, so a crash between the two reruns that
    bucket.
    """
    dictionary = prepare(concept_dict)
    mv = resume_key(dictionary)
    todo = lineage.pending_buckets(
        spark, out_dir, STAGE, n_buckets, model_version=mv
    )
    if max_buckets is not None:
        todo = todo[:max_buckets]
    bucketed = pages.withColumn("_bucket", lineage.bucket_of_url(n_buckets))
    for b in todo:
        subset = bucketed.where(F.col("_bucket") == b).drop("_bucket")
        # a second pass over the source, but column-pruned by design: the
        # agg touches only `url` (and the bucket filter is a function of
        # url), so a columnar source reads one thin column, never the html
        # payload. Deriving these stats from the materialized annotations
        # would silently drop no-sentence pages from row_count.
        stats = subset.agg(
            F.min("url").alias("lo"), F.max("url").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        path = os.path.join(out_dir, "data", f"bucket={b}")
        # deterministic per-bucket overwrite -> idempotent on re-run
        out = run_kg(subset, dictionary, lang=lang)["canonical_triples"]
        out.write.mode("overwrite").parquet(path)
        n_triples = spark.read.parquet(path).count()
        lineage.append_lineage_row(
            spark, out_dir, STAGE, b, stats["lo"], stats["hi"],
            mv, stats["n"], n_triples, n_buckets=n_buckets,
        )
    return todo


def resume_key(dictionary: "Prepared") -> str:
    """The ledger's ``model_version`` value for a run with ``dictionary``:
    ``<models.model_version()>+tok:<tokenizer.TOKENIZER_VERSION>+dict:<first
    16 hex digits of its digest>``."""
    from . import tokenizer
    from .models import model_version

    return (
        f"{model_version()}+tok:{tokenizer.TOKENIZER_VERSION}"
        f"+dict:{dictionary.digest[:16]}"
    )


def read_materialized(spark: "SparkSession", out_dir: str) -> "DataFrame":
    return spark.read.option("basePath", os.path.join(out_dir, "data")).parquet(
        os.path.join(out_dir, "data", "bucket=*")
    )
