"""Entity linking: candidate generation (N2) + rerank (N3).

One index, built on the driver by ``concepts.prepare`` from a single collect
of the dictionary: an exact map from ``(textnorm.zen_to_han(alias),
sem_type)`` to the smallest concept_id, and a ``(sem_type, gram)`` -> alias
posting map over distinct character {1,2}-grams (``concepts.grams``). The
hash side is built once and probed for every surface; a caller that links
several times passes the prepared dictionary and builds it once.

A probe (:func:`_resolve`): an exact hit wins (score 1.0, ``"exact"``);
otherwise only the aliases that share a gram with the surface are scored,
by exact Jaccard, kept at >= ``MIN_JACCARD`` and reranked top-1 by score
desc, then concept_id asc (``"broadcast"``). It is reached two ways:

* :func:`resolver`, the KG write path: ``infer.annotate_pages_flat`` builds
  one per task and resolves each triple's surfaces to canonical ids where
  the rows already are, memoized per (surface, tag) — at 10^12 documents
  mention surfaces follow a power law, so a task scores each distinct
  surface once, and no surface table, join or pin is needed;
* :func:`link_surfaces`, the table-level form: one ``mapInArrow`` over the
  distinct (surface, sem_type) rows, emitting the link rows themselves.
  It is the reference the fused path is tested against.

Rows with a null key never link: a dictionary row with a null concept_id,
alias or sem_type is left out of the index, and a null surface or sem_type
finds nothing (SQL ``=`` semantics).
"""

from __future__ import annotations

from collections import Counter
from typing import TYPE_CHECKING

from . import frames
from .concepts import TAG2NAME, grams, prepare

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

    from .concepts import Prepared

#: Jaccard floor for a fuzzy candidate; single source of truth for the
#: Spark path AND the DuckDB oracle (``kg_pipeline_triples*``).
MIN_JACCARD = 0.10


def _resolve(surface, st, exact: dict, postings: dict):
    """(concept_id, score, method) for one surface, or None."""
    if surface is None or st is None:
        return None
    if (surface, st) in exact:
        return exact[(surface, st)], 1.0, "exact"
    gs = grams(surface)
    shared = Counter(a for g in gs for a in postings.get((st, g), ()))
    scored = [
        (k / (len(gs) + n - k), exact[(alias, st)])
        for (alias, n), k in shared.items()
    ]
    best = min(
        ((-score, cid) for score, cid in scored if score >= MIN_JACCARD),
        default=None,
    )
    return None if best is None else (best[1], -best[0], "broadcast")


def resolver(dictionary: "Prepared"):
    """``resolve(surface, tag)`` -> the canonical id of ``surface`` linked
    in its NER tag's semantic family (``concepts.TAG2NAME``), or the surface
    itself when nothing links: what :func:`link_surfaces`,
    ``canon.canonicalize_concepts`` and ``graph.canonical_triples`` compute
    as tables, as two dict lookups. Answers are memoized, so a resolver
    built once per task scores each distinct (surface, tag) once there."""
    exact, postings = dictionary.exact, dictionary.postings
    canonical = dictionary.canonical
    memo: dict = {}

    def resolve(surface, tag):
        key = (surface, tag)
        if key not in memo:
            hit = _resolve(surface, TAG2NAME.get(tag), exact, postings)
            memo[key] = (
                surface if hit is None else canonical.get(hit[0], hit[0])
            )
        return memo[key]

    return resolve


def link_surfaces(
    surfaces: "DataFrame",
    concept_dict: "DataFrame | Prepared",
    materialize: bool = True,
) -> "DataFrame":
    """(surface, sem_type) x dictionary -> (surface, sem_type, concept_id,
    score, method), at most one row per distinct (surface, sem_type).

    Candidates are restricted to dictionary rows of the surface's semantic
    family — without this an anatomy mention like 肺 happily fuzzy-matches
    the disease 肺癌 (observed in verification).

    ``concept_dict`` is a dictionary table or its ``concepts.prepare``
    result. Cost: the table's one collect in ``concepts.prepare`` (none for
    a prepared dictionary), plus one Python pass over the distinct surfaces
    that scores only the aliases sharing a gram with the surface (aliases
    sharing none are never touched). The index travels to the tasks in the
    function's closure, so it must fit the driver and each Python worker.

    ``materialize=True`` returns the links materialized in the caller's
    scope: callers read them twice as broadcast sides (subject and object),
    which would otherwise run the linking pass twice.
    """
    dictionary = prepare(concept_dict)
    exact, postings = dictionary.exact, dictionary.postings
    names = ["surface", "sem_type", "concept_id", "score", "method"]

    def _link_batches(batches):
        import pyarrow as pa

        for rb in batches:
            d = rb.to_pydict()
            rows = [
                (s, st, *hit)
                for s, st in zip(d["surface"], d["sem_type"])
                if (hit := _resolve(s, st, exact, postings)) is not None
            ]
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(c, pa.float64() if n == "score" else pa.string())
                        for n, c in zip(names, zip(*rows))
                    ],
                    names=names,
                )

    links = (
        surfaces.select("surface", "sem_type")
        .distinct()
        .mapInArrow(
            _link_batches,
            schema="surface string, sem_type string, concept_id string, "
            "score double, method string",
        )
    )
    return frames.materialize(links) if materialize else links
