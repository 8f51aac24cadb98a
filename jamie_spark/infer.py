"""The fused NLP front-end: one ``mapInArrow`` stage, two output shapes.

pages(url, warc_ts, html, text, lang)
  -> annotations(url, sent_id, tokens, ner, mod, rels, heads, entities, triples)
     (``annotate_pages``: the nested CONLL/XML/eval shape)
  -> flat mention/triple rows
     (``annotate_pages_flat``: the KG hot path; given a prepared
     dictionary, each triple row also carries its canonical subj/obj ids,
     resolved in the same task by ``link.resolver``)

Both are :func:`_arrow_stage`, which differs only in its output DDL and its
per-unit row writer.

Everything the reference does per document — extraction (N1), width
normalization (T1), segmentation (T2), tokenization (T3), joint
NER/modality/relation decode (M1-M3), BIO span decode (B1), mention-triplet
derivation — runs in ONE python stage per input partition, so the corpus
crosses the JVM<->Python Arrow boundary exactly once. This is the engine's
answer to the reference's per-document Python loop
(``utils.py:851-881`` + ``clinical_joint.py:19-102``): same semantics, no
driver-side iteration, no per-row Python, shuffle-free.

Scale notes (100 TB):
* the lang filter is applied BEFORE this stage on a plain column, so Catalyst
  pushes it into the parquet/Iceberg scan and non-target pages are never
  deserialized, let alone shipped to Python;
* the model (here: the deterministic stand-in; in production: the torch
  artifact) is loaded once per executor python worker via a module-level
  cache — the load-once pattern the reference gets for free on one machine;
* output rows are one-per-sentence but all sequence context stays intra-row
  (arrays), so downstream span ops need no shuffle;
* entities/triples are decoded here and exploded later JVM-side — a second
  Python pass would double Arrow (de)serialization for no benefit.
"""

from __future__ import annotations

from functools import partial
from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import functions as F

from .bio import bio_to_spans, rel_triplets
from .link import resolver
from .models import get_extractor, resolve_spec
from .subword import MAX_SUBWORDS, subword_count
from .textnorm import SEP, extract_text, zen_to_han
from .tokenizer import chunk_sentences, split_sentences, tokenize

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

    from .concepts import Prepared

ANNOTATIONS_DDL = (
    "url string, sent_id int, chunk_id int, tokens array<string>, "
    "ner array<string>, mod array<string>, "
    "rels array<array<string>>, heads array<array<int>>, "
    "entities array<struct<tag:string, begin:int, end:int, mod:string, "
    "surface:string>>, "
    "triples array<struct<tail_surface:string, head_surface:string, "
    "rel:string, tail_tag:string, head_tag:string, tail_mod:string>>"
)


def _get_tagger(spec: str):
    """Per-python-worker model construction + memoization (reference analog:
    the single in-process model of clinical_joint.py); the spec itself was
    resolved driver-side and shipped by closure."""
    return get_extractor(spec)


def _over_length(toks: list[str], subword_vocab: set[str] | None) -> bool:
    """T12 gate (reference utils.py:826-842). The reference gates on SUBWORD
    count; word count is only a lower bound, so it serves as a cheap pre-gate
    (len(words) > limit implies len(subwords) > limit) and the exact subword
    gate runs when the active extractor has a subword encoder."""
    if len(toks) > MAX_SUBWORDS:
        return True
    if subword_vocab is not None:
        # WordPiece pieces partition a word's characters (and [UNK] is one
        # piece), so a sentence's subword count is bounded by its CHARACTER
        # count: when the char total cannot cross the limit the exact walk
        # is provably unnecessary — which is every normal sentence, keeping
        # the hot path free of per-token vocab probes (measured ~10% of
        # stand-in inference at 3.6M docs before this bound)
        if sum(len(t) for t in toks) <= MAX_SUBWORDS:
            return False
        return subword_count(toks, subword_vocab) > MAX_SUBWORDS
    return False


def _doc_units(body: str, mode: str, vocab: set[str] | None):
    """One document -> (sent_id, chunk_id, tokens) annotation units.

    ``mode="sentence"`` (the hot-path default): one unit per sentence,
    chunk_id == sent_id.

    ``mode="document"``: the reference's doc-level trunk mode — sentences
    greedily packed into <= MAX_SUBWORDS trunks (``chunk_sentences``,
    reference utils.py:700-722) and joined with the in-band ``[SEP]`` token
    (utils.py:722; decoded back to newline on emit, data_objects.py:210).
    One unit per trunk; sent_id = the trunk's FIRST sentence; the extractor
    sees the whole trunk, so relations may cross sentence boundaries —
    exactly the reference's document-level semantics. Each sentence costs
    its UNIT length + 1 in the packing (the joining separator), where the
    unit matches what the T12 gate measures: SUBWORDS when the active
    extractor has a subword encoder (reference bert_sent_len,
    utils.py:651-664 — packing by words and gating by subwords would
    silently drop whole trunks). Every shipped provider — stand-in, numpy,
    torch — now carries a subword vocab, so trunk packing is
    provider-invariant; the word-token fallback remains for vocab-less
    custom extractors.
    """
    sent_toks = [tokenize(s) for s in split_sentences(body)]
    if mode == "sentence":
        for sid, toks in enumerate(sent_toks):
            if not _over_length(toks, vocab):
                yield sid, sid, toks
        return
    if mode != "document":
        raise ValueError(f"unknown annotate mode: {mode!r}")
    if vocab is not None:
        lens = [
            subword_count(t, vocab) + 1 for t in sent_toks
        ]
    else:
        lens = [len(t) + 1 for t in sent_toks]
    for cid, (a, b) in enumerate(chunk_sentences(lens, MAX_SUBWORDS)):
        # trunk length from the cached per-sentence unit counts: each len
        # already carries +1 for a separator and the trunk joins k
        # sentences with k-1 [SEP]s (1 subword each), so the trunk measures
        # sum(lens) - 1 in the SAME unit the packing used — no second
        # WordPiece pass over the concatenated tokens.
        if sum(lens[a:b]) - 1 > MAX_SUBWORDS:
            continue  # a single oversized sentence became its own trunk
        toks: list[str] = []
        for t in sent_toks[a:b]:
            if toks:
                toks.append(SEP)
            toks.extend(t)
        yield a, cid, toks


def _iter_page_units(pdf_rows, mode: str, vocab: set[str] | None):
    """Extract/segment/tokenize pages into (url, sent_id, chunk_id, tokens)
    units — the single page loop both execution shapes consume. Per-PAGE
    error isolation (reference utils.py:844-846): a bad page yields no
    units, never kills the task (a page's units materialize before any are
    yielded, so a mid-page failure cannot half-emit a document)."""
    for url, html, text in pdf_rows:
        try:
            body = text if text else extract_text(html)
            body = zen_to_han(body)
            units = [
                (url, sid, cid, toks)
                for sid, cid, toks in _doc_units(body, mode, vocab)
            ]
        except Exception:
            continue
        yield from units


#: units per model forward when the provider batches. Bounds the padded
#: tensor (an unbounded Arrow batch of 10k pages could yield 10^5 units ->
#: a 10^5 x 512 tensor and an OOM-killed python worker the except can't
#: catch); sub-batches also pad tighter. CPU BERT throughput plateaus well
#: below this.
MODEL_SUBBATCH = 32


def _all_o(n: int) -> tuple:
    """The annotation of an ``n``-token unit whose tagging failed: no
    entity, no modality, no relation."""
    return ["O"] * n, ["_"] * n, [[] for _ in range(n)], [[] for _ in range(n)]


def _annotate_units(tagger, unit_toks: list[list[str]]) -> list[tuple]:
    """Batched model calls (``annotate_batch``, ``MODEL_SUBBATCH`` units per
    forward — per-sentence calls would run a batch-of-1 forward each,
    losing the 10-50x CPU batching win). Falls back to per-unit calls with
    per-unit isolation (a failing unit becomes all-O instead of poisoning
    the batch); the fallback is LOGGED — a deterministic bug in the batched
    path must not silently halve throughput forever."""
    batch_fn = tagger.annotate_batch
    try:
        out = []
        for i in range(0, len(unit_toks), MODEL_SUBBATCH):
            out.extend(batch_fn(unit_toks[i : i + MODEL_SUBBATCH]))
        return out
    except Exception:
        import logging

        logging.getLogger(__name__).warning(
            "annotate_batch failed; degrading to per-unit inference",
            exc_info=True,
        )
    out = []
    for toks in unit_toks:
        try:
            out.append(tagger.annotate_sentence(toks))
        except Exception:
            out.append(_all_o(len(toks)))
    return out


def _iter_annotated(tagger, pdf_rows, mode: str, vocab: set[str] | None):
    """Yield (url, sent_id, chunk_id, toks, ner, mod, rels, heads) for one
    Arrow batch of pages.

    Two execution shapes, chosen by the provider:

    * no ``annotate_batch`` (the stand-in): ONE fused streaming loop — unit
      generation and tagging inline, no intermediate unit/result lists
      (materializing them measured ~50% slower on the 1.2M-doc hot path);
      per-PAGE error isolation as in the reference (utils.py:844-846).
    * ``annotate_batch`` present (the torch provider): collect units first,
      then sub-batched model forwards (:func:`_annotate_units`) — for a
      real encoder the forward dominates and batching it wins 10-50x,
      dwarfing the list-materialization cost.
    """
    batch_fn = getattr(tagger, "annotate_batch", None)
    if batch_fn is None:
        warned = False
        for url, sid, cid, toks in _iter_page_units(pdf_rows, mode, vocab):
            try:
                ner, mod, rels, heads = tagger.annotate_sentence(toks)
            except Exception:
                # same per-unit contract as the batched fallback: the
                # failing unit becomes all-O, the rest of the page (and
                # corpus) is untouched — and it is logged, never silent
                if not warned:
                    import logging

                    logging.getLogger(__name__).warning(
                        "annotate_sentence failed; emitting all-O for the"
                        " failing unit(s)", exc_info=True,
                    )
                    warned = True
                ner, mod, rels, heads = _all_o(len(toks))
            yield url, sid, cid, toks, ner, mod, rels, heads
        return
    units = list(_iter_page_units(pdf_rows, mode, vocab))
    annotated = _annotate_units(tagger, [u[3] for u in units])
    # strict: a provider whose annotate_batch miscounts must fail LOUDLY —
    # plain zip would silently drop trailing units and misalign tags
    for (url, sid, cid, toks), (ner, mod, rels, heads) in zip(
        units, annotated, strict=True
    ):
        yield url, sid, cid, toks, ner, mod, rels, heads


def _decode_unit(toks, ner, mod, rels, heads) -> tuple[list, list]:
    """One unit's span/triple decode (B1, M2-M3; semantics in ``bio``) —
    the single copy both output shapes emit from.

    mentions: (tag, begin, end, mod, surface), modality from the span-final
    token. triples: (tail_tag, tail_begin, tail_end, tail_mod, tail_surface,
    head_surface, head_tag, rel) for relations whose tail AND head anchor a
    span-final token. Both lists are complete before the caller emits
    anything, so a unit whose decode raises (e.g. a ``mod`` shorter than
    ``ner``) yields no rows in either shape, never a partial unit.
    """
    mentions = [
        (t, b, e, mod[e - 1], "".join(toks[b:e]))
        for t, b, e in bio_to_spans(ner)
    ]
    last = {m[2] - 1: m for m in mentions}
    triples = []
    for ti, hi, rel in rel_triplets(rels, heads):
        if ti in last and hi in last:
            ht, _, _, _, hs = last[hi]
            triples.append((*last[ti], hs, ht, rel))
    return mentions, triples


def _arrow_stage(mode: str, spec: str, ddl: str, writer):
    """The extraction stage: pages Arrow batches -> ``ddl`` Arrow batches.

    ``writer()`` runs once per task and returns ``write(add, unit,
    mentions, triples)``, which appends one decoded unit's rows through
    ``add``, the output columns' ``list.append`` in ``ddl`` order. A unit
    whose decode raises yields no row (per-unit isolation, reference
    utils.py:844-846). The Arrow schema is parsed here, on the driver:
    ``DataType.fromDDL`` needs a Spark session, which a python worker lacks.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = to_arrow_schema(DataType.fromDDL(ddl))

    def stage(batches):
        import pyarrow as pa

        tagger = _get_tagger(spec)
        vocab = getattr(tagger, "subword_vocab", None)
        write = writer()
        for rb in batches:
            d = rb.to_pydict()
            cols = [[] for _ in schema.names]
            add = [c.append for c in cols]
            for unit in _iter_annotated(
                tagger, zip(d["url"], d["html"], d["text"]), mode, vocab
            ):
                try:
                    mentions, triples = _decode_unit(*unit[3:])
                except Exception:
                    continue
                write(add, unit, mentions, triples)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

    return stage


def _write_nested(add, unit, mentions, triples) -> None:
    """One ``ANNOTATIONS_DDL`` row per unit. A mention tuple is already in
    the ``entities`` struct's field order; a triple is reordered to the
    ``triples`` struct's."""
    row = (*unit, mentions, [
        (ts, hs, rel, tt, ht, tm) for tt, _, _, tm, ts, hs, ht, rel in triples
    ])
    for f, v in zip(add, row):
        f(v)


#: columns shipped into the python workers. ``_iter_page_units`` reads html
#: ONLY as the extract_text fallback for pages with no ``text`` (the
#: ``text if text else extract_text(html)`` gate), so html is nulled
#: JVM-side whenever text is populated: on a crawl table whose text column
#: is already extracted, the raw-html bytes — the widest column by far
#: (10-100KB/page on real WARC data vs ~100B of text here) — never enter
#: the Arrow transfer or the python heap. Pages missing text still carry
#: their html through to the fallback unchanged.
def _page_cols():
    return (
        "url",
        F.when(F.col("text").isNull() | (F.col("text") == ""), F.col("html"))
         .alias("html"),
        "text",
    )


def annotate_pages(
    pages: "DataFrame", lang: str = "ja", mode: str = "sentence",
    model_spec: str | None = None,
) -> "DataFrame":
    """pages -> per-unit annotations (the M1 stage, full nested output).

    ``mode="sentence"``: one row per sentence (chunk_id == sent_id).
    ``mode="document"``: the reference's doc-level trunk mode — one row per
    <=510-token trunk of [SEP]-joined sentences (see :func:`_doc_units`),
    giving the extractor cross-sentence context.

    The ``lang`` filter sits on a plain column before the python stage so it
    is pushed into the scan (verify: ``.explain`` shows PushedFilters on lang).

    This emits the COMPLETE token-level record (tokens, BIO, modality,
    multihead relations, decoded entities/triples) — the shape needed by the
    reference-parity outputs (CONLL S8, XML S9) and the evaluator. The
    production KG hot path is :func:`annotate_pages_flat`: the same stage,
    with one row of primitives per mention or triple, which is what the
    linking and the graph write consume.
    """
    filtered = pages.where(F.col("lang") == lang).select(*_page_cols())
    return filtered.mapInArrow(
        _arrow_stage(
            mode, resolve_spec(model_spec), ANNOTATIONS_DDL,
            lambda: _write_nested,
        ),
        schema=ANNOTATIONS_DDL,
    )


# --- flat Arrow-native hot path ---------------------------------------------

FLAT_DDL = (
    "url string, sent_id int, chunk_id int, kind string, tag string, "
    "begin int, end int, "
    "mod string, surface string, obj_surface string, obj_tag string, "
    "rel string, subj_id string, obj_id string"
)


def _flat_writer(dictionary: "Prepared | None"):
    """A task's ``FLAT_DDL`` writer: one row per mention (kind='m') or
    triple (kind='t'), primitives only, appended straight into the column
    lists. With a dictionary, one ``link.resolver`` per task sets a triple
    row's subj_id/obj_id."""
    resolve = None if dictionary is None else resolver(dictionary)

    def write(add, unit, mentions, triples) -> None:
        url, sid, cid = unit[:3]
        # mention/triple tuples are laid out in FLAT_DDL column order after
        # ``kind``
        for m in mentions:
            for f, v in zip(add, (url, sid, cid, "m", *m,
                                  None, None, None, None, None)):
                f(v)
        for t in triples:
            ids = (None, None) if resolve is None else (
                resolve(t[4], t[0]), resolve(t[5], t[6])
            )
            for f, v in zip(add, (url, sid, cid, "t", *t, *ids)):
                f(v)

    return write


def annotate_pages_flat(
    pages: "DataFrame", lang: str = "ja", mode: str = "sentence",
    model_spec: str | None = None, dictionary: "Prepared | None" = None,
) -> "DataFrame":
    """pages -> flat mention/triple rows (production hot path).

    ``mode`` / ``model_spec`` as in :func:`annotate_pages`. With a
    ``concepts.prepare`` result as ``dictionary``, each triple row also
    carries the canonical subj_id/obj_id its surfaces resolve to
    (``link.resolver``); the dictionary travels to the tasks in the stage's
    closure, so it must fit the driver and each Python worker."""
    filtered = pages.where(F.col("lang") == lang).select(*_page_cols())
    return filtered.mapInArrow(
        _arrow_stage(
            mode, resolve_spec(model_spec), FLAT_DDL,
            partial(_flat_writer, dictionary),
        ),
        schema=FLAT_DDL,
    )


def extraction_only(pages: "DataFrame") -> "DataFrame":
    """(url, extracted_text) — N1 alone, for the byte-identity test."""
    def _extract(html: pd.Series) -> pd.Series:
        return html.map(extract_text)

    extract_udf = F.pandas_udf(_extract, "string")
    return pages.select("url", extract_udf(F.col("html")).alias("extracted_text"))
