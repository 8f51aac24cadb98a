"""Numpy provider: real matrix math through the SAME batched path as the
torch provider, value-identical to the stand-in gold on the fixture
distribution (VERDICT r03 #2).

What these tests prove that the torch mocks could not: the padding, framing,
B6 mask, Viterbi decode, subword->word realignment and relation anchor
remapping produce correct ANNOTATIONS when driven by an actual numeric
forward (embedding lookup -> windowed ReLU layers -> masked max-pool fusion
-> CRF/argmax/bilinear-sigmoid heads) instead of a hand-scripted fake."""

import random

import pytest

from jamie_spark import fixtures, models, npmodel, standin
from jamie_spark.tokenizer import tokenize


@pytest.fixture(scope="module")
def ckpt(tmp_path_factory):
    return npmodel.compile_fixture_checkpoint(
        str(tmp_path_factory.mktemp("np_ckpt"))
    )


@pytest.fixture(scope="module")
def ex(ckpt):
    return npmodel.NumpyJointExtractor(ckpt)


REF = standin.StandInJointExtractor()


def _instantiated_sentences(n, seed=123):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        text, _ = fixtures._instantiate(rng, rng.choice(fixtures.TEMPLATES))
        out.append(tokenize(text))
    return out


def test_sentence_sweep_identical_to_standin(ex):
    """Every template x dictionary instantiation decodes identically to the
    rule tagger — NER spans, modality, relation anchors, self-loops."""
    for toks in _instantiated_sentences(400):
        assert ex.annotate_sentence(toks) == REF.annotate_sentence(toks), toks


def test_multi_subword_realign(ex):
    """肺癌 splits to 肺/##癌 in the compiled vocab: B-d must come from the
    FIRST subword, modality from the LAST, and the relation anchor must
    remap through the [CLS]-offset word ids to the span-final WORD."""
    toks = tokenize("昨日、肺に肺癌を認める。")
    got = ex.annotate_sentence(toks)
    assert got == REF.annotate_sentence(toks)
    ner, mod, rels, heads = got
    d_pos = toks.index("肺癌")
    assert ner[d_pos] == "B-d" and mod[d_pos] == "positive"
    assert "region" in rels[d_pos] and "On" in rels[d_pos]
    assert heads[d_pos][rels[d_pos].index("On")] == d_pos  # DCT self-loop


def test_longest_match_inhibition(ex):
    """肺 alone is anatomy; as the first subword of 肺癌 it must NOT fire a
    spurious B-a (prefix-inhibition units implement longest-match)."""
    ner, _, _, _ = ex.annotate_sentence(tokenize("肺癌は認められない。"))
    assert ner[0] == "B-d"
    assert "B-a" not in ner


def test_modality_rules(ex):
    for text, surface, want in [
        ("膵臓に胃癌の疑いがある。", "胃癌", "suspicious"),
        ("貧血は認められない。", "貧血", "negative"),
        ("ステロイドの投与を予定している。", "ステロイド", "scheduled"),
        ("インスリンを投与した。", "インスリン", "executed"),
        ("三日間、骨に骨折あり。", "三日間", "DURATION"),
    ]:
        toks = tokenize(text)
        got = ex.annotate_sentence(toks)
        assert got == REF.annotate_sentence(toks), text
        _, mod, _, _ = got
        end = toks.index(tokenize(surface)[-1])
        assert mod[end] == want, (text, mod)


def test_multi_disease_on_self_loops_only(ex):
    """Two diseases + a TIMEX3 in one unit: the DCT 'On' head must fire
    per-disease SELF-loops only (the positional quadratic form kills cross
    pairs) — exactly the stand-in decode. This is the case the fixture
    templates (one disease per sentence) can never probe."""
    toks = tokenize("昨日、肺癌と胃癌を認める。")
    got = ex.annotate_sentence(toks)
    assert got == REF.annotate_sentence(toks)
    _, _, rels, heads = got
    for i, (rl, hl) in enumerate(zip(rels, heads)):
        for r, h in zip(rl, hl):
            if r == "On":
                assert h == i, (i, r, h)


def test_doc_mode_trunk_crosses_sep(ex):
    """A [SEP]-joined trunk through the same call: windows and relation
    pairs range over the whole trunk for BOTH providers (doc-level trunk
    semantics), and the B6 segment term is exercised in the forward."""
    s1 = tokenize("昨日、肺に肺癌を認める。")
    s2 = tokenize("血圧は120mmHgであった。")
    trunk = s1 + ["[SEP]"] + s2
    assert ex.annotate_sentence(trunk) == REF.annotate_sentence(trunk)


def test_batch_mixed_lengths(ex):
    sents = _instantiated_sentences(16, seed=7)
    out = ex.annotate_batch(sents)
    assert out == [REF.annotate_sentence(s) for s in sents]


def test_over_length_backstop(ex):
    long_sent = ["肺癌"] * 600  # 2 subwords each -> over the 512 limit
    ner, mod, rels, heads = ex.annotate_sentence(long_sent)
    assert ner == ["O"] * 600 and mod == ["_"] * 600


def test_registry_resolves_numpy_spec(ckpt):
    ex = models.get_extractor(f"numpy:{ckpt}")
    assert isinstance(ex, npmodel.NumpyJointExtractor)
    assert models.get_extractor(f"numpy:{ckpt}") is ex  # memoized
    assert "##癌" in ex.subword_vocab  # T12 gate is subword-exact


def test_pipeline_value_identical(spark, ckpt):
    """The VERDICT r03 #2 'done' bar: the numpy-provider PIPELINE output is
    value-identical to the stand-in gold on the fixture corpus — through the
    full mapInArrow stage, linking and canonicalization."""
    from jamie_spark import pipeline

    pages = fixtures.pages_df(spark, 60, seed=11)
    concepts = fixtures.concept_df(spark)
    cols = ["url", "sent_id", "subj_surface", "pred", "obj_surface",
            "subj_id", "obj_id", "subj_mod"]

    def triples(spec):
        r = pipeline.run_kg(pages, concepts, model_spec=spec)
        return sorted(
            tuple(row) for row in r["canonical_triples"].select(*cols).collect()
        )

    gold = triples(None)  # standin default
    got = triples(f"numpy:{ckpt}")
    assert len(gold) > 0
    assert got == gold


def test_two_keyval_pairs_nearest_preceding_only(ex):
    """_T_TESTVAL2 probe (VERDICT r04 #5a): two key/value pairs in one
    sentence — each value links to its nearest PRECEDING key only. The r4
    compiled checkpoint linked every (val, key) pair (and both directions),
    which this pins out via the causal kc cumulative feature."""
    toks = tokenize("血圧は120mmHg、体温は38.2度であった。")
    got = ex.annotate_sentence(toks)
    assert got == REF.annotate_sentence(toks)
    _, _, rels, heads = got
    v1 = toks.index("120mmHg")       # 120mmHg final token
    v2 = toks.index("度")            # 38.2度 final token
    k1 = toks.index("血圧")
    k2 = toks.index("体温")
    assert rels[v1] == ["value"] and heads[v1] == [k1]
    assert rels[v2] == ["value"] and heads[v2] == [k2]
    # nothing else carries a value relation (no all-pairs leakage)
    for i, rl in enumerate(rels):
        if i not in (v1, v2):
            assert "value" not in rl, (i, rl)


def test_value_rule_cross_sentence_trunk(ex):
    """Doc-mode trunk: two _T_TESTVAL sentences joined by [SEP] — each value
    still links only to its own (nearest preceding) key across the whole
    trunk, which is exactly where the r4 all-pairs approximation produced
    the 10 extra doc-mode triples."""
    s1 = tokenize("血圧は120mmHgであった。")
    s2 = tokenize("血糖値は98mgdlであった。")
    trunk = s1 + ["[SEP]"] + s2
    got = ex.annotate_sentence(trunk)
    assert got == REF.annotate_sentence(trunk)
    _, _, rels, heads = got
    n_value = sum(rl.count("value") for rl in rels)
    assert n_value == 2


def test_modality_cue_beyond_subword_horizon(ex):
    """_T_SUSPECT_FAR probe (VERDICT r04 #5b): アスピリン compiles to THREE
    subword pieces, pushing the 疑 cue to subword offset 7 while it stays at
    word offset 5 — the stand-in's 6-word window must still see it. The r4
    checkpoint counted 6 SUBWORDS and decoded 'positive'."""
    toks = tokenize("肺炎のアスピリン投与後も疑いが残る。")
    got = ex.annotate_sentence(toks)
    assert got == REF.annotate_sentence(toks)
    _, mod, _, _ = got
    d_end = toks.index("肺炎")
    r_end = toks.index("アスピリン")
    assert mod[d_end] == "suspicious", mod
    assert mod[r_end] == "executed", mod
    # sanity: the cue really is past 6 subwords in the compiled vocab
    from jamie_spark.subword import tokenize_subwords
    sbw, wids = tokenize_subwords(toks, ex.subword_vocab)
    d_sub_end = max(i for i, w in enumerate(wids) if w == d_end)
    cue_sub = sbw.index("疑")
    assert cue_sub - d_sub_end > 6, (sbw, d_sub_end, cue_sub)
