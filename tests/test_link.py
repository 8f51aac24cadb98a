"""link.link_surfaces against a pure-Python reference on random dictionaries,
and run_kg's fused canonical ids against the table-level composition.

The reference states the linking contract without Spark: an exact hit on
``textnorm.zen_to_han(alias)`` within the surface's sem_type wins; otherwise
every same-sem_type alias is scored by Jaccard over distinct character
{1,2}-grams (the ``concepts.grams`` bounds) and kept at >= ``MIN_JACCARD``;
the top-1 is by score desc, then concept_id asc.
"""

import random

import pytest
from pyspark.sql import functions as F

from jamie_spark import (
    canon, concepts, fixtures, frames, graph, infer, link, mentions, pipeline,
    textnorm,
)

N_TRIALS = 30
SEM_TYPES = ["Disease", "Remedy"]
MISSING_SEM_TYPE = "Anatomical"  # no dictionary row carries it
HALF = "abcd肺癌がん"
FULL = "ａｂＣ"  # full-width letters: zen_to_han folds them onto ASCII


def _grams(s: str) -> set:
    """Distinct 1-grams over max(len, 1) positions and 2-grams over
    max(len - 1, 1) positions, as ``concepts.grams`` builds them."""
    n = len(s)
    return {s[i:i + 1] for i in range(max(n, 1))} | {
        s[i:i + 2] for i in range(max(n - 1, 1))
    }


def _normalized(dictionary):
    return {
        (cid, None if alias is None else textnorm.zen_to_han(alias), st)
        for cid, alias, st in dictionary
    }


def _fuzzy_scores(surface, sem_type, dic):
    """[(score, concept_id)] over the same-sem_type aliases at >= MIN_JACCARD.
    A null alias is skipped: it shares no gram with a surface (score 0)."""
    sg = _grams(surface)
    out = []
    for c, a, t in dic:
        if t == sem_type and a is not None:
            ag = _grams(a)
            score = len(sg & ag) / len(sg | ag)
            if score >= link.MIN_JACCARD:
                out.append((score, c))
    return out


def reference_links(surfaces, dictionary):
    """{(surface, sem_type): (concept_id, score, method)} for linked surfaces."""
    dic = _normalized(dictionary)
    out = {}
    for surface, st in surfaces:
        exact = sorted(c for c, a, t in dic if t == st and a == surface)
        if exact:
            out[(surface, st)] = (exact[0], 1.0, "exact")
            continue
        scored = _fuzzy_scores(surface, st, dic)
        if scored:
            best = max(score for score, _ in scored)
            top = min(c for score, c in scored if score == best)
            out[(surface, st)] = (top, best, "broadcast")
    return out


def _word(rng, alphabet, lo=1, hi=5):
    return "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))


def _trial(trial: int):
    """One seeded dictionary and its surfaces, sem_types prefixed by the
    trial so every trial links independently inside one Spark call."""
    rng = random.Random(trial)
    dictionary = []
    for _ in range(rng.randint(8, 14)):
        cid = f"C{rng.randint(0, 5)}"
        alias = None if rng.random() < 0.1 else _word(rng, HALF + FULL)
        dictionary.append((cid, alias, rng.choice(SEM_TYPES)))
    # the same alias under a second concept id: a score tie across ids
    cid, alias, st = rng.choice([r for r in dictionary if r[1] is not None])
    dictionary.append((f"C{(int(cid[1:]) + 1) % 6}", alias, st))

    surfaces = set()
    for _, a, st in dictionary:
        if a is not None and rng.random() < 0.5:
            surfaces.add((textnorm.zen_to_han(a), st))  # exact hit
    for _ in range(8):
        surfaces.add((_word(rng, HALF), rng.choice(SEM_TYPES)))
    for _ in range(3):
        surfaces.add((rng.choice(HALF), rng.choice(SEM_TYPES)))  # 1 char
    surfaces.add((_word(rng, HALF), MISSING_SEM_TYPE))

    return (
        [(c, a, f"{trial}:{st}") for c, a, st in dictionary],
        sorted((s, f"{trial}:{st}") for s, st in surfaces),
    )


@pytest.mark.parametrize("prepared", [False, True], ids=["frame", "prepared"])
def test_link_surfaces_matches_reference_on_random_dictionaries(
    spark, prepared
):
    """The reference holds for a dictionary table and for its
    ``concepts.prepare`` result alike."""
    dictionary, surfaces = [], []
    for trial in range(N_TRIALS):
        d, s = _trial(trial)
        dictionary += d
        surfaces += s
    want = reference_links(surfaces, dictionary)

    concept_dict = spark.createDataFrame(
        dictionary, "concept_id string, alias string, sem_type string"
    )
    if prepared:
        concept_dict = concepts.prepare(concept_dict)
    got_rows = link.link_surfaces(
        spark.createDataFrame(surfaces, "surface string, sem_type string"),
        concept_dict,
    ).collect()
    got = {
        (r["surface"], r["sem_type"]): (r["concept_id"], r["score"], r["method"])
        for r in got_rows
    }
    assert len(got) == len(got_rows)  # top-1: one row per (surface, sem_type)
    assert got == want

    # the random data exercises every case the reference distinguishes
    methods = [m for _, _, m in want.values()]
    assert methods.count("exact") > 0 and methods.count("broadcast") > 0
    assert any(a is None for _, a, _ in dictionary)
    assert any(
        a is not None and a != textnorm.zen_to_han(a)
        and (textnorm.zen_to_han(a), st) in want
        for _, a, st in dictionary
    )
    assert any(len(s) == 1 for s, _ in want)
    assert not any(st.endswith(MISSING_SEM_TYPE) for _, st in got)
    assert any(st.endswith(MISSING_SEM_TYPE) for _, st in surfaces)
    dic = _normalized(dictionary)
    assert any(
        len({c for score, c in _fuzzy_scores(s, st, dic) if score == best}) > 1
        for (s, st), (_, best, m) in want.items()
        if m == "broadcast"
    )  # Jaccard ties across concept ids


def test_null_keys_never_link(spark):
    """A null surface, surface sem_type, alias or concept_id never links: a
    null surface does not match a null alias, and a dictionary row with a
    null concept_id does not outrank a real concept on the same alias."""
    dictionary = [
        (None, "肺癌", "Disease"),
        ("C9", "肺癌", "Disease"),
        ("C1", None, "Disease"),
        ("C2", "胃癌", None),
    ]
    surfaces = [
        ("肺癌", "Disease"),
        (None, "Disease"),
        ("胃癌", None),
        (None, None),
    ]
    got = link.link_surfaces(
        spark.createDataFrame(surfaces, "surface string, sem_type string"),
        spark.createDataFrame(
            dictionary, "concept_id string, alias string, sem_type string"
        ),
    ).collect()
    assert [tuple(r) for r in got] == [("肺癌", "Disease", "C9", 1.0, "exact")]


def test_default_call_leaves_no_cache_behind(spark, persisted_rdds):
    """The default (materialized) result is a local checkpoint, which the
    ContextCleaner frees with its plan; no persisted frame is left pinned."""
    before = persisted_rdds()
    links = link.link_surfaces(
        spark.createDataFrame(
            [("cache-probe", "Disease"), ("大腸癌", "Disease")],
            "surface string, sem_type string",
        ),
        spark.createDataFrame(
            [("C3", "大腸癌", "Disease")],
            "concept_id string, alias string, sem_type string",
        ),
    )
    assert links.count() == 1
    assert persisted_rdds() == before


# --- run_kg's fused canonical ids vs the table-level composition ------------

CANONICAL_COLS = [
    "url", "sent_id", "subj_surface", "pred", "obj_surface", "subj_tag",
    "obj_tag", "subj_mod", "subj_id", "obj_id",
]


def _fixture_dictionary(trial: int) -> list[tuple]:
    """A seeded dictionary over the fixture surfaces, sem types from
    ``concepts.TAG2NAME``. Each surface gets an exact alias, or only
    fuzzy variants (two one-character extensions under two concept ids,
    which tie on Jaccard), or nothing. A small concept-id pool and shared
    aliases cross-link concepts; null concept_id, alias and sem_type rows
    ride along."""
    rng = random.Random(trial)
    pool = [f"C{i}" for i in range(8)]
    pairs = concepts.surface_tag_pairs()
    rows, exact = [], []
    for surface, tag in pairs:
        st = concepts.TAG2NAME[tag]
        r = rng.random()
        if r < 0.4:
            exact.append((rng.choice(pool), surface, st))
        elif r < 0.8:
            a, b = rng.sample(pool, 2)
            rows += [(a, surface + "＊", st), (b, surface + "#", st)]
    rows += exact
    for _, alias, st in rng.sample(exact, 3):
        rows.append((rng.choice(pool), alias, st))  # cross-link, exact tie
    a, b = rng.sample(pool, 2)
    rows.append((a, b, "Disease"))  # an alias naming another concept id
    surface, tag = rng.choice(pairs)
    rows += [
        (None, surface, concepts.TAG2NAME[tag]),
        (rng.choice(pool), None, "Disease"),
        (rng.choice(pool), surface, None),
    ]
    return rows


def _reference_canonical(flat, concept_dict):
    """(canonical triples, links) of link.link_surfaces +
    canon.canonicalize_concepts + graph.canonical_triples over the flat
    rows' triples and their distinct (surface, sem_type) pairs."""
    triples = mentions.triples_from_flat(flat)
    surfaces = triples.select(
        F.col("subj_surface").alias("surface"),
        concepts.sem_type_of("subj_tag").alias("sem_type"),
    ).union(triples.select(
        F.col("obj_surface").alias("surface"),
        concepts.sem_type_of("obj_tag").alias("sem_type"),
    ))
    links = link.link_surfaces(surfaces, concept_dict, materialize=False)
    return graph.canonical_triples(
        triples, links, canon.canonicalize_concepts(concept_dict)
    ), links


def _fused_equals_reference(spark, pages, flat, rows, mode="sentence"):
    """Asserts run_kg's canonical triples on ``pages`` equal the reference's
    over ``flat``, their flat rows, and returns the reference links and the
    prepared dictionary."""
    concept_dict = concepts.prepare(spark.createDataFrame(
        rows, "concept_id string, alias string, sem_type string"
    ))
    want, links = _reference_canonical(flat, concept_dict)
    want = sorted(map(tuple, want.select(*CANONICAL_COLS).collect()))
    got = pipeline.run_kg(pages, concept_dict, mode=mode)["canonical_triples"]
    assert sorted(map(tuple, got.select(*CANONICAL_COLS).collect())) == want
    assert want
    return [tuple(r) for r in links.collect()], concept_dict


def test_fused_canonical_ids_match_reference_composition(spark):
    """Over seeded dictionaries and pages spread over 16 partitions (so
    each task's memo sees repeats), run_kg's ids equal the table-level
    composition's; the data covers exact and fuzzy-only links, Jaccard ties
    across concept ids, cross-linked concepts and null dictionary keys."""
    pages = fixtures.pages_df(spark, 60, seed=42).repartition(16)
    assert pages.rdd.getNumPartitions() >= 16
    methods, tied, merged = set(), False, False
    with frames.scope():
        flat = frames.materialize(infer.annotate_pages_flat(pages))
        for trial in range(4):
            rows = _fixture_dictionary(trial)
            links, dictionary = _fused_equals_reference(
                spark, pages, flat, rows
            )
            methods |= {m for *_, m in links}
            dic = _normalized(rows)
            tied |= any(
                len({c for score, c in _fuzzy_scores(s, st, dic)
                     if score == best}) > 1
                for s, st, _, best, m in links if m == "broadcast"
            )
            merged |= any(
                dictionary.canonical[c] != c for _, _, c, _, _ in links
            )
    assert methods == {"exact", "broadcast"}
    assert tied and merged


def test_fused_canonical_ids_match_reference_in_document_mode(spark):
    """Document-mode extraction resolves the same ids as the composition."""
    pages = fixtures.pages_df(spark, 60, seed=11).repartition(16)
    with frames.scope():
        flat = frames.materialize(
            infer.annotate_pages_flat(pages, mode="document")
        )
        _fused_equals_reference(
            spark, pages, flat, _fixture_dictionary(0), "document"
        )
