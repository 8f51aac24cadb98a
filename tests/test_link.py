"""link.link_surfaces against a pure-Python reference on random dictionaries.

The reference states the linking contract without Spark: an exact hit on
``textnorm.zen_to_han(alias)`` within the surface's sem_type wins; otherwise
every same-sem_type alias is scored by Jaccard over distinct character
{1,2}-grams (the ``concepts.grams`` bounds) and kept at >= ``MIN_JACCARD``;
the top-1 is by score desc, then concept_id asc.
"""

import random

import pytest

from jamie_spark import concepts, link, textnorm

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
