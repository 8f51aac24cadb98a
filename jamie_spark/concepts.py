"""Synthetic UMLS/MedDRA-style concept dictionary (FIXTURES.md §3), and
:func:`prepare`, which turns any concept dictionary table into what the
entity-linking and canonicalization stages probe.

Shared vocabulary for the fixture corpus generator (jamie_spark.fixtures), the
deterministic stand-in tagger (jamie_spark.standin), and the entity-linking /
canonicalization stages. Tag set is the reference's 13-tag scheme
(reference ``data_objects.py:11-25`` ``tag2name``); modality families follow
``MOD_DICT`` (reference ``data_objects.py:6-10``).

All content is static and deterministic — no RNG here.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from .textnorm import zen_to_han

# tag -> human name, mirroring reference data_objects.py:11-25
TAG2NAME = {
    "d": "Disease",
    "a": "Anatomical",
    "f": "Feature",
    "c": "Change",
    "p": "Pending",
    "TIMEX3": "TIMEX3",
    "t-test": "TestTest",
    "t-key": "TestKey",
    "t-val": "TestVal",
    "cc": "ClinicalContext",
    "r": "Remedy",
    "m-key": "MedicineKey",
    "m-val": "MedicineVal",
}


def sem_type_of(tag_col: str):
    """Column: the semantic type (``TAG2NAME`` value) of the NER tag in
    column ``tag_col``, or null for a tag outside it — the join keys of
    ``graph.canonical_triples``; ``link.resolver`` maps tags the same way
    in Python."""
    from pyspark.sql import functions as F

    tag2sem = F.create_map(
        *[F.lit(x) for pair in TAG2NAME.items() for x in pair]
    )
    return tag2sem[F.col(tag_col)]


def grams(s: str) -> set:
    """Distinct 1-grams over max(len, 1) positions and 2-grams over
    max(len - 1, 1) positions (an empty string has the one gram ""): the
    grams the linking index posts aliases under and probes surfaces by."""
    n = len(s)
    return {s[i:i + 1] for i in range(max(n, 1))} | {
        s[i:i + 2] for i in range(max(n - 1, 1))
    }


def union_find(edges) -> dict[str, str]:
    """(a, b) pairs -> {vertex: lexicographic-min vertex of its component}.
    An edge with a null endpoint links nothing (as in SQL, and in the star
    path's ``u != v`` filter); its non-null endpoint still becomes a
    vertex."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            if v is not None:
                parent.setdefault(v, v)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@dataclass(frozen=True)
class Prepared:
    """A concept dictionary read once by :func:`prepare`.

    ``exact[(alias_norm, sem_type)]`` is the smallest concept_id of that
    alias, with ``alias_norm = textnorm.zen_to_han(alias)``;
    ``postings[(sem_type, gram)]`` lists ``(alias_norm, n_grams)`` once per
    distinct alias (:func:`grams`); ``canonical`` maps each concept_id to
    its canonical id; ``digest`` is the sha256 hex of the rows, whatever
    their order."""

    exact: dict
    postings: dict
    canonical: dict
    digest: str


def prepare(concept_dict) -> Prepared:
    """The one driver collect of a concept dictionary's (concept_id, alias,
    sem_type) rows, turned into the linking index, the canonical map and
    the content digest. A :class:`Prepared` argument is returned as is, so
    every stage that takes a dictionary takes either form."""
    if isinstance(concept_dict, Prepared):
        return concept_dict
    picked = concept_dict.select("concept_id", "alias", "sem_type")
    rows = [tuple(r) for r in picked.collect()]
    exact, postings = _index(rows)
    return Prepared(exact, postings, _canonical_ids(rows), _digest(rows))


def _index(rows) -> tuple[dict, dict]:
    """(exact, postings) of :class:`Prepared`. Concept ids with the same
    alias tie on every score, so the rerank only ever needs the smallest
    one. A row with a null concept_id, alias or sem_type is left out."""
    exact, postings = {}, {}
    for cid, alias, st in rows:
        if cid is None or alias is None or st is None:
            continue
        key = (zen_to_han(alias), st)
        if key in exact:
            exact[key] = min(exact[key], cid)
            continue
        exact[key] = cid
        gs = grams(key[0])
        entry = (key[0], len(gs))  # one object per alias: pickled once
        for g in gs:
            postings.setdefault((st, g), []).append(entry)
    return exact, postings


def _canonical_ids(rows) -> dict[str, str]:
    """concept_id -> canonical_id. Every row links alias<->concept_id, so
    aliases sharing a surface (cross-links, FIXTURES.md §3) merge their
    concepts, and an alias equal to another row's concept id is that
    vertex. Each concept maps to the min concept_id of its union-find
    component; a null alias links nothing and a null concept id maps
    nowhere."""
    comp = union_find((alias, cid) for cid, alias, _ in rows)
    concept_ids = {cid for cid, _, _ in rows if cid is not None}
    canonical: dict[str, str] = {}
    for c in concept_ids:
        root = comp[c]
        canonical[root] = min(c, canonical.get(root, c))
    return {c: canonical[comp[c]] for c in sorted(concept_ids)}


def _digest(rows) -> str:
    """sha256 hex over the rows as sorted JSON lines (a null field is JSON
    null), so the same rows read in another order give the same digest."""
    h = hashlib.sha256()
    for line in sorted(json.dumps(r, ensure_ascii=False) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


# modality label -> attribute family, mirroring reference data_objects.py:6-10
MOD_DICT = {
    "positive": "certainty",
    "suspicious": "certainty",
    "negative": "certainty",
    "general": "certainty",
    "executed": "state",
    "negated": "state",
    "scheduled": "state",
    "other": "state",
    "DATE": "type",
    "TIME": "type",
    "DURATION": "type",
    "CC": "type",
    "SET": "type",
    "AGE": "type",
    "MISC": "type",
}

DISEASES = [
    "肺癌", "胃癌", "大腸癌", "糖尿病", "高血圧", "肺炎", "心不全",
    "喘息", "貧血", "腎不全", "肝硬変", "脳梗塞", "白血病", "骨折",
]

ANATOMY = [
    "肺", "胃", "大腸", "心臓", "肝臓", "腎臓", "左肺", "右肺",
    "脳", "骨", "膵臓", "脾臓",
]

DRUGS = [
    "アスピリン", "インスリン", "ステロイド", "ワルファリン",
    "メトホルミン", "シスプラチン", "アムロジピン",
]

# TIMEX3 surface -> modality type label (MOD_DICT "type" family)
TIMES = {
    "昨日": "DATE",
    "本日": "DATE",
    "先週": "DATE",
    "2020年1月": "DATE",
    "2021年3月": "DATE",
    "午後3時": "TIME",
    "三日間": "DURATION",
    "70歳": "AGE",
}

TEST_KEYS = ["血圧", "体温", "血糖値", "心拍数"]

TEST_VALS = ["120mmHg", "36.5度", "98mgdl", "72bpm", "38.2度"]

#: DCT (document-creation-time) self-loop relation label vocabulary
#: (reference utils.py:687-691 parses DCT-Rel as a tail==head relation).
DCT_ON = "On"

# relation type vocabulary used by the fixture grammar
REL_REGION = "region"      # disease -> anatomy
REL_TIME = "timeOnset"     # disease -> TIMEX3
REL_VALUE = "value"        # t-val -> t-key


def surface_tag_pairs() -> list[tuple[str, str]]:
    """Every dictionary surface with its NER tag (for the stand-in tagger)."""
    pairs: list[tuple[str, str]] = []
    pairs += [(s, "d") for s in DISEASES]
    pairs += [(s, "a") for s in ANATOMY]
    pairs += [(s, "r") for s in DRUGS]
    pairs += [(s, "TIMEX3") for s in TIMES]
    pairs += [(s, "t-key") for s in TEST_KEYS]
    pairs += [(s, "t-val") for s in TEST_VALS]
    return pairs


# --- alias table for entity linking (N2-N4) --------------------------------

# concept_id is C{index:06d} over the canonical list below; aliases include
# width/kana variants so MinHash-LSH recall is exercised. A few deliberate
# cross-links merge concepts into known connected components (FIXTURES.md §4).

_ALIAS_VARIANTS = {
    "肺癌": ["肺がん", "肺ガン", "はいがん"],
    "胃癌": ["胃がん", "胃ガン"],
    "大腸癌": ["大腸がん", "結腸癌"],
    "糖尿病": ["ＤＭ", "とうにょうびょう"],
    "高血圧": ["高血圧症", "ＨＴ"],
    "肺炎": ["はいえん", "肺エン"],
    "心不全": ["ＨＦ", "心ふぜん"],
    "喘息": ["ぜんそく", "ゼンソク"],
    "貧血": ["ひんけつ"],
    "腎不全": ["腎ふぜん"],
    "肝硬変": ["ＬＣ"],
    "脳梗塞": ["のうこうそく", "脳こうそく"],
    "白血病": ["はっけつびょう"],
    "骨折": ["こっせつ"],
    "アスピリン": ["ａｓｐｉｒｉｎ", "アスピリン錠"],
    "インスリン": ["ｉｎｓｕｌｉｎ"],
    "ステロイド": ["ｓｔｅｒｏｉｄ"],
    "ワルファリン": ["ワーファリン"],
    "メトホルミン": ["ｍｅｔｆｏｒｍｉｎ"],
    "シスプラチン": ["ＣＤＤＰ"],
    "アムロジピン": ["アムロジン"],
}

# deliberate cross-links: (canonical_a, canonical_b) are the same real-world
# concept -> their alias groups must land in one connected component.
CROSS_LINKS = [
    ("肺癌", "肺ガン"),      # redundant (same group) — exercises idempotence
    ("高血圧", "ＨＴ"),      # redundant
    ("糖尿病", "ＤＭ"),      # redundant
    ("大腸癌", "結腸癌"),    # redundant
    ("心不全", "ＨＦ"),      # redundant
    ("ワルファリン", "ワーファリン"),
]

# merging cross-links between *different* concepts (known a-priori components)
MERGE_LINKS = [
    ("肺癌", "肺腫瘍"),     # 肺腫瘍 appears only as an alias surface
    ("胃癌", "胃腫瘍"),
]


def concept_rows() -> list[dict]:
    """Alias table rows: (concept_id, canonical, alias, sem_type).

    The canonical term itself is included as one alias row (standard UMLS
    shape). Extra surfaces from MERGE_LINKS are attached to their partner
    concept so the expected components are known a priori.
    """
    tag_of = dict(surface_tag_pairs())
    rows: list[dict] = []
    canonicals = DISEASES + DRUGS
    for idx, canonical in enumerate(canonicals):
        cid = f"C{idx + 1:06d}"
        sem = TAG2NAME[tag_of[canonical]]
        aliases = [canonical] + _ALIAS_VARIANTS.get(canonical, [])
        for extra_canon, extra_alias in MERGE_LINKS:
            if extra_canon == canonical:
                aliases.append(extra_alias)
        for alias in aliases:
            rows.append(
                {
                    "concept_id": cid,
                    "canonical": canonical,
                    "alias": alias,
                    "sem_type": sem,
                }
            )
    return rows
