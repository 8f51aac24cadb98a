"""Synthetic UMLS/MedDRA-style concept dictionary (FIXTURES.md §3).

Shared vocabulary for the fixture corpus generator (jamie_spark.fixtures), the
deterministic stand-in tagger (jamie_spark.standin), and the entity-linking /
canonicalization stages. Tag set is the reference's 13-tag scheme
(reference ``data_objects.py:11-25`` ``tag2name``); modality families follow
``MOD_DICT`` (reference ``data_objects.py:6-10``).

All content is static and deterministic — no RNG here.
"""

from __future__ import annotations

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
    column ``tag_col`` — the one tag -> sem_type mapping shared by the
    linking keys of ``pipeline.run_kg`` and the canonical join."""
    from pyspark.sql import functions as F

    tag2sem = F.create_map(
        *[F.lit(x) for pair in TAG2NAME.items() for x in pair]
    )
    return tag2sem[F.col(tag_col)]


def dictionary_rows(concept_dict) -> list:
    """The one driver collect of a concept dictionary: (concept_id, alias,
    sem_type) rows for ``link.link_against`` and ``canon.canonical_map``."""
    return concept_dict.select("concept_id", "alias", "sem_type").collect()


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
