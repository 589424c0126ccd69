"""Deterministic synthetic transcript generation (FIXTURES.md §1-2).

Builds the `transcripts(conv_id, turn_idx, role, text, tool, ts)` table
from the reference's golden sample texts (its `__main__` smoke blocks are
the de facto spec — SURVEY.md §5) plus seeded filler. Includes, per the
fixture recipe:

* a hot conversation with ~100x the median turn count (skew path),
* duplicate entity mentions with corporate suffixes ("Apple Inc." vs
  "Apple") to exercise normalization/canonicalization,
* shuffled on-disk row order (the stable-ordering invariant).

No wall-clock anywhere: timestamps are a fixed epoch + turn offsets, and
the shuffle is seeded.
"""

from __future__ import annotations

import datetime as _dt
import random

from pyspark.sql import DataFrame, SparkSession

from ..schema import TRANSCRIPTS

# Golden corpus: reference smoke texts (FIXTURES.md §2). Keys are stable
# conversation ids; values are the per-turn sentences.
GOLDEN_TEXTS: dict[str, list[str]] = {
    # nlp_engine.py:239
    "g1": [
        "Apple Inc. released the iPhone in 2007 for $599.",
        "The product sold 1 million units at the launch event.",
    ],
    # relationship_logic.py:461-465
    "g2": [
        "Apple was founded in 1976 by Steve Jobs.",
        "The company is headquartered in Cupertino, California.",
        "In 2007, Apple released the iPhone for $599.",
        "The product sold 1 million units.",
        "Tim Cook is the CEO of Apple.",
        "Microsoft competes with Apple in the tech industry.",
    ],
    # event_extraction.py:205-208
    "g3": ["Apple acquired Beats for $3 billion in 2014."],
    "g4": ["Google launched Android in 2008."],
    "g5": ["Tim Cook was named CEO of Apple in 2011."],
    "g6": ["Microsoft raised $1 billion in Series B funding last year."],
    # backend/README.md worked examples
    "g7": ["Amazon was founded by Jeff Bezos in Seattle."],
    "g8": ["Amazon produces devices such as Kindle, Echo, and Fire TV."],
    "g9": ["Amazon competes with companies like Microsoft, Google, and Alibaba."],
    "g10": [
        "Steve Jobs was CEO of Apple.",
        "Tim Cook is CEO of Apple.",
    ],
    # negatives (semantic_validator.py:201-206 and dead-rule paths)
    "g11": ["Steve Jobs founded Bill Gates."],
    "g12": [
        "Satya Nadella and Microsoft appeared at the meeting.",
        "Sundar Pichai owns a Pixel.",
    ],
    # suffix/canonicalization exercise
    "g13": [
        "Apple Inc. is headquartered in Cupertino.",
        "Tesla Corp. competes with Ford Motors in Texas.",
    ],
    # rule-path widening (round 1): R2 hq/based tiers, R3 developed/
    # manufactures tiers, R1 EMPLOYED_BY indicator, SVO-only predicate
    "g14": ["Apple is headquartered in Cupertino."],
    "g15": ["Microsoft is based in Redmond."],
    "g16": ["Google developed Android."],
    "g17": ["Tim Cook works at Apple."],
    "g18": ["Apple collaborates with Microsoft."],
    "g19": ["Sony manufactures the PlayStation."],
    # EV6 location + dual R2/R3 firing in one sentence
    "g20": ["Apple launched the iPhone in Cupertino."],
    # D1 dual-key survival: R3 RELEASED and R4 list-PRODUCES share the
    # (org, product) pair but differ in type -> BOTH survive, both carry
    # the sentence date (reference relationship_logic.py:360-408)
    "g21": ["Apple released products such as the iPhone in 2007."],
    # R1 80-char distance gate: 'ceo of' present but 107/124 chars from
    # the person/org -> every indicator fails, no triple at all
    # (reference relationship_logic.py:168-171)
    "g22": [
        "The ceo of one regional division spoke at length about quarterly "
        "strategy and emerging markets, and afterwards Tim Cook thanked Microsoft."
    ],
}

# Filler sentence templates for bulk conversations. Vocabulary is chosen
# so the extraction rules have work to do at every scale.
_PEOPLE = ["Tim Cook", "Jeff Bezos", "Satya Nadella", "Sundar Pichai", "Lisa Su", "Jensen Huang"]
_ORGS = ["Apple", "Microsoft", "Google", "Amazon", "Nvidia", "Intel", "Oracle", "Samsung"]
_GPES = ["Seattle", "Cupertino", "Redmond", "California", "Tokyo", "London"]
_PRODUCTS = ["iPhone", "Android", "Surface", "Pixel", "Azure", "Xbox"]

_TEMPLATES = [
    "{person} is the CEO of {org}.",
    "{org} is headquartered in {gpe}.",
    "{org} released the {product} in {year} for ${price}.",
    "{org} competes with companies like {org2} and {org3}.",
    "{person} founded {org} in {gpe}.",
    "{org} acquired {org2} for ${price} million in {year}.",
    "The team reviewed the quarterly report together.",
    "{org} produces devices such as {product} and {product2}.",
    "{person} was named CEO of {org} in {year}.",
    "The meeting covered roadmap items and nothing else.",
]

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)


def _filler_sentence(rng: random.Random) -> str:
    t = rng.choice(_TEMPLATES)
    orgs = rng.sample(_ORGS, 3)
    products = rng.sample(_PRODUCTS, 2)
    return t.format(
        person=rng.choice(_PEOPLE),
        org=orgs[0],
        org2=orgs[1],
        org3=orgs[2],
        gpe=rng.choice(_GPES),
        product=products[0],
        product2=products[1],
        year=rng.randint(1995, 2024),
        price=rng.randint(1, 999),
    )


def golden_rows() -> list[tuple[str, int, str, str, str, _dt.datetime]]:
    rows = []
    for conv_id, turns in GOLDEN_TEXTS.items():
        for idx, text in enumerate(turns):
            role = "user" if idx % 2 == 0 else "assistant"
            ts = _EPOCH + _dt.timedelta(seconds=idx)
            rows.append((conv_id, idx, role, text, "", ts))
    return rows


def synth_rows(
    n_convs: int = 50,
    turns_per_conv: int = 8,
    hot_conv_factor: int = 100,
    seed: int = 42,
) -> list[tuple[str, int, str, str, str, _dt.datetime]]:
    """Golden conversations + seeded filler + one hot (skewed) conversation.

    The returned list is shuffled (seeded) so on-disk order never matches
    turn order — the assembly operator must restore it.
    """
    rng = random.Random(seed)
    rows = golden_rows()
    for c in range(n_convs):
        conv_id = f"conv-{c:05d}"
        n_turns = turns_per_conv * (hot_conv_factor if c == 0 else 1)
        for idx in range(n_turns):
            role = ("user", "assistant", "tool")[idx % 3]
            tool = "search" if role == "tool" else ""
            ts = _EPOCH + _dt.timedelta(seconds=idx)
            rows.append((conv_id, idx, role, _filler_sentence(rng), tool, ts))
    rng.shuffle(rows)
    return rows


def synth_transcripts(spark: SparkSession, **kwargs) -> DataFrame:
    return spark.createDataFrame(synth_rows(**kwargs), schema=TRANSCRIPTS)


def golden_transcripts(spark: SparkSession, shuffled: bool = True) -> DataFrame:
    rows = golden_rows()
    if shuffled:
        random.Random(7).shuffle(rows)
    return spark.createDataFrame(rows, schema=TRANSCRIPTS)


# Hand-derived complete (document, subj, pred, obj) triple set the
# reference's rule semantics emit over GOLDEN_TEXTS — the P/R ground
# truth (BASELINE.json metric). Single source of truth: the P/R test
# (tests/test_metrics.py) and the driver-contract kg_triples oracle
# (__spark_entry__.py) both read THIS set, so they cannot drift apart.
GOLDEN_EXPECTED_TRIPLES: frozenset[tuple[str, str, str, str]] = frozenset({
    ("g2", "Steve Jobs", "FOUNDED", "Apple"),
    ("g2", "Apple", "RELEASED", "iPhone"),
    ("g2", "Tim Cook", "CEO_OF", "Apple"),
    ("g2", "Microsoft", "COMPETES_WITH", "Apple"),
    ("g3", "Apple", "ACQUIRED", "Beats"),
    ("g4", "Google", "RELEASED", "Android"),
    ("g5", "Tim Cook", "CEO_OF", "Apple"),
    ("g7", "Jeff Bezos", "FOUNDED", "Amazon"),
    ("g7", "Amazon", "LOCATED_IN", "Seattle"),
    ("g8", "Amazon", "PRODUCES", "Kindle"),
    ("g8", "Amazon", "PRODUCES", "Fire TV"),
    ("g9", "Amazon", "COMPETES_WITH", "Microsoft"),
    ("g9", "Amazon", "COMPETES_WITH", "Google"),
    ("g9", "Amazon", "COMPETES_WITH", "Alibaba"),
    ("g10", "Steve Jobs", "CEO_OF", "Apple"),
    ("g10", "Tim Cook", "CEO_OF", "Apple"),
    ("g13", "Ford Motors", "LOCATED_IN", "Texas"),
    ("g14", "Apple", "HEADQUARTERED_IN", "Cupertino"),
    ("g15", "Microsoft", "LOCATED_IN", "Redmond"),
    ("g15", "Microsoft", "HEADQUARTERED_IN", "Redmond"),
    ("g16", "Google", "DEVELOPS", "Android"),
    ("g17", "Tim Cook", "EMPLOYED_BY", "Apple"),
    ("g18", "Apple", "COLLABORATES_WITH", "Microsoft"),
    ("g19", "Sony", "PRODUCES", "PlayStation"),
    ("g20", "Apple", "RELEASED", "iPhone"),
    ("g20", "Apple", "LOCATED_IN", "Cupertino"),
    ("g21", "Apple", "RELEASED", "iPhone"),
    ("g21", "Apple", "PRODUCES", "iPhone"),
})


# Hand-derived complete event set (EV1-EV6 semantics) over GOLDEN_TEXTS:
# (document, event_type, name, participants '|'-joined, date, amount,
# location, confidence). Shared by tests/test_metrics.py and the
# kg_events driver-contract oracle.
GOLDEN_EXPECTED_EVENTS: frozenset[tuple] = frozenset({
    ("g1", "ProductLaunch", "Apple product launch", "Apple|iPhone", "2007", "$599", None, 0.7),
    ("g2", "ProductLaunch", "iPhone product launch", "iPhone", "2007", "$599", None, 0.7),
    ("g3", "Acquisition", "Apple acquires Beats", "Apple|Beats", "2014", "$3 billion", None, 0.7),
    ("g4", "ProductLaunch", "Google product launch", "Google|Android", "2008", None, None, 0.7),
    ("g5", "LeadershipChange", "Tim Cook joins Apple", "Tim Cook|Apple", "2011", None, None, 0.7),
    ("g6", "FundingRound", "Microsoft funding round", "Microsoft", "last year", "$1 billion", None, 0.7),
    ("g20", "ProductLaunch", "Apple product launch", "Apple|iPhone", None, None, "Cupertino", 0.7),
    ("g21", "ProductLaunch", "Apple product launch", "Apple|iPhone", "2007", None, None, 0.7),
})
