"""Seeded corpus generators for the benchmark workloads and their warm-ups.

Every corpus is written to parquet with the ``transcripts`` schema before
any timing starts; the program under test only ever sees these files.
The same seed gives byte-identical files.

* ``vocab``  — a fixed combinatorial TitleCase vocabulary (>= 10^5
  distinct names, every fifth base name also present as an alias that adds
  one token) placed into slots of a fixed template cycle. The seed only
  permutes which name lands in which slot and which turns form a
  conversation, so the node count does not depend on the seed (the edge
  count does, slightly: it follows which names share a sentence and a
  conversation). One hot conversation holds 10% of the turns.
* ``stream`` — complete conversations of today's bench corpus shape (8
  turns drawn from the fixed 1,024-sentence pool that
  ``bench.synth_transcripts_distributed`` uses: ``random.Random(42)`` over
  the filler templates; no hot conversation) dealt round-robin into many
  small parquet files, for an availableNow file stream.

The sentence pool is copied here on purpose: the benchmark's inputs must
not move when the package's own test fixtures do.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TURNS_PER_CONV = 8

# ----------------------------------------------------------- sentence pool

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
POOL_SIZE = 1024


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


def sentence_pool() -> list[str]:
    rng = random.Random(42)
    return [_filler_sentence(rng) for _ in range(POOL_SIZE)]


# -------------------------------------------------------- vocabulary corpus

_ONSETS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_CODAS = "lnrstx"
# consonant-first six-letter tokens: never a month, stop word or gazetteer
# entry, always matched by the kernel's capitalized-run ORG fallback
_TOKENS = [
    (a + v + c + b + w + d).capitalize()
    for a in _ONSETS for v in _VOWELS for c in _CODAS
    for b in _ONSETS for w in _VOWELS for d in _CODAS
]
VOCAB_BASE = 85_000
VOCAB_FIRST = 40_000  # size of the first- and second-token inventories
ALIAS_EVERY = 5  # every fifth base name also occurs with one added token
VOCAB_HOT_SHARE = 0.10  # of all turns, in one conversation
VOCAB_FILES = 4

_VOCAB_TEMPLATES = [
    ("{0} competes with companies like {1} and {2}.", 3),
    ("{0} acquired {1} for ${p} million in {y}.", 2),
    ("{0} competes with companies like {1}, {2}, and {3}.", 4),
    ("{0} competes with companies like {1} and {2}.", 3),
    ("{0} is headquartered in {gpe}.", 1),
    ("{0} competes with companies like {1}, {2}, and {3}.", 4),
    ("{0} acquired {1} for ${p} million in {y}.", 2),
    ("{0} released the {product} in {y} for ${p}.", 1),
]


def vocabulary(n_base: int = VOCAB_BASE) -> list[str]:
    """Fixed vocabulary: base names 'First Second' plus alias variants
    'First Second Third'. Independent of the run seed. Tokens come from
    a large inventory (each occurs in a handful of names), so
    canonicalization's token blocks stay small and its candidate pairs are
    mostly real alias pairs. A smaller ``n_base`` gives a prefix of the
    same base names and their aliases."""
    rng = random.Random(7)
    tokens = rng.sample(_TOKENS, 2 * VOCAB_FIRST + VOCAB_BASE // ALIAS_EVERY)
    firsts, seconds = tokens[:VOCAB_FIRST], tokens[VOCAB_FIRST : 2 * VOCAB_FIRST]
    thirds = tokens[2 * VOCAB_FIRST :]
    seen: set[str] = set()
    base: list[str] = []
    while len(base) < n_base:
        name = f"{rng.choice(firsts)} {rng.choice(seconds)}"
        if name not in seen:
            seen.add(name)
            base.append(name)
    aliases = [f"{b} {thirds[i // ALIAS_EVERY]}" for i, b in enumerate(base) if i % ALIAS_EVERY == 0]
    return base + aliases


# ------------------------------------------------------------------ writing

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
_EPOCH = _dt.datetime(2023, 11, 14, 22, 13, 20, tzinfo=_dt.timezone.utc)
_ROLES = ("user", "assistant", "tool")


def _table(rows: list[tuple[str, int, str]]) -> pa.Table:
    """rows of (conv_id, turn_idx, text) -> transcripts table."""
    return pa.Table.from_pydict(
        {
            "conv_id": [r[0] for r in rows],
            "turn_idx": [r[1] for r in rows],
            "role": [_ROLES[i % 3] for i in range(len(rows))],
            "text": [r[2] for r in rows],
            "tool": [""] * len(rows),
            "ts": [_EPOCH + _dt.timedelta(seconds=i) for i in range(len(rows))],
        },
        schema=_SCHEMA,
    )


def gen_vocab(out_dir: str, seed: int, n_base: int = VOCAB_BASE) -> dict:
    names = vocabulary(n_base)
    rng = random.Random(seed)
    order = names[:]
    rng.shuffle(order)
    texts: list[str] = []
    fixed: set[str] = set()  # city and product names the templates add
    pos = 0
    k = 0
    while pos < len(order):
        tmpl, width = _VOCAB_TEMPLATES[k % len(_VOCAB_TEMPLATES)]
        slot = order[pos : pos + width]
        if len(slot) < width:  # tail: pad from the start, names stay distinct per sentence
            slot += order[: width - len(slot)]
        gpe, product = _GPES[k % len(_GPES)], _PRODUCTS[k % len(_PRODUCTS)]
        fixed.update(x for key, x in (("{gpe}", gpe), ("{product}", product)) if key in tmpl)
        texts.append(
            tmpl.format(*slot, p=rng.randint(1, 999), y=rng.randint(1995, 2024), gpe=gpe, product=product)
        )
        pos += width
        k += 1
    hot = round(len(texts) * VOCAB_HOT_SHARE)
    # which turns form the hot conversation and the others is seeded too
    rng.shuffle(texts)
    rows = [("conv-hot", i, texts[i]) for i in range(hot)]
    rows += [(f"conv-{j // TURNS_PER_CONV}", j % TURNS_PER_CONV, t) for j, t in enumerate(texts[hot:])]
    rng.shuffle(rows)  # on-disk row order carries no clustering
    d = os.path.join(out_dir, "transcripts")
    os.makedirs(d, exist_ok=True)
    per = -(-len(rows) // VOCAB_FILES)
    for f in range(VOCAB_FILES):
        pq.write_table(_table(rows[f * per : (f + 1) * per]), os.path.join(d, f"part-{f:05d}.parquet"))
    return {
        "turns": len(texts),
        "conversations": len({r[0] for r in rows}),
        "hot_turns": hot,
        "hot_share": hot / len(texts),
        "distinct_names": len(names),
        "alias_names": len(names) - n_base,
        # every name is one node; canonicalization folds each alias into
        # its base name
        "expected_nodes": len(names) + len(fixed),
        "expected_components": len(names) + len(fixed) - (len(names) - n_base),
    }


def gen_stream(out_dir: str, seed: int, n_files: int, convs_per_file: int) -> dict:
    pool = sentence_pool()
    rng = random.Random(seed)
    n_convs = n_files * convs_per_file
    files: list[list[tuple[str, int, str]]] = [[] for _ in range(n_files)]
    for c in range(n_convs):
        for t in range(TURNS_PER_CONV):
            files[c % n_files].append((f"conv-{c}", t, pool[rng.randrange(POOL_SIZE)]))
    d = os.path.join(out_dir, "transcripts")
    os.makedirs(d, exist_ok=True)
    for f, rows in enumerate(files):
        pq.write_table(_table(rows), os.path.join(d, f"part-{f:05d}.parquet"))
    return {
        "turns": n_convs * TURNS_PER_CONV,
        "conversations": n_convs,
        "hot_turns": 0,
        "hot_share": 0.0,
        "files": n_files,
        "turns_per_file": convs_per_file * TURNS_PER_CONV,
    }


GENERATORS = {"vocab": gen_vocab, "stream": gen_stream}


def generate(kind: str, out_dir: str, seed: int, **kwargs) -> dict:
    """Write one corpus under ``out_dir`` and record its properties in
    ``out_dir/corpus.json``."""
    props = GENERATORS[kind](out_dir, seed, **kwargs)
    props.update({"kind": kind, "seed": seed})
    with open(os.path.join(out_dir, "corpus.json"), "w") as fh:
        json.dump(props, fh, sort_keys=True)
    return props
