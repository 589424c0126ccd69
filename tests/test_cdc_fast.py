"""cdc_chunks_fast — the FastCDC-style rolling-hash kernel (the 100 TB
chunking path; `cdc_chunks` stays the SQL-oracle twin). Pins:

* boundary parity between the vectorized numpy convolution and an
  independent per-position pure-Python twin;
* reassembly (chunks concatenate back to the document, starts are
  contiguous) and the min/max clamps;
* insertion stability — an edit reshapes only the chunks around it;
* a 2M-char single document runs through the Spark kernel (the input
  shape the expression version cannot take: it would build a 2M-element
  array and 2M md5 calls inside one row's expression eval).
"""

import hashlib

import numpy as np
import pytest

from corpus_ops.packing import (
    _cdc_cut_points,
    cdc_chunks_fast,
    cdc_chunks_fast_local,
)


def _synth_text(seed: str, n: int, unicode_every: int = 0) -> str:
    """Deterministic pseudo-random text from a chained md5 (no RNG)."""
    out: list[str] = []
    total = 0
    h = seed.encode()
    while total < n:
        h = hashlib.md5(h).digest()
        block = h.hex()
        out.append(block)
        total += len(block)
    s = "".join(out)[:n]
    if unicode_every:
        chars = list(s)
        for i in range(unicode_every, n, unicode_every):
            chars[i] = "漢é🌍"[i % 3]
        s = "".join(chars)
    return s


def _cuts_vectorized(text: str, **kw) -> list[int]:
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    return _cdc_cut_points(
        cps,
        kw.get("window", 16),
        kw.get("target_len", 64),
        kw.get("min_len", 16),
        kw.get("max_len", 256),
    )


def test_kernel_matches_pure_python_twin():
    for seed, n in [("a", 500), ("b", 4096), ("c", 10_000)]:
        text = _synth_text(seed, n, unicode_every=97)
        twin = cdc_chunks_fast_local(text, window=16, target_len=64, min_len=16, max_len=256)
        cuts = _cuts_vectorized(text)
        starts = [0] + cuts
        assert [s for _, s, _ in twin] == starts
        assert "".join(t for _, _, t in twin) == text


def test_reassembly_and_clamps():
    text = _synth_text("reassembly", 20_000)
    chunks = cdc_chunks_fast_local(text, target_len=64)  # clamps 16 / 256
    assert "".join(c for _, _, c in chunks) == text
    # contiguous starts
    pos = 0
    for _, s, t in chunks:
        assert s == pos
        pos += len(t)
    lens = [len(t) for _, _, t in chunks]
    assert all(l <= 256 for l in lens)
    assert all(l >= 16 for l in lens[:-1])  # final chunk may be short
    mean = sum(lens) / len(lens)
    assert 16 <= mean <= 256  # expected ≈ target, bounded by the clamps


def test_insertion_stability():
    """The CDC property: inserting a few characters reshapes the chunks
    AROUND the edit; chunks past the resync point are byte-identical
    (same hashes, shifted starts). Fixed-width chunking would change
    every downstream chunk."""
    text = _synth_text("stability", 50_000)
    edited = text[:1000] + "INSERTED!!" + text[1000:]
    a = cdc_chunks_fast_local(text, target_len=64)
    b = cdc_chunks_fast_local(edited, target_len=64)
    ha = [hashlib.md5(t.encode()).hexdigest() for _, _, t in a]
    hb = [hashlib.md5(t.encode()).hexdigest() for _, _, t in b]
    from collections import Counter

    diff = Counter(ha) - Counter(hb) + (Counter(hb) - Counter(ha))
    n_changed = sum(diff.values())
    assert n_changed <= 16, f"{n_changed} chunks changed of {len(ha)}"
    assert len(ha) > 500  # the bound is meaningful
    # and the shared tail is in-order identical, just offset by the edit
    assert ha[-100:] == hb[-100:]


def test_spark_kernel_two_megachar_doc(spark):
    """The scale shape the expression twin cannot take: one 2M-char
    document chunked through mapInArrow — no len-sized SQL array, no
    2M md5 probe calls. Also covers the Spark wiring (schema, id
    passthrough, multi-doc batches) against the local twin."""
    big = _synth_text("big", 2_000_000)
    small = _synth_text("small", 3_000)
    df = spark.createDataFrame(
        [(1, big), (2, small), (3, None), (4, "")], "doc_id bigint, text string"
    )
    out = cdc_chunks_fast(df).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}  # NULL/empty docs emit nothing
    for did, text in [(1, big), (2, small)]:
        rows = sorted(by_doc[did], key=lambda r: r["chunk_idx"])
        assert "".join(r["chunk_text"] for r in rows) == text
        twin = cdc_chunks_fast_local(text)
        assert [(r["chunk_idx"], r["chunk_start"]) for r in rows] == [
            (i, s) for i, s, _ in twin
        ]
        for r in rows[:5]:
            assert r["chunk_hash"] == hashlib.md5(r["chunk_text"].encode()).hexdigest()
    assert len(by_doc[1]) >= 2_000_000 // 256  # max_len bounds chunk count below


def test_degenerate_content():
    """All-same-character documents: the windowed Gear hash is constant
    past the warm-up, so positions are either all candidates or none —
    both must still produce clamped, reassemblable chunks (forced cuts
    at max_len in the no-candidate case, min_len spacing in the
    all-candidate case)."""
    for ch in ["a", "é", " "]:
        text = ch * 5000
        chunks = cdc_chunks_fast_local(text, target_len=64)  # clamps 16/256
        assert "".join(t for _, _, t in chunks) == text
        lens = [len(t) for _, _, t in chunks]
        assert all(16 <= l <= 256 for l in lens[:-1])
        assert len(set(lens[1:-1])) <= 1  # steady state: constant stride
    # document shorter than min_len: one chunk, unchanged
    assert cdc_chunks_fast_local("abc", target_len=64) == [(0, 0, "abc")]


def test_rejects_bad_clamps(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        cdc_chunks_fast(df, min_len=100, target_len=64)
