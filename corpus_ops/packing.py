"""Sequence packing for training-data pipelines: assign documents to
fixed-token-budget bins (the pretraining "sample packing" step that turns
a ragged corpus into uniform training sequences).

Greedy first-fit packing is inherently sequential, so the distributed
form is contiguous-fill WITHIN SHARDS: documents are deterministically
sharded, ordered inside each shard, and a running token total assigns
each document a bin = floor(preceding_tokens / max_tokens) and an offset
inside that bin. Every step is a column expression or a PER-SHARD window
— no corpus-global sort, no driver loop — and the whole computation is
ANSI-SQL-expressible, so a SQL engine can replay it as a value oracle.

Scale shape: the only window partitions by shard; choose n_shards ~
(corpus tokens / executor-memory budget) so per-shard state is bounded.
Packing quality: contiguous fill wastes at most one document's tokens
per bin boundary (documents straddle boundaries, as in standard
pretraining packing where sequences are later split/truncated at the
token level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import token_count_col


def pack_documents(
    docs: DataFrame,
    max_tokens: int = 2048,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """docs -> (shard, bin, doc_id, n_tokens, bin_offset).

    ``shard = doc_id % n_shards`` (portable + deterministic), documents
    ordered by id within the shard; ``bin_offset`` is where the document
    starts inside its bin's token budget.
    """
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count_col(F.col(text_col)).alias("n_tokens"),
    ).withColumn("shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return t.select(
        "shard",
        F.floor(before / max_tokens).cast("bigint").alias("bin"),
        "doc_id",
        "n_tokens",
        F.pmod(before, F.lit(max_tokens)).cast("bigint").alias("bin_offset"),
    )


def pack_stats(packed: DataFrame, max_tokens: int = 2048) -> DataFrame:
    """Per-(shard, bin) packing summary: docs packed, tokens filled, and
    fill ratio against the budget — the packing-efficiency monitor."""
    return packed.groupBy("shard", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.round(F.sum("n_tokens") / F.lit(max_tokens), 4).alias("fill_ratio"),
    )


def shard_assign(
    docs: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
    salt: str = "kgb",
) -> DataFrame:
    """Deterministic training-shard assignment: shard = the first 32
    bits of md5('<doc_id>:<salt>') mod n_shards. Unlike hash-partition
    numbers, the md5 bucket is a portable row-level fact (same shard in
    every engine and on every run), so shard manifests are reproducible
    and a resumed run appends to exactly the same shards.

    Scale shape: pure column math fused into the scan — the actual
    write is `df.repartition(n_shards, "shard").write.partitionBy("shard")`,
    one shuffle keyed by the (uniform, salt-balanced) shard id.
    """
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8),
        16, 10,
    ).cast("long")
    return docs.withColumn("shard", F.pmod(bucket, F.lit(n_shards)).cast("int"))


def shard_manifest(
    sharded: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-shard manifest (n_docs, n_chars, n_tokens) — the sidecar a
    100 TB shard writer emits for loader-side balancing checks. One
    partial-aggregable groupBy; char/token sums shuffle as scalars."""
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(F.col(text_col))).alias("n_chars"),
        F.sum(token_count_col(F.col(text_col))).alias("n_tokens"),
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split each document into overlapping fixed-width character windows
    — the context-window chunking step of a retrieval/training pipeline
    (chunk i starts at i*(chunk_chars - overlap); the final chunk may be
    short). Emits (id, chunk_idx, chunk_start, chunk_text); empty/NULL
    documents produce no chunks.

    Map-only: chunk starts come from ``sequence`` + ``posexplode`` and
    each chunk is a ``substring`` of the source row — no shuffle, no UDF,
    and the fan-out is bounded by len/stride per row, so a long document
    amplifies its own partition only (cap upstream with the pipeline's
    document length cap, not here).
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    t = F.col(text_col)
    starts = F.sequence(F.lit(0), F.length(t) - 1, F.lit(stride))
    exploded = docs.filter(t.isNotNull() & (F.length(t) > 0)).select(
        F.col(id_col),
        t.alias("_text"),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    return exploded.select(
        id_col,
        "chunk_idx",
        "chunk_start",
        F.col("_text").substr(F.col("chunk_start") + 1, F.lit(chunk_chars)).alias("chunk_text"),
    )


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (FastCDC/LBFS-style): chunk boundaries
    fall where a rolling content hash of the trailing ``window`` chars
    hits 0 mod ``divisor`` — so an insertion or deletion only reshapes
    the chunks AROUND the edit instead of shifting every downstream
    fixed-width chunk (the property that makes chunk-level dedup work
    across near-identical documents; expected chunk length ≈ divisor).

    Emits (id, chunk_idx, chunk_start, chunk_text, chunk_hash). Map-only
    and fully JVM-side: boundary candidates come from a per-row
    ``filter`` over position indices (each probes one fixed-``window``
    substring — O(len·window) per row, no per-row Python), and chunks
    are ``zip_with`` slices between consecutive boundaries. The hash is
    md5-derived (engine-portable, so the DuckDB oracle replays the exact
    boundary rule). Documents shorter than ``window`` are one chunk.

    Production knobs deliberately NOT implemented here: min/max chunk
    clamps (FastCDC's normalization) make the boundary rule stateful in
    the scan position; at that point the kernel moves to ``mapInArrow`` —
    which is exactly what ``cdc_chunks_fast`` below does. THIS version is
    the oracle-portable twin (DuckDB replays the md5 rule exactly); its
    probe is O(len·window) hash work with a len-sized index array per
    row, so the 100 TB path is ``cdc_chunks_fast``.
    """
    t = F.col(text_col)
    length = F.length(t)
    empty_b = F.array().cast("array<int>")
    probe = lambda i: (
        F.conv(F.substring(F.md5(t.substr(i - window + 1, F.lit(window))), 1, 8), 16, 10)
        .cast("long") % divisor == 0
    )
    bounds = F.when(length < window, empty_b).otherwise(
        F.filter(F.sequence(F.lit(window), length), probe).cast("array<int>")
    )
    one = F.lit(1).cast("int")
    starts = F.concat(F.array(one), F.transform(bounds, lambda b: b + one))
    ends = F.concat(bounds, F.array(length.cast("int")))
    chunks = F.zip_with(starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e")))
    exploded = (
        docs.filter(t.isNotNull() & (length > 0))
        .select(F.col(id_col), t.alias("_text"), F.posexplode(chunks).alias("chunk_idx", "c"))
        # a boundary exactly at the end of the text yields a trailing
        # empty (s > e) pseudo-chunk — drop it
        .filter(F.col("c.e") >= F.col("c.s"))
    )
    chunk_text = F.col("_text").substr(F.col("c.s"), F.col("c.e") - F.col("c.s") + one)
    return exploded.select(
        id_col,
        "chunk_idx",
        (F.col("c.s") - 1).alias("chunk_start"),
        chunk_text.alias("chunk_text"),
        F.md5(chunk_text).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# FastCDC-style rolling-hash chunking — the 100 TB path (O(len) per doc,
# O(1) per-position state, min/max clamps). `cdc_chunks` above stays as
# the SQL-oracle-portable twin; this kernel is pinned by a pure-Python
# reference twin + property tests (reassembly, clamps, insertion
# stability, a 2M-char document).
# ---------------------------------------------------------------------------

_GEAR_CACHE: dict = {}


def _gear_table():
    """256-entry Gear table (FastCDC, Xia et al. FAST'16): one 64-bit
    pseudo-random word per byte value, derived from md5 so the table is
    deterministic across processes/versions — no RNG, no pickled state."""
    import hashlib

    import numpy as np

    t = _GEAR_CACHE.get("gear")
    if t is None:
        t = np.array(
            [int(hashlib.md5(bytes([b])).hexdigest()[:16], 16) for b in range(256)],
            dtype=np.uint64,
        )
        _GEAR_CACHE["gear"] = t
    return t


def _mix64(x):
    """murmur3-style finalizer over a uint64 numpy array (wraps mod 2^64).
    The windowed Gear sum leaves low bits dominated by the most recent
    characters; mixing spreads every window position into the modulus."""
    import numpy as np

    x = x ^ (x >> np.uint64(33))
    x = x * np.uint64(0xFF51AFD7ED558CCD)
    return x ^ (x >> np.uint64(33))


def _cdc_cut_points(cps, window: int, divisor: int, min_len: int, max_len: int) -> list[int]:
    """Cut positions (1-indexed chunk END offsets, final chunk implicit)
    for a uint32 codepoint array.

    The windowed Gear hash H(i) = sum_{k<window} G[cp(i-k)] << k (mod
    2^64) is computed for EVERY position with `window` vectorized
    shift-adds — O(len·window/simd) numpy work, O(1) Python objects, no
    len-sized per-row SQL array. A position is a boundary CANDIDATE when
    mix64(H) % divisor == 0 (expected spacing = divisor chars); the
    FastCDC min/max clamp walk then picks, per chunk, the first candidate
    >= start+min_len, forcing a cut at start+max_len when no candidate
    lands in the window. The walk is O(n_chunks·log n_candidates)."""
    import numpy as np

    n = int(cps.shape[0])
    g = _gear_table()[cps & np.uint32(0xFF)]
    h = g.copy()
    for k in range(1, min(window, 64)):
        h[k:] += g[:-k] << np.uint64(k)
    cand = np.nonzero(_mix64(h) % np.uint64(divisor) == 0)[0] + 1
    cuts: list[int] = []
    pos = 0
    while n - pos > max_len:
        j = int(np.searchsorted(cand, pos + min_len))
        if j < cand.shape[0] and int(cand[j]) <= pos + max_len:
            pos = int(cand[j])
        else:
            pos = pos + max_len
        cuts.append(pos)
    return cuts


def _cdc_fast_kernel(window: int, divisor: int, min_len: int, max_len: int, id_type):
    import hashlib

    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_id, out_idx, out_start, out_text, out_hash = [], [], [], [], []
            for did, text in zip(ids, texts):
                if not text:
                    continue
                cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
                cuts = _cdc_cut_points(cps, window, divisor, min_len, max_len)
                starts = [0] + cuts
                ends = cuts + [len(text)]
                for ci, (s, e) in enumerate(zip(starts, ends)):
                    ct = text[s:e]
                    out_id.append(did)
                    out_idx.append(ci)
                    out_start.append(s)
                    out_text.append(ct)
                    out_hash.append(hashlib.md5(ct.encode("utf-8")).hexdigest())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, id_type),
                    pa.array(out_idx, pa.int32()),
                    pa.array(out_start, pa.int32()),
                    pa.array(out_text, pa.string()),
                    pa.array(out_hash, pa.string()),
                ],
                names=["doc_id", "chunk_idx", "chunk_start", "chunk_text", "chunk_hash"],
            )

    return kernel


def cdc_chunks_fast(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    target_len: int = 64,
    min_len: int | None = None,
    max_len: int | None = None,
) -> DataFrame:
    """Content-defined chunking, production shape: a ``mapInArrow``
    kernel computing windowed-Gear rolling-hash boundaries in O(len) per
    document with FastCDC min/max clamps (defaults target/4 and
    target·4). Same output schema as ``cdc_chunks``; the boundary RULE
    differs (Gear vs md5-window), which is the point — the md5 twin
    exists to be SQL-replayable, this kernel exists to chunk a 2M-char
    document without a 2M-element array or 2M md5 calls per row.

    Map-only (no shuffle): chunk fan-out amplifies only the document's
    own partition. Boundary candidates depend on exactly ``window``
    trailing characters, so an edit reshapes chunks only until the next
    shared candidate — the insertion-stability property chunk-level
    dedup needs (pinned by test)."""
    if min_len is None:
        min_len = max(target_len // 4, 1)
    if max_len is None:
        max_len = target_len * 4
    if not (0 < min_len <= target_len <= max_len):
        raise ValueError("need 0 < min_len <= target_len <= max_len")
    import pyarrow as pa

    spark_type = docs.schema[id_col].dataType.simpleString()
    arrow_id_type = {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "string": pa.string(),
    }.get(spark_type)
    if arrow_id_type is None:
        raise ValueError(f"unsupported id column type {spark_type!r}")
    return docs.select(F.col(id_col), F.col(text_col)).mapInArrow(
        _cdc_fast_kernel(window, target_len, min_len, max_len, arrow_id_type),
        schema=(
            f"doc_id {spark_type}, chunk_idx int, chunk_start int, "
            "chunk_text string, chunk_hash string"
        ),
    )


def cdc_chunks_fast_local(
    text: str,
    window: int = 16,
    target_len: int = 64,
    min_len: int | None = None,
    max_len: int | None = None,
) -> list[tuple[int, int, str]]:
    """Pure-Python reference twin of ``cdc_chunks_fast`` for ONE document:
    the windowed Gear hash is recomputed per position from scratch
    (O(len·window), independent of the kernel's vectorized convolution)
    and the clamp walk scans forward linearly. Test/oracle use only.
    Returns [(chunk_idx, chunk_start, chunk_text)]."""
    import hashlib

    if min_len is None:
        min_len = max(target_len // 4, 1)
    if max_len is None:
        max_len = target_len * 4
    gear = [int(hashlib.md5(bytes([b])).hexdigest()[:16], 16) for b in range(256)]
    M = (1 << 64) - 1

    def mix(x: int) -> int:
        x ^= x >> 33
        x = (x * 0xFF51AFD7ED558CCD) & M
        return x ^ (x >> 33)

    n = len(text)
    is_cand = []
    for i in range(n):
        h = 0
        for k in range(min(window, 64)):
            if i - k < 0:
                break
            h = (h + (gear[ord(text[i - k]) & 0xFF] << k)) & M
        is_cand.append(mix(h) % target_len == 0)
    cuts = []
    pos = 0
    while n - pos > max_len:
        nxt = None
        for c in range(pos + min_len, pos + max_len + 1):
            if c <= n and is_cand[c - 1]:
                nxt = c
                break
        pos = nxt if nxt is not None else pos + max_len
        cuts.append(pos)
    starts = [0] + cuts
    ends = cuts + [n]
    return [(i, s, text[s:e]) for i, (s, e) in enumerate(zip(starts, ends))]
