"""Similarity search over embedding columns (array<float>).

Two paths:

* brute-force cosine top-k — exact baseline. The dot product/norms are
  built-in higher-order functions (aggregate/zip_with), JVM-side; top-k
  is a window or orderBy+limit. O(n) per query vector.
* LSH-bucketed (random hyperplane signatures) — the scale path: each
  vector gets a b-bit sign signature from fixed pseudo-random
  hyperplanes; candidates share a signature bucket (multi-probe via
  bands), then exact cosine re-ranks within buckets. Hyperplanes are
  generated from a seeded hash — no driver-side randomness, no UDF.

* IVF (inverted-file) — the trained scale path: a short deterministic
  Lloyd loop builds k centroids (per-iteration centroid collect +
  broadcast, the MLlib k-means pattern); queries probe only the n_probe
  nearest cells and rerank exactly inside them. Probing every cell is
  by construction identical to brute force (pinned by test + oracle).

At 100 TB: hyperplane LSH needs no training pass and its buckets shard
evenly; IVF scans fewer candidates per query once trained and its
assignment column doubles as a clustering of the corpus. Both are
provided; both rerank with exact JVM-side cosine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_col(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm_col(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_col(a, b):
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one query vector. Single scan + narrow
    top-k (Spark's orderBy+limit does a per-partition top-k then merges —
    no full sort at scale)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        F.col(id_col).alias("vec_id"),
        cosine_col(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from a seeded LCG —
    reproducible across sessions with no RNG state."""
    out = []
    state = (plane_idx * 2654435761 + 0x9E3779B9) & 0xFFFFFFFF
    for _ in range(dim):
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        out.append((state / 0xFFFFFFFF) * 2.0 - 1.0)
    return out


def signature_col(vec_col, dim: int, bits: int = 16):
    """b-bit random-hyperplane sign signature as a bit-string column."""
    parts = []
    for b in range(bits):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, b)])
        parts.append(F.when(dot_col(vec_col, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*parts)


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Approximate top-k: restrict the exact rerank to vectors sharing at
    least one signature band with the query, then cosine-sort."""
    dim = len(query_vec)
    vec = F.col(vec_col).cast("array<double>")
    signed = embeddings.select(
        F.col(id_col).alias("vec_id"), vec.alias("v"), signature_col(vec, dim, bits).alias("sig")
    )
    band_width = bits // bands

    # query signature computed driver-side with the same planes
    def _sign(vq):
        s = ""
        for b in range(bits):
            plane = _hyperplane(dim, b)
            s += "1" if sum(x * y for x, y in zip(vq, plane)) >= 0 else "0"
        return s

    qsig = _sign([float(x) for x in query_vec])
    q_bands = [qsig[b * band_width : (b + 1) * band_width] for b in range(bands)]

    cand_filter = F.lit(False)
    for b, qb in enumerate(q_bands):
        cand_filter = cand_filter | (F.substring("sig", b * band_width + 1, band_width) == qb)
    candidates = signed.filter(cand_filter)

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        candidates.select("vec_id", cosine_col(F.col("v"), q).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def _nearest_centroid_col(vec, centroids: list[list[float]]):
    """Index of the closest centroid (squared L2) as a column expression.
    Centroids ride along as array literals — broadcast by the closure, no
    join, evaluated inside codegen."""
    best_idx = F.lit(0)
    best_dist = None
    for i, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(vec, carr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        if best_dist is None:
            best_dist = d
        else:
            best_idx = F.when(d < best_dist, F.lit(i)).otherwise(best_idx)
            best_dist = F.least(d, best_dist)
    return best_idx


def ivf_train(
    embeddings: DataFrame,
    k_clusters: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd loop: seed centroids are the k lowest-id
    vectors' values (reproducible, no RNG); each iteration assigns every
    vector to its nearest centroid JVM-side and recomputes means via a
    posexplode + partial-aggregable avg. Per-iteration driver traffic is
    k*dim doubles — the broadcast-centroids pattern that scales to any
    corpus size (the corpus is never collected)."""
    vec = F.col(vec_col).cast("array<double>")
    seeds = (
        embeddings.select(F.col(id_col).alias("i"), vec.alias("v"))
        .orderBy("i")
        .limit(k_clusters)
        .collect()
    )
    centroids = [list(r["v"]) for r in seeds]
    for _ in range(iters):
        assigned = embeddings.select(
            _nearest_centroid_col(vec, centroids).alias("cluster"), vec.alias("v")
        )
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.transform("pm", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        new_centroids = list(centroids)  # empty cells keep their previous centroid
        for r in means:
            new_centroids[r["cluster"]] = list(r["centroid"])
        centroids = new_centroids
    return centroids


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster, v) — the inverted file. Persisted/partitioned by
    cluster in a real deployment so probes prune partitions."""
    vec = F.col(vec_col).cast("array<double>")
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        _nearest_centroid_col(vec, centroids).alias("cluster"),
        vec.alias("v"),
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: rank cells by driver-side distance to the query,
    scan only the n_probe nearest cells, exact cosine rerank inside them.
    n_probe == len(centroids) degenerates to exact brute force."""
    d2 = [
        (sum((x - y) ** 2 for x, y in zip(query_vec, c)), i)
        for i, c in enumerate(centroids)
    ]
    probes = [i for _, i in sorted(d2)[: max(1, n_probe)]]
    inv = ivf_assign(embeddings, centroids, id_col, vec_col)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        inv.filter(F.col("cluster").isin(probes))
        .select("vec_id", cosine_col(F.col("v"), q).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def all_pairs_topk(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Per-vector approximate k-NN across the corpus: bucket by signature
    band, pair within buckets, exact cosine, windowed top-k. The
    band-bucket join bounds the pair fan-out (vs the quadratic cross
    join), which is the whole game at corpus scale."""
    vec = F.col(vec_col).cast("array<double>")
    probe = embeddings.select(F.size(vec).alias("d")).limit(1).collect()
    if not probe:  # empty corpus -> empty result with the right shape
        return embeddings.select(
            F.col(id_col).alias("a"),
            F.col(id_col).alias("b"),
            F.lit(0.0).alias("cosine"),
            F.lit(0).alias("rank"),
        ).limit(0)
    dim = probe[0]["d"]
    signed = embeddings.select(
        F.col(id_col).alias("vec_id"), vec.alias("v"), signature_col(vec, dim, bits).alias("sig")
    )
    band_width = bits // bands
    banded = signed.select(
        "vec_id",
        "v",
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(b)), F.substring("sig", b * band_width + 1, band_width))
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    lhs = banded.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), "bucket")
    rhs = banded.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), "bucket")
    pairs = (
        lhs.join(rhs, "bucket")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b", cosine_col(F.col("va"), F.col("vb")).alias("cosine"))
        .dropDuplicates(["a", "b"])
    )
    w = Window.partitionBy("a").orderBy(F.col("cosine").desc(), F.col("b"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_embeddings(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: scale = max|v|/127,
    code_i = round(v_i / scale). Adds ``scale`` (double) and ``codes``
    (array<int> in [-127, 127]) — the 4x-smaller storage/transfer format
    for embedding corpora (dequantize as code*scale; at 100 TB the
    shuffle and cache savings pay for the bounded reconstruction error,
    |err| <= scale/2 per dimension).

    Map-only column math (higher-order functions, JVM-side): no shuffle,
    no UDF, whole-stage codegen keeps it in the scan stage. Zero vectors
    quantize to all-zero codes with scale 0 (guarded — ANSI mode makes
    bare division by zero an error, not a NaN).
    """
    v = F.col(vec_col)
    max_abs = F.aggregate(
        F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: F.greatest(a, x)
    )
    out = vectors.withColumn("scale", max_abs / F.lit(127.0))
    codes = F.when(
        F.col("scale") == 0.0, F.transform(v, lambda x: F.lit(0))
    ).otherwise(F.transform(v, lambda x: F.round(x / F.col("scale")).cast("int")))
    return out.withColumn("codes", codes)


def embedding_gramian_micro(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1e6,
) -> DataFrame:
    """One-pass Gramian G[i,j] = sum_x x_i * x_j over an embedding corpus
    — the primitive behind PCA/whitening/covariance (covariance =
    G/n - mean mean^T; the mean is a cheap d-row aggregate).

    Scale shape (the MLlib computeGramian pattern, not an explode): a
    ``mapInArrow`` kernel reduces each partition to ONE d*(d+1)/2-row
    upper-triangle partial via numpy outer products, so the shuffle is
    O(partitions * d^2) regardless of corpus size — never d^2 rows per
    vector. Per-product values are FLOOR-quantized to integer micro-units
    inside the kernel, which makes the final groupBy an order-independent
    integer sum: bit-exact across engines and partitionings (floor of a
    bit-identical double is bit-identical; round() half-rule differences
    between engines cannot bite).

    Returns (i, j, gram) with j >= i, gram = micro_sum / scale.
    """
    import pyarrow as pa

    d_probe = vectors.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not d_probe:
        return vectors.sparkSession.createDataFrame([], "i int, j int, gram double")
    dim = d_probe[0]["d"]
    iu_rows, iu_cols = [], []
    for i in range(dim):
        for j in range(i, dim):
            iu_rows.append(i)
            iu_cols.append(j)

    def kernel(batches):
        import numpy as np

        total = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for batch in batches:
            vecs = batch.column(0).to_pylist()
            if not vecs:
                continue
            seen = True
            V = np.asarray(vecs, dtype=np.float64)
            for start in range(0, len(V), 256):  # bound the n*d*d temp
                chunk = V[start : start + 256]
                outer = np.einsum("ni,nj->nij", chunk, chunk) * scale
                total += np.floor(outer).astype(np.int64).sum(axis=0)
        if seen:
            partial = total[iu_rows, iu_cols]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(iu_rows, pa.int32()),
                    pa.array(iu_cols, pa.int32()),
                    pa.array(partial.tolist(), pa.int64()),
                ],
                names=["i", "j", "micro"],
            )

    partials = vectors.select(F.col(vec_col).cast("array<double>").alias("v")).mapInArrow(
        kernel, schema="i int, j int, micro long"
    )
    return partials.groupBy("i", "j").agg(
        (F.sum("micro") / F.lit(scale)).alias("gram")
    )


def pca_power_iteration(gramian_rows: list[tuple], dim: int, iters: int = 50) -> tuple[list[float], float]:
    """Top principal direction of a (i, j, gram) upper-triangle Gramian by
    deterministic power iteration (all-ones start, no RNG). Driver-side
    O(d^2) math on the d x d matrix the distributed pass produced —
    exactly the centroid-collect pattern ivf_train uses. Returns
    (unit eigenvector, eigenvalue)."""
    import numpy as np

    G = np.zeros((dim, dim))
    for i, j, g in gramian_rows:
        G[i, j] = g
        G[j, i] = g
    v = np.ones(dim) / np.sqrt(dim)
    lam = 0.0
    for _ in range(iters):
        w = G @ v
        nrm = float(np.linalg.norm(w))
        if nrm == 0.0:
            return v.tolist(), 0.0
        v = w / nrm
        lam = nrm
    # sign convention: first nonzero component positive
    for x in v:
        if abs(x) > 1e-12:
            if x < 0:
                v, lam = -v, lam
            break
    return v.tolist(), lam
