"""Deterministic stratified sampling for corpus curation: keep each row
with a per-stratum rate (e.g. downsample dominant languages, keep all of
a rare one) decided by a salted md5 of the row key — reproducible across
runs, engines, and partitionings, unlike `DataFrame.sample` whose output
depends on partition layout.

Scale shape: pure column math (md5 + hex-string compare), map-only, no
shuffle, fused into the scan; the sample decision is also a stable
row-level fact, so re-running the pipeline (or resuming from checkpoint)
reselects exactly the same rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX_SPACE = 16**8


def _threshold_hex(rate: float) -> str:
    """Rate in [0,1] -> 8-hex-digit threshold; hex-string < compare on
    lowercase md5 prefixes == numeric compare on the first 32 bits."""
    if rate >= 1.0:
        return "g"  # every hex digit sorts below 'g' -> keeps all rows
    return format(max(int(rate * _HEX_SPACE), 0), "08x")


def sample_bucket_col(key_col: str, salt: str) -> Column:
    """First 8 hex chars of md5('<key>:<salt>') — the row's uniform draw."""
    return F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))), 1, 8
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "kgb",
) -> DataFrame:
    """Keep each row iff its salted-md5 bucket falls under its stratum's
    rate. rate=1.0 keeps every row of the stratum; unknown strata use
    default_rate. Returns the input rows unchanged (filter only)."""
    bucket = sample_bucket_col(key_col, salt)
    chain = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(strata_col) == stratum
        th = F.lit(_threshold_hex(rate))
        chain = F.when(cond, th) if chain is None else chain.when(cond, th)
    threshold = (
        chain.otherwise(F.lit(_threshold_hex(default_rate)))
        if chain is not None
        else F.lit(_threshold_hex(default_rate))
    )
    return docs.filter(bucket < threshold)


def mixture_weights(
    docs: DataFrame,
    source_col: str = "source",
    alpha: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled training-mix weights per corpus source: the
    alpha-scaled multinomial used to build multilingual / multi-source
    pretraining mixes (XLM-R-style, alpha in (0,1] — alpha=1 is
    proportional sampling, smaller alpha upweights rare sources).

      share_s  = n_s / sum(n)               (natural frequency)
      weight_s = n_s^alpha / sum(n^alpha)   (sampling probability)
      boost_s  = weight_s / share_s         (up/downsampling factor)

    Output: (source, n_docs, n_chars, share, weight, boost), one row per
    source, all ratios rounded to 6 decimals for cross-engine stability.

    Scale shape: ONE partial-aggregable groupBy over the corpus (counts
    and char sums only — text bytes never shuffle beyond the map-side
    combine). The normalization totals come from an unpartitioned window
    over the AGGREGATED frame — a single reducer, but over one row per
    source (dozens), not corpus rows; an agg + re-join formulation would
    duplicate the lineage and aggregate the corpus twice. The weights
    frame feeds `stratified_sample` rates directly.
    """
    per_source = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(F.col(text_col))).alias("n_chars"),
    )
    w = Window.partitionBy()
    n_pow = F.pow(F.col("n_docs").cast("double"), F.lit(alpha))
    share = F.col("n_docs") / F.sum(F.col("n_docs").cast("double")).over(w)
    weight = n_pow / F.sum(n_pow).over(w)
    return per_source.select(
        "source",
        "n_docs",
        "n_chars",
        F.round(share, 6).alias("share"),
        F.round(weight, 6).alias("weight"),
        F.round(weight / share, 6).alias("boost"),
    )


def split_corpus(
    docs: DataFrame,
    splits: list[tuple[str, float]] | None = None,
    key_col: str = "doc_id",
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's salted-md5
    bucket lands in one of the cumulative-weight intervals and the row
    gains a ``split`` label. Weights must sum to 1. The standard
    holdout-split step of a training pipeline, with the properties
    DataFrame.randomSplit lacks: reproducible across runs, engines, and
    partitionings, and stable under corpus growth (an existing row never
    changes split when new rows arrive — no leakage of old validation
    docs into train).

    Map-only column math fused into the scan, like stratified_sample;
    the label is a pure function of (key, salt)."""
    splits = splits or [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = sample_bucket_col(key_col, salt)
    chain = None
    cum = 0.0
    for name, weight in splits[:-1]:
        cum += weight
        th = F.lit(_threshold_hex(cum))
        chain = F.when(bucket < th, name) if chain is None else chain.when(bucket < th, name)
    label = chain.otherwise(splits[-1][0]) if chain is not None else F.lit(splits[-1][0])
    return docs.withColumn("split", label)


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    strata_col: str | None = None,
    key_col: str = "doc_id",
    salt: str = "es-v1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws u from its salted-md5 bucket and the
    k rows with the largest u^(1/weight) win — inclusion probability
    proportional to weight, reproducible across engines/partitionings.
    ``strata_col`` makes it per-stratum (e.g. k docs per language,
    length-weighted). Rows with weight <= 0 are excluded. Adds
    ``sample_rank`` (1-based within stratum).

    Ranking uses ln(u)/w (monotone in u^(1/w); u offset by half a bucket
    so ln never sees 0). Scale shape: the selection is a per-stratum
    top-k — Spark's WindowGroupLimit pushes the rank<=k filter into the
    sort, so each partition keeps k candidates rather than sorting the
    stratum (the same mechanics as TakeOrderedAndProject), and the weight
    draw itself is map-only column math.
    """
    v = F.conv(sample_bucket_col(key_col, salt), 16, 10).cast("double")
    u = (v + F.lit(0.5)) / F.lit(float(_HEX_SPACE))
    part = [strata_col] if strata_col else []
    w = Window.partitionBy(*part).orderBy(F.col("_es_key").desc(), F.col(key_col))
    return (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("_es_key", F.log(u) / F.col(weight_col))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .drop("_es_key")
    )
