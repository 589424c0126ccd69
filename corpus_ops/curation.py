"""End-to-end corpus curation: the composed pretraining-data filter
chain (quality gates -> exact dedup -> stratified sampling) with
per-document disposition lineage — every document gets a `decision`
naming the FIRST stage that dropped it, or 'kept'. The lineage column
is what makes a 100 TB curation run auditable: `groupBy(decision)`
is the curation funnel report, and any doc's fate is explainable
without re-running the pipeline.

Scale shape: quality gates and the sampling draw are per-row column
math (fused into the scan); the text column is digested to a 32-char
fingerprint IN the scan projection, so the exact-dedup canonical
survivor is a window-min over fp on narrow derived rows — ONE scan of
the corpus and ONE shuffle of ~60 B/doc rows, never a second pass
over the text bytes (a groupBy+join formulation plans two full scans
because DataFrame lineage is duplicated, measured via .explain).
Identical-boilerplate hot fps co-locate their (narrow) rows on one
reducer for a scalar min — bounded by docs-per-fp, not text size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import ngrams_col, normalize_text_col
from .sampling import _threshold_hex, sample_bucket_col
from .textstats import token_count_col


def _rep_ratio_col(text_col: str, n: int = 3):
    """Duplicate word-n-gram fraction (mirrors textstats.repetition_stats)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    empty = F.length(F.trim(F.col(text_col))) == 0
    grams = F.when(empty, F.array().cast("array<string>")).otherwise(
        ngrams_col(words, n)
    )
    n_grams = F.size(grams)
    return F.when(n_grams == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(grams)) / n_grams
    )


def curate_corpus(
    docs: DataFrame,
    min_tokens: int = 5,
    max_rep_ratio: float = 0.3,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "kgb",
) -> DataFrame:
    """Per-document curation disposition.

    Output: (doc_id, lang, n_tokens, decision) with decision in
    ('too_short', 'repetitive', 'duplicate', 'sampled_out', 'kept'),
    the first applicable in that order. Duplicate = another doc with
    the same normalized text has a smaller id (first-seen survives,
    and the survivor is judged by the later stages like any other doc).
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(strata_col).alias("lang"),
        token_count_col(F.col(text_col)).cast("int").alias("n_tokens"),
        _rep_ratio_col(text_col).alias("rep_ratio"),
        F.md5(normalize_text_col(F.col(text_col))).alias("fp"),
        sample_bucket_col(id_col, salt).alias("bucket"),
    )
    rate_chain = None
    for stratum, rate in sorted((rates or {}).items()):
        th = F.lit(_threshold_hex(rate))
        cond = F.col("lang") == stratum
        rate_chain = (
            F.when(cond, th) if rate_chain is None else rate_chain.when(cond, th)
        )
    threshold = (
        rate_chain.otherwise(F.lit(_threshold_hex(default_rate)))
        if rate_chain is not None
        else F.lit(_threshold_hex(default_rate))
    )

    return (
        base.withColumn("canon_id", F.min("doc_id").over(Window.partitionBy("fp")))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
            .when(F.col("rep_ratio") > max_rep_ratio, F.lit("repetitive"))
            .when(F.col("doc_id") != F.col("canon_id"), F.lit("duplicate"))
            .when(F.col("bucket") >= threshold, F.lit("sampled_out"))
            .otherwise(F.lit("kept"))
            .alias("decision"),
        )
    )


def curation_funnel(decisions: DataFrame) -> DataFrame:
    """Aggregate curation report: docs per decision."""
    return decisions.groupBy("decision").agg(F.count("*").alias("n_docs"))


def dsir_importance(
    docs: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR-style importance weights for data selection (after Xie et al.
    2023, "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169): featurize every document as hashed unigram+bigram
    counts over ``n_buckets`` buckets, fit bucket distributions for the
    TARGET subset (rows matching ``target_filter``, a boolean Column) and
    the RAW corpus, and score each document with the log-likelihood
    ratio  log w(x) = sum_f count_f(x) * (log p_target(f) - log q_raw(f))
    (Laplace-smoothed). High-weight docs look like the target; feed the
    scores to ``sampling.weighted_sample_without_replacement`` to
    materialize the resampled corpus.

    Scale shape: ONE corpus scan explodes grams and map-side-combines to
    at most ``n_buckets`` narrow rows per document per partition; that
    (doc, is_target, bucket, cnt) frame is locally checkpointed (bounded:
    ≤ n_buckets rows/doc, ~1% of corpus bytes) and BOTH the bucket
    distribution and the per-doc scores derive from it — the round-4
    shape recomputed the corpus explode twice, once in the score plan and
    once inside the broadcast-weights job (measured 5.5 s -> the fix is
    most of it at sf0.1). The hash is md5-derived (engine-portable, so
    the DuckDB oracle reproduces it).
    Engine-exactness: the per-feature log-ratio is quantized to integer
    MICRO-nats before the weighted sum, so every aggregate is an integer
    sum (order-independent across engines); the reported ``log_weight``
    is micro-nats / 1e6.

    Returns (doc_id, n_feats, log_weight).
    """
    feats = dsir_features(docs, target_filter, id_col, text_col, n_buckets)
    # is_target is constant per doc, so grouping by it too changes no
    # group; carrying it through lets dist derive from the AGGREGATED
    # narrow rows instead of a second corpus explode. persist (lazy) lets
    # the broadcast-weights job and the score plan share one
    # materialization while KEEPING lineage — unlike localCheckpoint,
    # losing an executor's blocks recomputes instead of failing the job
    # (on spot/decommissioned fleets that difference is the job). The
    # cache entry lives in the session's CacheManager (keyed on the
    # logical plan) until unpersist/clearCache — a caller scoring MANY
    # distinct corpora in one long session should unpersist between
    # corpora; the blocks themselves are evictable MEMORY_AND_DISK.
    per_key = (
        feats.groupBy("doc_id", "is_target", "bucket")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    dist = per_key.groupBy("bucket").agg(
        F.sum("cnt").alias("q_cnt"),
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias("p_cnt"),
    )
    return dsir_score(per_key.select("doc_id", "bucket", "cnt"), dist, n_buckets, smoothing)


def dsir_features(
    docs: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """(doc_id, is_target, bucket) feature rows — the featurization
    half of ``dsir_importance``."""
    words = F.split(normalize_text_col(F.col(text_col)), " ")
    words = F.filter(words, lambda w: w != "")
    grams = F.concat(words, ngrams_col(words, 2))
    bucket = (
        F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).alias("bucket")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        target_filter.alias("is_target"),
        F.explode(grams).alias("gram"),
    ).select("doc_id", "is_target", bucket)


def dsir_score(
    per_doc_bucket: DataFrame,
    dist: DataFrame,
    n_buckets: int = 64,
    smoothing: float = 1.0,
) -> DataFrame:
    """Score docs from (doc_id, bucket, cnt) rows and a (bucket, q_cnt,
    p_cnt) distribution — the read-time half of ``dsir_importance``.
    Both aggregates are partial-aggregable, so per-batch PARTIALS can be
    summed before scoring."""
    totals = dist.agg(
        F.sum("q_cnt").alias("q_tot"), F.sum("p_cnt").alias("p_tot")
    )
    s, b = float(smoothing), n_buckets
    delta_micro = F.round(
        (
            F.log((F.col("p_cnt") + s) / (F.col("p_tot") + s * b))
            - F.log((F.col("q_cnt") + s) / (F.col("q_tot") + s * b))
        )
        * 1e6
    ).cast("long")
    weights = dist.crossJoin(F.broadcast(totals)).select(
        "bucket", delta_micro.alias("delta_micro")
    )
    return (
        per_doc_bucket.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("int").alias("n_feats"),
            (F.sum(F.col("cnt") * F.col("delta_micro")) / 1e6).alias("log_weight"),
        )
    )
