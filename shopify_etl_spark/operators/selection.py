"""Importance-based data selection for LLM pretraining corpora.

DSIR — Data Selection via Importance Resampling (Xie et al., 2023,
arXiv:2302.03169) — is the standard recipe for "give me the slice of a
huge raw crawl that looks like my small high-quality target set":
fit two bag-of-hashed-ngram unigram models, one on the target
distribution and one on the raw corpus, and weight every raw document
by its log importance ratio

    logw(doc) = sum over token occurrences t of
                log p_target(f(t)) - log p_raw(f(t))

with ``f`` a hash into a fixed bucket space and both models Laplace-
smoothed. Top-weight (or Gumbel-resampled) documents become the
training mix.

Scale shape (the reason this fits 100 TB): the model is BUCKET-sized,
not corpus-sized — one grouped count over ``n_buckets`` keys carrying
the raw and target counts together (map-side partial aggregation), with
the totals derived from the model itself (every token lands in exactly
one bucket, so N = Σ counts — no second corpus pass). The fitted
log-ratio table (≤ n_buckets rows) broadcasts back onto the token
stream, so scoring is one broadcast-hash join plus a per-document sum
(partial map-side, one small shuffle keyed by doc id).

The model is also MERGEABLE: counts sum across disjoint batches, so
models fitted batch by batch add up, and scoring against the merged
model equals scoring against a one-shot fit.

No reference analog — the reference ETL has no content-based selection
layer; this is part of the beyond-reference training-data surface
(SURVEY.md §2 extension families).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash64
from .text import spread_small, tokens


def dsir_feature(col, n_buckets: int = 8192) -> Column:
    """Hashed-unigram feature bucket: portable 60-bit md5 hash mod B.

    Bit-identical in Spark, DuckDB and Python (`dedup.portable_hash64`)
    — what lets the full pipeline be value-checked by a SQL oracle;
    swap in ``xxhash64`` for the pure-speed variant, the bucket space
    is what matters.
    """
    return F.pmod(portable_hash64(col), F.lit(n_buckets))


def dsir_token_stream(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
) -> DataFrame:
    """Exploded (id, is_target, f) token stream — the shared input of
    the model fit and the scoring sum. Checkpointed so the scan+explode
    computes once when both consumers hang off it (the CMS/LM
    token-stream pattern)."""
    return (
        spread_small(df)
        .select(
            F.col(id_col),
            target_pred.alias("is_target"),
            F.explode(tokens(text_col)).alias("_tok"),
        )
        .select(id_col, "is_target", dsir_feature(F.col("_tok"), n_buckets).alias("f"))
        .localCheckpoint(eager=False)
    )


def dsir_fit(stream: DataFrame) -> DataFrame:
    """Bucket-sized model from a token stream: per-feature raw count and
    target count in ONE grouped pass (the target model is a conditional
    sum, not a second scan). Counts are mergeable — models fitted on
    disjoint batches SUM to the whole-corpus model."""
    # checkpointed: scoring consumes the model three times (fitted
    # ratio, totals, unseen-bucket fallback) and each consumer would
    # otherwise re-run the corpus-sized token aggregation — the
    # materialization is bucket-sized (≤ n_buckets rows)
    return stream.groupBy("f").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum(F.col("is_target").cast("long")).alias("c_t"),
    ).localCheckpoint(eager=False)


def dsir_score(
    stream: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    alpha: float = 1.0,
) -> DataFrame:
    """Score a token stream against a fitted (possibly merged) model.

    Totals derive from the model itself (Σ c_r / Σ c_t — every token is
    in exactly one bucket), so scoring never re-reads the corpus the
    model was fitted on. The fitted log-ratio table broadcasts; the
    per-doc sum partial-aggregates map-side.

    The join is a LEFT join: when the stream comes from a DIFFERENT
    corpus than the model fit (a model merged from other batches), tokens
    can hash to buckets with no fitted row, and those must contribute
    the zero-count smoothed ratio log(α/(n_t+b)) − log(α/(n_r+b)) —
    dropping them (an inner join) would bias every cross-corpus weight
    toward the seen vocabulary and undercount n_tokens. Same-corpus
    scoring is unaffected (every bucket present by construction).
    """
    totals = model.agg(
        F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t")
    )
    b = F.lit(float(alpha * n_buckets))
    log_ratio = F.log(
        (F.col("c_t") + F.lit(alpha)) / (F.col("n_t") + b)
    ) - F.log((F.col("c_r") + F.lit(alpha)) / (F.col("n_r") + b))
    unseen = F.log(F.lit(alpha) / (F.col("n_t") + b)) - F.log(
        F.lit(alpha) / (F.col("n_r") + b)
    )
    ratio = F.broadcast(
        model.join(F.broadcast(totals)).select("f", log_ratio.alias("lr"))
    )
    return (
        stream.join(ratio, "f", "left")
        .join(F.broadcast(totals))
        .groupBy(id_col, "is_target")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum(F.coalesce(F.col("lr"), unseen)), 4).alias(
                "dsir_logw"
            ),
        )
    )


def dsir_importance_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document DSIR log importance weights against a target slice.

    ``target_pred`` marks the in-corpus target sample (e.g. the docs a
    quality gate or a trusted source labels "looks like what I want to
    train on"); every document — target or not — gets a weight, so the
    caller can threshold, top-k, or Gumbel-resample downstream.

    Both unigram models use add-``alpha`` smoothing over the bucket
    space: ``p(f) = (count(f) + alpha) / (N + alpha * n_buckets)``.
    Documents with zero tokens have no defined weight and drop out
    (the quality_filter length gate owns empty docs).

    Returns (id_col, is_target, n_tokens, dsir_logw).
    """
    stream = dsir_token_stream(df, target_pred, text_col, id_col, n_buckets)
    return dsir_score(stream, dsir_fit(stream), id_col, n_buckets, alpha)
