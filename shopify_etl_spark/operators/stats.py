"""Distribution-based value cleaning (winsorization / outlier clipping).

Clipping values at per-group percentile bounds is the standard
robust-statistics pre-step before aggregation or model features. Bounds
come from one grouped pass; the clip itself is a broadcast join + one
projection over the fact stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _interp(v: str, p: float):
    """Exact interpolated percentile over a pre-sorted array column —
    the same ``lo + (hi-lo)*frac`` form as the SQL oracles, so the
    doubles are bit-identical across engines (engine-internal percentile
    routines interpolate in different FP order)."""
    n1 = (F.size(v) - F.lit(1)).cast("double")
    pos = n1 * F.lit(p)
    lo = F.element_at(v, (F.floor(pos) + 1).cast("int"))
    hi = F.element_at(v, (F.ceil(pos) + 1).cast("int"))
    return lo + (hi - lo) * (pos - F.floor(pos))


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
    id_col: str | None = None,
) -> DataFrame:
    """Clip ``value_col`` to its group's [lower, upper] exact percentile
    band; emits the original value, the clipped value, and a flag.

    Exact percentiles buffer each group's values once (sorted array in
    the aggregate) — right for bounded-cardinality groups; at 100 TB
    with huge groups swap the bounds stage for ``approx_percentile``
    (single-pass, bounded memory) and keep the identical clip stage.
    The bounds table is |groups| rows → broadcast; the fact stream never
    shuffles.
    """
    g = df.groupBy(group_col).agg(
        F.sort_array(F.collect_list(value_col)).alias("_v")
    )
    bounds = g.select(
        group_col,
        _interp("_v", lower).alias("_lo"),
        _interp("_v", upper).alias("_hi"),
    )
    clipped = F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi"))
    cols = [id_col] if id_col else []
    return (
        df.join(F.broadcast(bounds), group_col)
        .select(
            *cols,
            group_col,
            F.col(value_col),
            clipped.alias(f"{value_col}_winsorized"),
            (
                (F.col(value_col) < F.col("_lo"))
                | (F.col(value_col) > F.col("_hi"))
            ).alias("was_clipped"),
        )
    )


def value_histogram(
    df: DataFrame,
    value_col: str = "value",
    segment_col: str = "event_type",
    lo: float = 0.0,
    hi: float = 500.0,
    n_buckets: int = 20,
) -> DataFrame:
    """Fixed-range per-segment histogram ``(seg, bucket, n_sb)`` — the
    SUM-mergeable sufficient statistic for PSI: histograms over disjoint
    batches add, so any window's drift score reads from segments ×
    buckets rows, never raw history."""
    b = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(hi - lo) * n_buckets),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    ).cast("int")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(segment_col).alias("seg"), b.alias("bucket"))
        .groupBy("seg", "bucket")
        .agg(F.count(F.lit(1)).alias("n_sb"))
    )


def _checked_bucket(n_buckets: int):
    """In-plan guard: a histogram row whose bucket id falls outside
    [0, n_buckets) means the histogram was built with a DIFFERENT bucket
    count than the PSI call assumes — the dense frame would silently
    drop that mass from the PSI terms while the totals keep it,
    producing a wrong score with no error. Fail loudly instead."""
    return F.when(
        (F.col("bucket") >= 0) & (F.col("bucket") < F.lit(n_buckets)),
        F.col("bucket"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "psi: histogram bucket %s outside [0, "
                f"{n_buckets}) — bucket-count mismatch between the "
                "histogram build and this PSI call",
                F.col("bucket"),
            )
        ).cast("int")
    )


def psi_from_histogram(
    hist: DataFrame,
    segment_col: str = "event_type",
    n_buckets: int = 20,
    alpha: float = 0.5,
) -> DataFrame:
    """PSI per segment from a ``(seg, bucket, n_sb)`` histogram — every
    total (segment sizes, population histogram, grand total) derives
    from the histogram itself, so a one-shot histogram and one summed
    over batches score IDENTICALLY from the same counts. A histogram
    built with a different bucket count than ``n_buckets`` raises
    in-plan (:func:`_checked_bucket`) instead of silently skewing the
    score."""
    hist = hist.withColumn("bucket", _checked_bucket(n_buckets))
    hist = hist.localCheckpoint(eager=False)  # four consumers below
    seg_totals = hist.groupBy("seg").agg(F.sum("n_sb").alias("n_s"))
    all_counts = hist.groupBy("bucket").agg(F.sum("n_sb").alias("n_b"))
    all_total = hist.agg(F.sum("n_sb").alias("n"))
    buckets = hist.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    # dense (segment x bucket) frame so zero-count buckets still carry
    # their smoothed probability into the sum
    dense = seg_totals.crossJoin(F.broadcast(buckets))
    sm = float(alpha)
    bsm = float(alpha * n_buckets)
    p_seg = (F.coalesce(F.col("n_sb"), F.lit(0)) + sm) / (F.col("n_s") + bsm)
    p_all = (F.coalesce(F.col("n_b"), F.lit(0)) + sm) / (F.col("n") + bsm)
    term = (p_seg - p_all) * F.log(p_seg / p_all)
    return (
        dense.join(hist, ["seg", "bucket"], "left")
        .join(F.broadcast(all_counts), "bucket", "left")
        .join(F.broadcast(all_total))
        .groupBy("seg")
        .agg(
            F.max("n_s").cast("long").alias("n_rows"),
            F.round(F.sum(term), 4).alias("psi"),
        )
        .select(F.col("seg").alias(segment_col), "n_rows", "psi")
    )


def psi_drift(
    df: DataFrame,
    value_col: str = "value",
    segment_col: str = "event_type",
    lo: float = 0.0,
    hi: float = 500.0,
    n_buckets: int = 20,
    alpha: float = 0.5,
) -> DataFrame:
    """Population Stability Index of each segment's value distribution
    against the WHOLE population — the drift score DQ dashboards
    threshold (rule of thumb: <0.1 stable, 0.1–0.25 shifting, >0.25
    drifted). PSI = Σ_buckets (p_seg − p_all)·ln(p_seg/p_all) over a
    fixed-range histogram, add-``alpha`` smoothed so empty buckets
    don't produce ±inf.

    Fixed bucket edges (``lo``/``hi`` clamped, same recipe as
    event_value_histogram) rather than data-dependent quantile edges:
    edges that move with the data make two runs incomparable — the
    exact property a STABILITY index must not have. Shape: one grouped
    count per (segment, bucket), then everything is bounded by
    segments × buckets (:func:`psi_from_histogram`).
    """
    return psi_from_histogram(
        value_histogram(df, value_col, segment_col, lo, hi, n_buckets),
        segment_col,
        n_buckets,
        alpha,
    )


def psi_between_histograms(
    ref: DataFrame,
    cur: DataFrame,
    segment_col: str = "event_type",
    n_buckets: int = 20,
    alpha: float = 0.5,
) -> DataFrame:
    """PSI of the CURRENT window's per-segment value distribution
    against a REFERENCE window — the production drift comparison (this
    week vs the frozen baseline), as opposed to
    :func:`psi_from_histogram`'s segment-vs-population view.

    Both inputs are ``(seg, bucket, n_sb)`` histograms (from
    :func:`value_histogram`, or summed over batches) — comparing
    summaries, not raw rows, is what lets the baseline be a kept
    histogram instead of retained history. Segments present on only
    one side still score: the missing side smooths to the uniform
    add-``alpha`` distribution, which reads as maximal drift rather
    than a silent drop.
    """
    r = ref.select("seg", _checked_bucket(n_buckets).alias("bucket"),
                   F.col("n_sb").alias("n_ref"))
    c = cur.select("seg", _checked_bucket(n_buckets).alias("bucket"),
                   F.col("n_sb").alias("n_cur"))
    segs = (
        r.select("seg").union(c.select("seg")).distinct()
        .localCheckpoint(eager=False)
    )
    rt = r.groupBy("seg").agg(F.sum("n_ref").alias("t_ref"))
    ct = c.groupBy("seg").agg(F.sum("n_cur").alias("t_cur"))
    buckets = ref.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    dense = (
        segs.crossJoin(F.broadcast(buckets))
        .join(rt, "seg", "left")
        .join(ct, "seg", "left")
        .join(r, ["seg", "bucket"], "left")
        .join(c, ["seg", "bucket"], "left")
    )
    sm = float(alpha)
    bsm = float(alpha * n_buckets)
    p_ref = (F.coalesce("n_ref", F.lit(0)) + sm) / (
        F.coalesce("t_ref", F.lit(0)) + bsm
    )
    p_cur = (F.coalesce("n_cur", F.lit(0)) + sm) / (
        F.coalesce("t_cur", F.lit(0)) + bsm
    )
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (
        dense.groupBy("seg")
        .agg(
            F.coalesce(F.max("t_ref"), F.lit(0)).cast("long").alias("n_ref_rows"),
            F.coalesce(F.max("t_cur"), F.lit(0)).cast("long").alias("n_cur_rows"),
            F.round(F.sum(term), 4).alias("psi"),
        )
        .select(F.col("seg").alias(segment_col), "n_ref_rows", "n_cur_rows", "psi")
    )


def token_js_divergence(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between each group's unigram distribution
    and the whole corpus's — the mixture diagnostic that tells you which
    source is lexically off-distribution before you weight an epoch mix
    (0 = identical to the corpus, 1 bit = disjoint support).

    The absent-term mass is closed-form, which is what makes this
    scale-shaped: for a term the group never emits, p=0 and the JSD
    contribution collapses to ``q·log2(2q/q) = q``, so the full sum is

        0.5·Σ_present [p·log2(2p/(p+q)) + q·log2(2q/(p+q))]
        + 0.5·(1 − Σ_present q)

    and only terms PRESENT in the group ever join — no vocabulary ×
    groups expansion, no outer join. The global term table is
    vocabulary-sized (Heaps' law) and broadcasts onto the per-group
    counts; the rest is one partial-aggregated groupBy per group.
    """
    from ..operators.text import tokens

    toks = df.select(F.col(by), F.explode(tokens(text_col)).alias("term"))
    src = toks.groupBy(by, "term").agg(F.count(F.lit(1)).alias("c_s"))
    glob = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c_g"))
    n_g = toks.select(F.count(F.lit(1)).alias("n_g"))
    totals = src.groupBy(by).agg(F.sum("c_s").alias("n_s"))
    joined = (
        src.join(F.broadcast(glob), "term")
        .join(F.broadcast(totals), by)
        .crossJoin(F.broadcast(n_g))
    )
    p = F.col("c_s") / F.col("n_s")
    q = F.col("c_g") / F.col("n_g")
    contrib = p * F.log2(2.0 * p / (p + q)) + q * F.log2(2.0 * q / (p + q))
    return (
        joined.groupBy(by)
        .agg(
            F.first("n_s").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(
                0.5 * F.sum(contrib) + 0.5 * (1.0 - F.sum(q)), 4
            ).alias("js_divergence"),
        )
        .orderBy(by)
    )
