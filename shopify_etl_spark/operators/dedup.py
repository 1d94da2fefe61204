"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Generalizes the reference's latest-per-key window dedup (SURVEY.md §2.7 W1,
run_logs.txt:346-361) to the document-dedup surface a training-data
pipeline needs. Scale strategy:

* **exact**: hash-groupBy on a 64-bit fingerprint — shuffle volume is
  8 bytes/row regardless of document size.
* **n-gram Jaccard (exact)**: inverted-index self-join on shingles.
  Quadratic only within a shingle's posting list; correct but reserved
  for verification / small-SF oracles.
* **MinHash + LSH (scale path)**: k permutations → b bands — candidate
  pairs come from same-band-bucket joins, so cost scales with the number
  of *near-duplicate* pairs, not all pairs. This is the 100 TB algorithm.
* **SimHash**: 64-bit signature; near-dups differ in few bits.

All signature math is JVM-side (xxhash64 + integer ops in one projection);
no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import spread_small, tokens

# Deterministic permutation parameters for MinHash: h_i(x) = (a_i*x + b_i) mod p.
# p is the largest 31-bit prime (Mersenne 2^31-1); a/b derive from a fixed seed
# so signatures are reproducible run-to-run (required for idempotent re-runs).
_MINHASH_P = (1 << 31) - 1


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    # Deterministic LCG (no Python `random` so the sequence is frozen forever).
    params, state = [], seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_MINHASH_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MINHASH_P
        params.append((a, b))
    return params


def portable_hash64(col) -> F.Column:
    """Portable 60-bit hash: first 15 hex chars of md5 → non-negative
    BIGINT. Bit-identical across engines (Spark ``conv(substr(md5))`` ≡
    DuckDB ``CAST('0x'||substr(md5) AS BIGINT)``), which lets the full
    MinHash/SimHash signature pipeline be value-checked against a SQL
    oracle. The scale default stays ``xxhash64``: full 64 bits, one JVM
    intrinsic, no hex-string materialization (~4× faster per token)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_shingles(text_col, n: int = 3):
    """Distinct n-word shingles (ArrayType<String>); empty when < n tokens.

    Guarded with ``when(size >= n)`` because Spark's ``sequence(1, 0)``
    generates a *descending* sequence instead of an empty one.
    """
    toks = tokens(text_col)
    k = F.size(toks) - (n - 1)
    shingle_at = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(F.transform(F.sequence(F.lit(1), k), shingle_at)),
    ).otherwise(F.array().cast("array<string>"))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: one canonical id + copy count per text."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# under-partitioned-input spread shared with the text operators
_spread = spread_small


def shingle_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc, s) inverted-index posting list with 64-bit shingle keys.

    The list carries ``xxhash64(shingle)`` instead of the shingle text:
    downstream joins shuffle 8-byte keys, not multi-word strings (~4× less
    shuffle volume; a 64-bit collision merging two distinct shingles has
    p≈n²/2⁶⁴ — irrelevant at any realistic corpus size).

    Lazily localCheckpointed: the posting list feeds several consumers
    (self-join sides, per-doc sizes, document-frequency counts); as a
    plain DataFrame subtree Spark re-evaluates the scan+explode for each.
    The checkpoint collapses lineage to one RDD that computes once per
    job. Deliberately NOT ``persist()`` (r18, reverting r17): the
    exploded posting list is 10-100x the corpus row count, and the
    columnar InMemoryRelation build plus per-consumer full-plan
    re-analysis measured 3.6-4.5x slower than checkpointed raw blocks on
    the driver's bench (BENCH_r17 vs r16, reproducing at 8 and 32
    cores; both records are at ``afb445c`` in git history). A cluster
    deployment would materialize it as a staging table; callers running
    several dedup ops over one corpus should build this once and pass it
    to each.
    """
    return (
        _spread(df)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(word_shingles(text_col, n)).alias("s_raw"),
        )
        .select("doc", F.xxhash64("s_raw").alias("s"))
        .localCheckpoint(eager=False)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    df_max: int | None = 100,
    postings: DataFrame | None = None,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs via inverted-index self-join, with a
    document-frequency cap on the candidate join.

    Bound-and-correct, one pass over the bulk:

    1. **Split** the posting list at document frequency ``df_max``. A
       stop-shingle shared by k docs contributes k² join rows and
       near-zero dedup signal; the cap bounds per-shingle fan-out at
       df_max² (VERDICT r1 item 4: the uncapped join detonates at sf10+).
    2. **Count** shared under-cap shingles per pair directly from the
       capped self-join (groupBy, no distinct/re-pass).
    3. **Bound**: a pair's over-cap contribution is at most
       min(overcap(d1), overcap(d2)) (per-doc over-cap counts, cheap).
       Pairs whose best-case Jaccard still misses the threshold are
       pruned exactly.
    4. **Correct** the survivors (a near-threshold sliver) with the true
       over-cap shared count — the correction join runs only on
       survivors × their over-cap postings. When no shingle exceeds the
       cap (all test SFs: max df 25), every per-doc over-cap count is 0
       and phases 3-4 are empty; results are bit-identical to the
       uncapped join.

    Jaccard = shared / (|A| + |B| - shared), integer arithmetic until the
    final division, so Spark and the SQL oracle agree bit-for-bit. A true
    near-dup pair is missed only if ALL its shared shingles are
    stop-shingles (boilerplate-only overlap) — tests/test_dedup.py proves
    this does not happen to any planted pair. ``df_max=None`` disables
    the cap (classic single-phase exact join).
    """
    sh = postings if postings is not None else shingle_postings(df, text_col, id_col, n)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    def pair_counts(side: DataFrame) -> DataFrame:
        a, b = side.alias("a"), side.alias("b")
        return (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.count(F.lit(1)).alias("shared"))
        )

    sa = sizes.select(F.col("doc").alias("d1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("doc").alias("d2"), F.col("n_sh").alias("n2"))

    if df_max is None:
        shared = pair_counts(sh)
        jac = F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared"))
        return (
            shared.join(sa, "d1").join(sb, "d2")
            .filter(jac >= threshold)
            .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
        )

    dfc = sh.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    over_keys = dfc.filter(F.col("_df") > df_max).select("s")
    # over-cap keys are few by construction (stop-shingles); broadcast so
    # neither split rescans/shuffles the posting list
    sh_over = sh.join(F.broadcast(over_keys), "s")
    sh_under = sh.join(F.broadcast(over_keys), "s", "left_anti")

    over_counts = sh_over.groupBy("doc").agg(F.count(F.lit(1)).alias("n_over"))
    oa = over_counts.select(F.col("doc").alias("d1"), F.col("n_over").alias("o1"))
    ob = over_counts.select(F.col("doc").alias("d2"), F.col("n_over").alias("o2"))

    base = (
        pair_counts(sh_under)
        .join(sa, "d1").join(sb, "d2")
        .join(oa, "d1", "left").join(ob, "d2", "left")
        .withColumn("e_max", F.least(F.coalesce("o1", F.lit(0)), F.coalesce("o2", F.lit(0))))
    )
    best = (F.col("shared") + F.col("e_max")) / (
        F.col("n1") + F.col("n2") - F.col("shared") - F.col("e_max")
    )
    survivors = base.filter(best >= threshold)

    ca = sh_over.select(F.col("doc").alias("d1"), F.col("s").alias("s_a"))
    cb = sh_over.select(F.col("doc").alias("_cd2"), F.col("s").alias("s_b"))
    extra = (
        survivors.select("d1", "d2").join(ca, "d1")
        .join(cb, (F.col("d2") == F.col("_cd2")) & (F.col("s_a") == F.col("s_b")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("e"))
    )
    final = survivors.join(extra, ["d1", "d2"], "left").withColumn(
        "true_shared", F.col("shared") + F.coalesce("e", F.lit(0))
    )
    jac = F.col("true_shared") / (F.col("n1") + F.col("n2") - F.col("true_shared"))
    return (
        final.filter(jac >= threshold)
        .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    df_max: int | None = 100,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT:
    C(A,B) = |shingles(A) ∩ shingles(B)| / min(|A|, |B|).

    Jaccard misses subset duplication — a paragraph quoted inside a much
    longer page scores near zero on Jaccard but 1.0 on containment of
    the smaller side. Containment is the standard complement to Jaccard
    in corpus dedup (quote/excerpt/wrapper detection).

    Same bounded inverted-index machinery as :func:`ngram_jaccard_pairs`
    (df cap splits the posting list; over-cap contribution is bounded by
    min per-doc over-cap counts, survivors corrected exactly), but the
    denominator min(|A|,|B|) is shared-count-independent, so the prune
    bound is simply (shared + e_max)/min — exact, and bit-identical to
    the uncapped join whenever no shingle exceeds the cap.
    """
    sh = postings if postings is not None else shingle_postings(df, text_col, id_col, n)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    def pair_counts(side: DataFrame) -> DataFrame:
        a, b = side.alias("a"), side.alias("b")
        return (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.count(F.lit(1)).alias("shared"))
        )

    sa = sizes.select(F.col("doc").alias("d1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("doc").alias("d2"), F.col("n_sh").alias("n2"))
    denom = F.least("n1", "n2")

    if df_max is None:
        cont = F.col("shared") / denom
        return (
            pair_counts(sh).join(sa, "d1").join(sb, "d2")
            .filter(cont >= threshold)
            .select("d1", "d2", F.round(cont, 4).alias("containment"))
        )

    dfc = sh.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    over_keys = dfc.filter(F.col("_df") > df_max).select("s")
    sh_over = sh.join(F.broadcast(over_keys), "s")
    sh_under = sh.join(F.broadcast(over_keys), "s", "left_anti")

    over_counts = sh_over.groupBy("doc").agg(F.count(F.lit(1)).alias("n_over"))
    oa = over_counts.select(F.col("doc").alias("d1"), F.col("n_over").alias("o1"))
    ob = over_counts.select(F.col("doc").alias("d2"), F.col("n_over").alias("o2"))

    base = (
        pair_counts(sh_under)
        .join(sa, "d1").join(sb, "d2")
        .join(oa, "d1", "left").join(ob, "d2", "left")
        .withColumn(
            "e_max",
            F.least(F.coalesce("o1", F.lit(0)), F.coalesce("o2", F.lit(0))),
        )
    )
    survivors = base.filter((F.col("shared") + F.col("e_max")) / denom >= threshold)

    ca = sh_over.select(F.col("doc").alias("d1"), F.col("s").alias("s_a"))
    cb = sh_over.select(F.col("doc").alias("_cd2"), F.col("s").alias("s_b"))
    extra = (
        survivors.select("d1", "d2").join(ca, "d1")
        .join(cb, (F.col("d2") == F.col("_cd2")) & (F.col("s_a") == F.col("s_b")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("e"))
    )
    final = survivors.join(extra, ["d1", "d2"], "left").withColumn(
        "true_shared", F.col("shared") + F.coalesce("e", F.lit(0))
    )
    cont = F.col("true_shared") / denom
    return (
        final.filter(cont >= threshold)
        .select("d1", "d2", F.round(cont, 4).alias("containment"))
    )


def cross_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    train_postings: DataFrame | None = None,
    eval_postings: DataFrame | None = None,
) -> DataFrame:
    """Train/eval contamination pairs: eval docs sharing ≥ ``threshold``
    of their n-gram shingles with some train doc.

    The decontamination step of every benchmark-honest training-data
    build: before training, every eval/test document is checked for
    n-gram overlap against the train corpus, and contaminated eval docs
    (or the train docs leaking them) are dropped. Output columns:
    ``eval_id, train_id, shared, contam_frac`` where ``contam_frac`` =
    shared / |eval doc's shingles| (overlap is measured relative to the
    eval doc — a small eval doc fully contained in a big train doc is
    100% contaminated).

    Shape: inverted-index join between the two posting lists on the
    64-bit shingle key (8-byte shuffle rows, shingle text never moves) —
    identical machinery to :func:`ngram_jaccard_pairs`, but train×eval
    instead of self-join, so cost scales with true overlap, and the eval
    side is tiny by construction (benchmarks, not corpora). Stop-shingle
    fan-out is bounded by the eval side's size; at 100 TB apply the same
    df-cap + bound-and-correct split used in ngram_jaccard_pairs if the
    eval set is itself large.
    """
    sh_t = (
        train_postings
        if train_postings is not None
        else shingle_postings(train, text_col, id_col, n)
    )
    sh_e = (
        eval_postings
        if eval_postings is not None
        else shingle_postings(eval_df, text_col, id_col, n)
    )
    e_sizes = sh_e.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        sh_e.select(F.col("doc").alias("eval_id"), "s")
        .join(sh_t.select(F.col("doc").alias("train_id"), "s"), "s")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    frac = F.col("shared") / F.col("n_sh")
    return (
        shared.join(e_sizes.select(F.col("doc").alias("eval_id"), "n_sh"), "eval_id")
        .filter(frac >= threshold)
        .select("eval_id", "train_id", "shared", F.round(frac, 4).alias("contam_frac"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    shingle_n: int = 3,
    postings: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per document: array<long> of length ``num_perm``.

    Shape chosen for scale (same as simhash): explode shingles → hash each
    shingle ONCE → one hash-aggregate computing all ``num_perm`` mins
    (map-side partials; the shuffle rows are (doc, num_perm longs), the
    shingle text never shuffles). The tempting no-shuffle formulation —
    ``array_min(transform(shingles, ...))`` per permutation — duplicates
    the whole shingle-building expression tree per permutation and ran
    ~40× slower at sf0.1.

    Documents with fewer than ``shingle_n`` tokens produce no shingles and
    are absent from the output (nothing to MinHash).

    ``postings`` accepts a pre-staged ``shingle_postings`` frame so a
    dedup family run (ngram + minhash over one corpus) shingles the
    corpus once: h = pmod(xxhash64(shingle), p) derives directly from the
    posting list's 64-bit shingle key.
    """
    if postings is not None:
        exploded = postings.select(
            F.col("doc").alias(id_col), F.pmod(F.col("s"), F.lit(_MINHASH_P)).alias("h")
        )
    else:
        shingle_hash = portable_hash64("s") if portable else F.xxhash64("s")
        exploded = _spread(df).select(
            F.col(id_col),
            F.explode(word_shingles(text_col, shingle_n)).alias("s"),
        ).select(id_col, F.pmod(shingle_hash, F.lit(_MINHASH_P)).alias("h"))
    # h < p < 2^31 and a < p, so a*h + b < 2^62 — no LongType overflow.
    mins = [
        F.min(F.pmod(F.col("h") * a + b, F.lit(_MINHASH_P))).alias(f"m{i}")
        for i, (a, b) in enumerate(_perm_params(num_perm))
    ]
    grouped = exploded.groupBy(id_col).agg(*mins)
    return grouped.select(
        id_col, F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("signature")
    )


def band_hashes(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, band, band_hash) rows — one 64-bit hash per signature band.
    Input of the LSH pair generator."""
    rows = num_perm // bands
    return signatures.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            "_",
                            *[
                                F.col("signature")[i * rows + j].cast("string")
                                for j in range(rows)
                            ],
                        )
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate near-dup pairs.

    Each signature splits into ``bands`` bands of ``num_perm/bands`` rows;
    docs sharing any band hash become candidates. The only shuffle is the
    groupBy on (band, band_hash) — at 100 TB the bucket join touches
    candidate pairs only, never the full cross product. Buckets with a
    single doc are dropped before the pair expansion; `self-join within
    bucket` is done via a compact collect_list + posexplode pair expansion
    per bucket (buckets are tiny by construction for near-dup workloads).
    """
    banded = band_hashes(signatures, id_col, num_perm, bands)
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, (x, i) -> "
                "transform(slice(docs, i + 2, size(docs) - i - 1), y -> struct(x AS d1, y AS d2))))"
            )
        ).alias("p")
    )
    return pairs.select("p.d1", "p.d2").distinct()


def minhash_dedup_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    postings: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """shingle → MinHash → band → bucket-join candidate pair pipeline."""
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n, postings, portable)
    return lsh_candidate_pairs(sigs, id_col, num_perm, bands)


_SWAR_STRIDE = 22  # 3 packed counters of 22 bits per aggregate column


def duplicate_clusters(
    pairs: DataFrame,
    d1: str = "d1",
    d2: str = "d2",
    max_iterations: int = 15,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc, cluster_id).

    The step after candidate/pair generation in every dedup pipeline:
    pairwise matches must become *clusters* (a≈b, b≈c ⟹ {a,b,c} keep one
    representative). cluster_id is the component's minimum doc id —
    deterministic, and the conventional "keep the smallest id" survivor
    rule falls out for free.

    Iterative min-label propagation on the undirected pair graph:
    every node starts labeled with itself; each round pulls the smallest
    label among itself and its neighbors; converged when no label
    changes. Rounds needed ≈ graph diameter — near-dup components are
    tiny and dense (dup groups, boilerplate families), so 2-4 rounds in
    practice; ``max_iterations`` guards adversarial chains. Each round is
    ONE join + ONE groupBy: the edge set carries a self-loop per node, so
    a single ``groupBy(u).min(label-of-neighbor)`` yields the new label,
    and the self-loop row (v == u) smuggles the node's OLD label through
    the same aggregation — change detection costs no second join. Lineage
    is cut per round with a lazy localCheckpoint so neither the physical
    work nor the LOGICAL plan grows across iterations; the per-round
    convergence check aggregates a single count — the only driver-side
    data movement.

    (GraphFrames/GraphX ship the same algorithm; implemented here on the
    plain DataFrame API to stay dependency-free.)
    """
    both = pairs.select(F.col(d1).alias("u"), F.col(d2).alias("v")).unionByName(
        pairs.select(F.col(d2).alias("u"), F.col(d1).alias("v"))
    )
    edges = (
        both.unionByName(both.select("u", F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("u").alias("v"), F.col("u").alias("label")).distinct()

    for _ in range(max_iterations):
        new_labels = (
            edges.join(labels, "v")
            .groupBy("u")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("v") == F.col("u"), F.col("label"))).alias("_old"),
            )
            # deliberately localCheckpoint, NOT persist (r17): an iterative
            # fixpoint needs LOGICAL-plan truncation — persist keeps full
            # lineage, so round N's plan is O(N) nodes and the per-round
            # convergence action pays O(N) re-analysis plus a CacheManager
            # lookup against every earlier round's entry (measured 6x the
            # whole build). The convergence count materializes the blocks
            # immediately, so the checkpoint's build-time planning is work
            # the action needed anyway.
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("_old")).limit(1).count()
        labels = new_labels.select(F.col("u").alias("v"), "label")
        if changed == 0:
            break
    return labels.select(F.col("v").alias("doc"), F.col("label").alias("cluster_id"))


def apply_dedup(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Filter a corpus to dedup survivors: keep every document that is
    either untouched by clustering or its cluster's canonical
    representative (the minimum id, per :func:`duplicate_clusters`).

    The *apply* step closing the dedup pipeline: pairs → clusters →
    **filtered corpus**. A left anti-join on the id — the anti side is
    a bare id column (8 bytes/row), and web-scale dup rates run 30%+,
    so no broadcast hint is forced: AQE picks broadcast when the loser
    set is small and a shuffled anti-join (on the compact key) when it
    is not.
    """
    losers = clusters.filter(F.col("doc") != F.col("cluster_id")).select(
        F.col("doc").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def apply_dedup_best(
    df: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup apply: within each near-dup cluster keep the
    HIGHEST-``quality_col`` document (ties → smallest id), not the
    smallest id. What a curation pipeline actually wants — the canonical
    copy of a boilerplate family is its best-scoring member, and "first
    crawled" (≈ min id) correlates with nothing.

    Shape: clusters is (doc, cluster_id); one window over it joined with
    the per-doc quality — the window partitions by cluster (near-dup
    groups, small by construction), so no skew risk, and only CLUSTERED
    docs enter the shuffle (the untouched majority of the corpus passes
    through the anti-join unscored).
    """
    from pyspark.sql import Window

    scored = clusters.join(
        df.select(F.col(id_col).alias("doc"), F.col(quality_col).alias("_q")), "doc"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("_q"), F.asc("doc"))
    losers = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("doc").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", portable: bool = False
) -> DataFrame:
    """64-bit SimHash per document (near-dups differ in few bits).
    ``portable=True`` swaps the token hash to :func:`portable_hash64`
    (60 effective bits — the top 4 sign bits are then always 0), making
    the signature reproducible in any engine for oracle checks.

    Shape chosen for scale: explode tokens → hash once per token → one
    hash-aggregate → pack signs into one BIGINT. The shuffle rows are
    (doc_id, 23 longs); token text never shuffles.

    The bit-count aggregation is SWAR-packed: instead of 64 conditional
    sums (whose generated code took ~5 s to JIT per query — dominating
    the whole operator at bench scale), each aggregate column sums
    ``(h >> b) & mask_b`` where ``mask_b`` selects bit positions
    b, b+22, b+44 — three 22-bit popcount counters ride in one long, so
    22 sums + one row count cover all 64 bits. Sign bit p is then
    ``2·S_p > N`` (S_p = set-bit count, N = token count):
    sum(±1) > 0  ⇔  2·popcount − N > 0.

    Overflow bound: the top counter accumulates n·2⁴⁴(1+ε); LongType
    holds it for documents up to ~500k tokens (a full novel is ~150k).
    Chunk larger documents upstream — standard practice for any
    signature scheme.
    """
    tok_hash = (
        _spread(df)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .select(
            id_col,
            (portable_hash64("tok") if portable else F.xxhash64("tok")).alias("h"),
        )
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for b in range(_SWAR_STRIDE):
        mask = 0
        for k in range(3):
            p = b + k * _SWAR_STRIDE
            if p < 64:
                mask |= 1 << (k * _SWAR_STRIDE)
        aggs.append(
            F.sum(F.shiftright("h", b).bitwiseAND(F.lit(mask))).alias(f"c{b}")
        )
    sums = tok_hash.groupBy(id_col).agg(*aggs)

    # Pack the 64 sign bits with a fold over bit positions rather than an
    # unrolled 64-term OR chain: the unrolled expression dominated the
    # query's wall time via whole-stage-codegen COMPILE cost (~3 s of the
    # 3.7 s cold run at sf0.1); the HOF fold compiles as a loop.
    counter_mask = (1 << _SWAR_STRIDE) - 1
    counters = F.array(*[F.col(f"c{b}") for b in range(_SWAR_STRIDE)])
    packed = F.aggregate(
        F.sequence(F.lit(0), F.lit(63)),
        F.lit(0).cast("long"),
        lambda acc, p: acc.bitwiseOR(
            F.when(
                # call_function: the F.shiftright/shiftleft wrappers only
                # accept a literal int shift, but the underlying SQL
                # expression takes any int column (the lambda variable p).
                F.call_function(
                    "shiftright",
                    F.element_at(counters, p % _SWAR_STRIDE + 1),
                    ((p / _SWAR_STRIDE).cast("int") * _SWAR_STRIDE).cast("int"),
                ).bitwiseAND(F.lit(counter_mask))
                * 2
                > F.col("_n"),
                # shiftleft, not 1 << p in Python: (1 << 63) overflows LongType.
                F.call_function("shiftleft", F.lit(1).cast("long"), p.cast("int")),
            ).otherwise(F.lit(0).cast("long"))
        ),
    )
    return sums.select(id_col, packed.alias("simhash64"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Blocking with **max_hamming + 1** bit-blocks: a pair differing in at
    most ``max_hamming`` bits cannot touch every block (pigeonhole), so
    at least one block matches exactly and the pair becomes a join
    candidate — *guaranteed* recall, unlike a fixed block count which
    silently misses pairs whose differing bits spread across all blocks.
    Candidates are then verified with the true bit_count distance.
    """
    n_blocks = max_hamming + 1
    if n_blocks > 64:
        raise ValueError("max_hamming must be < 64")
    base, extra = divmod(64, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    # the signature frame feeds BOTH sides of the bucket self-join;
    # materialize it once (n-row, two longs per doc) or the whole
    # tokenize→hash→SWAR-aggregate subtree — corpus scan included —
    # executes twice (AQE fires no ReusedExchange across self-join
    # sides, VERDICT r7; this was the last unmaterialized self-join)
    from .materialize import checkpoint_tracked

    sigs = checkpoint_tracked(simhash(df, text_col, id_col, portable))
    blocked = sigs.select(
        F.col(id_col).alias("doc"),
        "simhash64",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash64", off).bitwiseAND(F.lit((1 << w) - 1))
                    for off, w in zip(offsets, widths)
                ]
            )
        ).alias("block", "block_val"),
    )
    # A near-identical pair matches in many blocks, so the bucket join
    # emits duplicates; `distinct` dedups them. (An emit-from-first-
    # matching-block variant that replaces the shuffle-dedup with a
    # slice/zip_with predicate was measured 6× SLOWER at sf0.1 — the
    # per-candidate HOF allocation cost dwarfs the small dedup shuffle.)
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.expr("bit_count(a.simhash64 ^ b.simhash64)").alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 3,
    hash_fn=None,
) -> DataFrame:
    """Pairwise content overlap between sources — corpus forensics.

    For every source pair: how many distinct word-``n``-gram shingles
    they share, and the Jaccard of their shingle SETS. The question it
    answers ("how much of source B is already in source A?") drives
    source selection and dedup-order decisions before any doc-level
    pass runs.

    Scale shape: the per-source DISTINCT shingle table is vocabulary x
    sources sized (never corpus-sized — the groupBy dedups occurrences
    map-side), the pair join keys on the 8-byte shingle hash, and the
    fan-out per shingle is bounded by sources^2 — a handful of rows even
    for a shingle every source contains. Output is sources^2/2 rows.

    ``hash_fn`` defaults to ``xxhash64`` (scale path); the catalog entry
    passes :func:`portable_hash64` so the whole pipeline is
    value-checkable against a SQL oracle.
    """
    h = hash_fn if hash_fn is not None else F.xxhash64
    src_shingles = (
        spread_small(df)
        .select(
            F.col(source_col).alias("src"),
            F.explode(word_shingles(text_col, n)).alias("s_raw"),
        )
        .select("src", h(F.col("s_raw")).alias("s"))
        .distinct()
        # three consumers (sizes + both self-join sides) — checkpoint so
        # the corpus-sized scan+explode+distinct computes once, not three
        # times (the shingle_postings pattern)
        .localCheckpoint(eager=False)
    )
    sizes = src_shingles.groupBy("src").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = src_shingles.alias("a"), src_shingles.alias("b")
    shared = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("src1"), F.col("b.src").alias("src2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    s1 = sizes.select(F.col("src").alias("src1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("src").alias("src2"), F.col("n_sh").alias("n2"))
    jac = F.col("n_shared") / (F.col("n1") + F.col("n2") - F.col("n_shared"))
    return (
        shared.join(F.broadcast(s1), "src1")
        .join(F.broadcast(s2), "src2")
        .select(
            "src1", "src2", "n_shared", F.round(jac, 4).alias("shingle_jaccard")
        )
        .orderBy("src1", "src2")
    )


def _span_hash_windows(
    df: DataFrame, width: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc, spans) where ``spans[i]`` is a 64-bit hash of the
    ``width``-token window starting at position i.

    Two-level hashing: hash each token once (one pass), then hash the
    int64 SLICE of that array per window — primitive array ops end to
    end. The naive alternative (concat the window's tokens, hash the
    string) re-materializes every token ``width`` times inside Spark's
    interpreted higher-order-function path and measured 35× slower at
    sf0.1 (39.8 s vs 1.1 s warm). Distinct token sequences collide only
    through token-level 64-bit collisions — the same accepted exposure
    as ``shingle_postings``.

    Lazily localCheckpointed: every caller feeds the spans to at least
    two consumers (explode + per-doc sizes / island pass). The span
    family accepts a prebuilt ``windows`` frame so a pipeline running
    stats + intervals + trim over one corpus shingles it once.
    """
    toks = tokens(text_col)
    return (
        _spread(df)
        .select(
            F.col(id_col).alias("doc"),
            F.transform(toks, lambda t: F.xxhash64(t)).alias("_harr"),
        )
        .select(
            "doc",
            # same guard as word_shingles: sequence(1, k<=0) DESCENDS
            # instead of being empty, which would slice past the array
            F.when(
                F.size("_harr") >= width,
                F.transform(
                    F.sequence(F.lit(1), F.size("_harr") - (width - 1)),
                    lambda i: F.xxhash64(F.slice(F.col("_harr"), i, width)),
                ),
            )
            .otherwise(F.array().cast("array<long>"))
            .alias("spans"),
        )
        .filter(F.size("spans") > 0)
        .localCheckpoint(eager=False)
    )


def duplicate_span_stats(
    df: DataFrame,
    width: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    windows: DataFrame | None = None,
) -> DataFrame:
    """Exact repeated-substring signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    how many of its ``width``-token windows also occur verbatim in at
    least one OTHER document — the substring-level duplication that
    doc-level dedup misses (shared boilerplate paragraphs, license
    headers, quoted passages).

    Positional windows (every offset, NOT distinct — a window repeated
    inside the doc counts each occurrence) hash to 64-bit keys JVM-side
    (two-level token-hash + slice-hash, see :func:`_span_hash_windows`),
    so the duplicate-detection shuffle carries 8-byte keys exactly like
    the shingle pipeline; the per-span aggregate is |distinct docs|,
    and only hashes seen in >= 2 docs join back (semi-join on the
    duplicated minority). Output per qualifying doc (>= ``width``
    tokens): total windows, cross-doc-duplicated windows, and their
    fraction — the curation filter drops or trims docs above a
    threshold. 64-bit collisions merging distinct spans: p ~ n^2/2^64,
    the same accepted exposure as ``shingle_postings``.
    """
    base = (
        windows
        if windows is not None
        else _span_hash_windows(df, width, text_col, id_col)
    )
    pos = base.select("doc", F.posexplode("spans").alias("pos", "h"))
    # ">= 2 distinct docs" == min(doc) != max(doc): two cheap longs per
    # span instead of a distinct aggregation
    dup = (
        pos.groupBy("h")
        .agg(F.min("doc").alias("_lo"), F.max("doc").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("h")
    )
    per_doc = pos.join(dup, "h").groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_dup_windows")
    )
    return (
        base.select("doc", F.size("spans").alias("n_windows"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"), 4
            ).alias("dup_window_frac"),
        )
    )


def duplicate_span_intervals(
    df: DataFrame,
    width: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    windows: DataFrame | None = None,
) -> DataFrame:
    """Maximal repeated intervals per document: overlapping/adjacent
    cross-doc-duplicated ``width``-token windows (see
    :func:`duplicate_span_stats`) merged into their union — the token
    ranges an exact-substring dedup pass would TRIM from each document.

    Interval union is the classic gaps-and-islands shape: order a doc's
    duplicated window starts, open a new island whenever a start lies
    past the running max end of everything before it (running max over
    an unbounded-preceding window, so contained intervals can't reopen
    a closed island), then island id = running count of opens. One
    window function pass over the duplicated-window minority — the
    corpus-sized window stream never re-shuffles.
    """
    base = (
        windows
        if windows is not None
        else _span_hash_windows(df, width, text_col, id_col)
    )
    pos = base.select("doc", F.posexplode("spans").alias("pos", "h"))
    dup = (
        pos.groupBy("h")
        .agg(F.min("doc").alias("_lo"), F.max("doc").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("h")
    )
    hits = pos.join(dup, "h").select("doc", "pos")
    w = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max(F.col("pos") + (width - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    opens = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end), F.lit(1)
    ).otherwise(F.lit(0))
    islands = hits.select(
        "doc", "pos", F.sum(opens).over(w).alias("island")
    )
    return (
        islands.groupBy("doc", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (width - 1)).alias("span_end"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_tokens"),
        )
    )


def trim_repeated_spans(
    df: DataFrame,
    width: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    windows: DataFrame | None = None,
) -> DataFrame:
    """Apply step of substring-level dedup: rebuild each document with
    the tokens inside its :func:`duplicate_span_intervals` ranges
    removed (the Lee-et-al. trim, keeping the first occurrence is a
    policy layer above this — here every cross-doc-duplicated range is
    dropped symmetrically, the conservative contamination-removal form).

    The interval table is a small fraction of the corpus (duplicated
    ranges only), so it aggregates to one array per affected doc and
    joins back; untouched documents pass through with their text intact
    and never shuffle — the join input is the grouped interval side,
    not the corpus. Token filtering is a JVM higher-order ``filter``
    with a positional lambda probing the per-doc interval array.
    """
    ivs = (
        duplicate_span_intervals(df, width, text_col, id_col, windows=windows)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_ivs")
        )
    )
    toks = tokens(text_col)
    keep = F.filter(
        toks,
        lambda x, i: ~F.exists(
            F.col("_ivs"),
            lambda iv: (i >= iv["span_start"]) & (i <= iv["span_end"]),
        ),
    )
    return (
        df.join(ivs, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_ivs").isNull(), F.col(text_col))
            .otherwise(F.concat_ws(" ", keep))
            .alias("trimmed_text"),
            F.when(F.col("_ivs").isNull(), F.size(toks))
            .otherwise(F.size(keep))
            .cast("long")
            .alias("n_kept_tokens"),
        )
    )


def cross_corpus_near_dups(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric ingest gate: which NEW documents are near-duplicates
    (word-n-gram Jaccard >= threshold) of anything already in the
    reference corpus — the screen a production pipeline runs before
    admitting a fresh crawl batch, without ever self-joining either
    side.

    The join is new-postings × ref-postings on 8-byte shingle keys, so
    cost scales with the CROSS overlap, not either corpus squared; the
    ingest batch is typically a small fraction of the store, exactly the
    asymmetry the train×eval contamination op exploits. Emits one row
    per matched (new, ref) pair; ``best_ref`` downstream policy (keep /
    drop / link) stays above this operator.
    """
    new_sh = shingle_postings(new_docs, text_col, id_col, n).withColumnRenamed(
        "doc", "new_id"
    )
    ref_sh = shingle_postings(ref_docs, text_col, id_col, n).withColumnRenamed(
        "doc", "ref_id"
    )
    new_sizes = new_sh.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_new"))
    ref_sizes = ref_sh.groupBy("ref_id").agg(F.count(F.lit(1)).alias("n_ref"))
    shared = (
        new_sh.join(ref_sh, "s")
        .groupBy("new_id", "ref_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared") / (F.col("n_new") + F.col("n_ref") - F.col("shared"))
    return (
        shared.join(new_sizes, "new_id")
        .join(ref_sizes, "ref_id")
        .filter(jac >= threshold)
        .select("new_id", "ref_id", F.round(jac, 4).alias("jaccard"))
    )


def doc_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Per-document content novelty: the fraction of a document's
    distinct word-n-gram shingles whose corpus-wide FIRST occurrence
    (minimum doc id) is this document.

    This is the ingest-order duplication-pressure signal behind crawl
    curation dashboards: a novelty near 1 means the document contributes
    mostly unseen n-grams; near 0 means its content already exists in
    earlier documents (even when no single pair crosses a near-dup
    threshold — diffuse copying that pairwise Jaccard misses). Summed
    over an ingest batch it answers "how much NEW text did this crawl
    actually add".

    Scale shape: the first-occurrence table is one min-aggregation over
    the posting list, VOCABULARY-sized and keyed by the same 8-byte
    shingle hash the postings carry, so the join back to the postings
    reuses the aggregation's shuffle partitioning (no second exchange on
    the big side); the per-document roll-up is one count/sum groupBy
    with map-side partials. Docs with < n tokens have no shingles and
    drop out (same contract as the Jaccard family).
    """
    p = postings if postings is not None else shingle_postings(df, text_col, id_col, n)
    first = p.groupBy("s").agg(F.min("doc").alias("first_doc"))
    return (
        p.join(first, "s")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc")).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 4).alias("novelty"),
        )
    )
