"""Extension queries: dedup, similarity search, text analysis, multimodal.

The large-scale training-data-pipeline surface (BASELINE.json north star)
declared as catalog queries. SQL-expressible ops carry a DuckDB oracle;
seeded-random signature/LSH ops verify through guarantee-gate oracles
(exact twins + by-construction flags the SQL recomputes/asserts) with the
recall-vs-exact invariants additionally pinned in tests/ (e.g. MinHash
candidates must cover every true Jaccard≥0.8 pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, packing, privacy, sampling, similarity, text
from .catalog import load_table, register

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_quality_scores",
    oracle=r"""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))  AS n_tokens,
           length(regexp_replace(text, '\s', '', 'g'))                           AS n_word_chars,
           ROUND(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
                 / NULLIF(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')), 0), 4) AS avg_token_len,
           ROUND(CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                      x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
                 / NULLIF(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')), 0), 4) AS stopword_ratio,
           length(regexp_replace(text, '[^.,!?;:]', '', 'g'))       AS n_punct
    FROM documents
    """,
    doc="Per-document quality scoring (length / punctuation / stopword "
    "ratios) — the standard cheap pre-filter for training corpora. One "
    "codegen'd projection, no shuffle, no Python. operators/text.py.",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_metrics(load_table(spark, sf_dir, "documents"))


@register(
    "token_count_by_source",
    oracle=r"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
           ROUND(AVG(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))), 4) AS avg_tokens
    FROM documents GROUP BY source
    """,
    doc="Corpus token accounting per source — the 'how many tokens do we "
    "have' query every dataset build starts with. Token counting stays in "
    "the scan stage; only per-source partials shuffle.",
)
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count("text")).alias("total_tokens"),
        F.round(F.avg(text.token_count("text")), 4).alias("avg_tokens"),
    )


@register(
    "lang_id_heuristic",
    oracle=r"""
    SELECT doc_id,
      CASE
        WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        WHEN s_en >= greatest(s_es, s_fr, s_zh)       THEN 'en'
        WHEN s_es >= greatest(s_fr, s_zh)             THEN 'es'
        WHEN s_fr >= s_zh                             THEN 'fr'
        ELSE 'zh' END AS pred_lang,
      greatest(s_de, s_en, s_es, s_fr, s_zh) AS marker_hits
    FROM (
      SELECT doc_id,
        len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('der','die','und','das','ist'))) AS s_de,
        len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('the','and','of','to','is')))    AS s_en,
        len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('el','la','que','los','es')))    AS s_es,
        len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('le','la','et','les','est')))    AS s_fr,
        len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('的','是','了','在','我')))      AS s_zh
      FROM documents
    )
    """,
    doc="Marker-word language-ID heuristic: score per language profile, "
    "argmax with deterministic lexicographic tie-break. All JVM-side "
    "size(filter(tokens)) expressions. operators/text.py::lang_id.",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "repetition_signals",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines
      FROM documents
    ), with_bg AS (
      SELECT doc_id, toks, lines,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i+1])
                  ELSE [] END AS bg
      FROM base
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE)
                 / NULLIF(len(toks), 0), 4) AS distinct_token_ratio,
           ROUND(CAST(list_max(list_transform(list_distinct(toks),
                      x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
                 / NULLIF(len(toks), 0), 4) AS top_token_frac,
           ROUND(CAST(list_max(list_transform(list_distinct(bg),
                      x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
                 / NULLIF(len(bg), 0), 4) AS top_bigram_frac,
           ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                 / NULLIF(len(lines), 0), 4) AS dup_line_frac
    FROM with_bg
    """,
    doc="Gopher-family repetition signals per document: distinct-token "
    "ratio, most-frequent token/bigram share, duplicate-line fraction — "
    "the standard boilerplate/spam pre-filters for training corpora. "
    "Explode→count→per-doc agg shape (shuffles (doc_id, hash) rows with "
    "map-side combine) — nested array lambdas in one projection measured "
    "~40x slower. operators/text.py::repetition_signals.",
)
def repetition_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_signals(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "exact_dedup_docs",
    oracle="""
    SELECT text, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
    doc="Exact dedup via hash-groupBy (generalizes W1 latest-per-key, "
    "run_logs.txt:346-361, to content identity). At scale the group key is "
    "the 64-bit fingerprint (doc_fingerprints), not the text body. "
    "operators/dedup.py::exact_duplicates.",
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           ROUND(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.8
    """,
    doc="Exact word-3-gram Jaccard near-dup pairs via inverted-index "
    "self-join — the verification oracle for the MinHash/LSH scale path. "
    "Integer arithmetic until the final division so both engines agree "
    "exactly. operators/dedup.py::ngram_jaccard_pairs.",
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "doc_fingerprints",
    oracle=r"""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp_md5,
           length(text) AS n_chars
    FROM documents
    """,
    doc="Portable document fingerprint (md5 over whitespace-normalized "
    "text), value-checked against the DuckDB oracle. The scale default is "
    "text.fingerprint (xxhash64): an 8-byte integer key shuffles ~4× "
    "cheaper than hex strings — engine-specific, so its collision ≡ "
    "text-equality contract is pinned in tests/test_dedup.py instead.",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint_md5(load_table(spark, sf_dir, "documents"))


# MinHash permutation constants rendered into the oracle so DuckDB replays
# the exact signature arithmetic (h*a+b mod p over the portable 60-bit
# shingle hash) — same frozen LCG sequence as the Spark side.
_MINHASH_SIG_TERMS = ", ".join(
    f"MIN((h*{a}+{b})%{dedup._MINHASH_P})" for a, b in dedup._perm_params(32)
)


@register(
    "minhash_dedup_candidates",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM toks WHERE len(w) >= 3
    ), h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % """
    + str(dedup._MINHASH_P)
    + """ AS h FROM sh
    ), sig AS (
      SELECT doc_id, ["""
    + _MINHASH_SIG_TERMS
    + r"""] AS sig FROM h GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, b.range AS band, sig[b.range*4 + 1 : b.range*4 + 4] AS bv
      FROM sig CROSS JOIN range(8) b
    )
    SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
    FROM banded x JOIN banded y
      ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
    """,
    doc="MinHash(32 perms) + LSH(8 bands) candidate pairs — the 100 TB "
    "near-dup path: cost scales with near-dup pairs, not all pairs. "
    "Catalog variant uses the portable md5-derived shingle hash so the "
    "whole signature+banding pipeline is value-checked against the DuckDB "
    "oracle (same perm constants rendered into the SQL); the scale "
    "default stays xxhash64. tests/test_dedup.py additionally proves "
    "candidates ⊇ all true Jaccard≥0.8 pairs. "
    "operators/dedup.py::minhash_dedup_candidates.",
)
def minhash_dedup_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_dedup_candidates(
        load_table(spark, sf_dir, "documents"), portable=True
    )


@register(
    "dedup_clusters",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT d1, d2
      FROM shared
      JOIN sizes sa ON sa.doc_id = d1
      JOIN sizes sb ON sb.doc_id = d2
      WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.8
    ), edges AS (
      SELECT d1 AS u, d2 AS v FROM pairs
      UNION
      SELECT d2, d1 FROM pairs
    ), reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
    )
    SELECT u AS doc, MIN(v) AS cluster_id FROM reach GROUP BY u
    """,
    doc="Connected components over the exact near-dup pairs → one "
    "cluster id (component min) per involved document — the step that "
    "turns pairwise matches into dedup groups (a≈b, b≈c ⟹ {a,b,c}). "
    "Iterative min-label propagation, O(component diameter) rounds of "
    "join+groupBy; oracle is the DuckDB recursive-CTE transitive "
    "closure. operators/dedup.py::duplicate_clusters.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    return dedup.duplicate_clusters(pairs)


@register(
    "simhash_near_pairs",
    oracle=r"""
    WITH th AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
            FROM documents)
    ), bits AS (
      SELECT doc_id, p.range AS p, SUM((h >> p.range) & 1) AS s, COUNT(*) AS n
      FROM th CROSS JOIN range(60) p
      GROUP BY doc_id, p.range
    ), sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN 2*s > n THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS sh
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 8
    """,
    doc="SimHash near-dup pairs within Hamming≤8, blocked into "
    "max_hamming+1 = 9 variable-width (~7-bit) blocks: a pair within "
    "Hamming≤8 cannot differ in every block (pigeonhole), so at least "
    "one block matches exactly — guaranteed recall, candidates verified "
    "with the true bit_count distance. Catalog variant uses the portable "
    "md5-derived token hash (60 effective bits), so the DuckDB oracle "
    "recomputes the identical signature via per-bit majority sums and "
    "checks pairs by brute force — blocking is pure optimization and "
    "must reproduce the brute-force answer exactly. The scale default "
    "stays xxhash64. operators/dedup.py::simhash_near_pairs.",
)
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), portable=True
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _embedding_queries(spark: SparkSession, sf_dir: str, n: int = 5):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    return queries, corpus


@register(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ), sims AS (
      SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim
    FROM ranked WHERE rn <= 10
    """,
    doc="Brute-force cosine top-10 for 5 query vectors — the exact ANN "
    "baseline. Dot/norms via zip_with+aggregate (JVM, no UDF); query side "
    "broadcast; per-query ranking window with deterministic tie-break. "
    "operators/similarity.py::cosine_topk. Scale path: lsh_ann_topk.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, corpus = _embedding_queries(spark, sf_dir)
    return similarity.cosine_topk(queries, corpus, k=10)


@register(
    "lsh_ann_topk",
    # The raw LSH top-k rows are not cross-engine reproducible (bucket
    # membership and probe choice hang on the SIGN and margin ORDER of
    # float dot products), but the method's CONTRACT is deterministic —
    # so the catalog answer is the guarantee-gate view: the full LSH
    # pipeline runs, and the output carries the exact brute-force top-1
    # (oracle recomputes it value-for-value) plus flags that are TRUE by
    # construction for a correct implementation. The
    # approx_event_stats/cms_* pattern; raw top-k rows stay available via
    # operators/similarity.py::lsh_bucket_topk with recall pinned in
    # tests/test_similarity.py.
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ), sims AS (
      SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims
    )
    SELECT query_id,
           neighbor_id AS exact_top1_id,
           ROUND(sim, 4) AS exact_top1_sim,
           TRUE AS sims_match_exact,
           TRUE AS self_excluded,
           TRUE AS k_bounded,
           TRUE AS max_sim_le_exact_top1,
           TRUE AS top1_sim_attained_if_present
    FROM ranked WHERE rn = 1
    """,
    doc="LSH-bucketed approximate top-k, emitted as its guarantee gate: "
    "8 random-hyperplane sign bits bucket the corpus, each query scores "
    "only its probed buckets (expected 4·|corpus|/256 per query at "
    "100 TB vs full scan); multi-probe flips the 3 lowest-margin sign "
    "bits (the likeliest-miss buckets). Output = exact brute-force "
    "top-1 per query + by-construction flags (emitted sims are true "
    "cosines, self excluded, ≤ k rows, bounded by the exact top-1, and "
    "the top-1 ranks first whenever its bucket was probed) — the "
    "oracle recomputes the exact twin and asserts the flags, so a "
    "broken bucket join or score expression hash-mismatches instead of "
    "sailing through a rows-only check. "
    "operators/similarity.py::lsh_recall_gate / lsh_bucket_topk.",
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, corpus = _embedding_queries(spark, sf_dir)
    return similarity.lsh_recall_gate(
        queries, corpus, dim=64, k=10, n_planes=8, n_probes=4
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    # Byte stats are deterministic: n_bytes = octet_length(utf8(text)),
    # byte_sum = Σ byte values. The corpus is pure ASCII (max codepoint 121
    # at every SF), so per-char unicode() equals the byte value; a non-ASCII
    # corpus would need blob byte arithmetic instead.
    oracle="""
    WITH b AS (
      SELECT doc_id AS asset_id,
             CAST(COALESCE(octet_length(encode(text)), 0) AS BIGINT) AS n_bytes,
             CAST(COALESCE(list_aggregate(list_transform(split(text, ''),
                  c -> unicode(c)), 'sum'), 0) AS BIGINT) AS byte_sum
      FROM documents
    )
    SELECT asset_id, n_bytes, byte_sum,
           CAST(byte_sum // GREATEST(n_bytes, 1) AS BIGINT) AS byte_mean,
           'image' AS modality
    FROM b
    """,
    doc="Binary-column pipeline: documents → binary payload + metadata "
    "struct → Arrow-batched mapInPandas feature extraction (decode step "
    "stubbed with deterministic byte stats; codecs absent here). The "
    "schema/partitioning/batch plumbing is the real thing, and the byte "
    "stats are exact — the DuckDB oracle recomputes them from the text "
    "payload. operators/multimodal.py.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_features(multimodal.assets_from_documents(docs), fake=True)


@register(
    "embedding_near_dup_pairs",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.35
    """,
    doc="Embedding-cosine near-dup pairs with label blocking, skew-safe: "
    "exact all-pairs within blocks up to a size cap (1000 — every label "
    "block at every test SF is under it, so results are exact and the "
    "oracle holds); blocks beyond the cap degrade to hyperplane-LSH "
    "sub-buckets with an oversize_blocks report instead of an O(hot²) "
    "single-task explosion. Scoring is one Arrow-batched numpy GEMM per "
    "block (shuffle O(n·d), not O(pairs·d); a 200k-pair JVM fold costs "
    "~4.5 s, the gemm ~1 ms) — the per-pair expression twin "
    "blocked_cosine_pairs stays as the JVM verification path. "
    "operators/similarity.py::blocked_cosine_pairs_gemm.",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.blocked_cosine_pairs_gemm(
        emb, id_col="vec_id", vec_col="embedding", block_col="label",
        threshold=0.35, dim=64, max_block_size=1000,
    )
    return pairs.select("d1", "d2", F.round("sim", 4).alias("cosine_sim"))


@register(
    "purchase_click_asof",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts AS p_ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts AS c_ts, event_id AS click_id, value AS click_value
      FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, p.user_id, c.click_id,
           ROUND(c.click_value, 2) AS click_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.p_ts >= c.c_ts
    """,
    doc="AS-OF join (purchase → latest prior click per user): an operator "
    "Spark lacks natively, composed as the scalable union+window pattern "
    "(one shuffle+sort over |L|+|R|, no range-join row explosion) and "
    "oracle-checked against DuckDB's native ASOF JOIN. "
    "operators/joins.py::asof_join_backward.",
)
def purchase_click_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
        F.round("value", 2).alias("click_value"),
    )
    joined = asof_join_backward(
        purchases, clicks, on="user_id", left_ts="p_ts", right_ts="c_ts",
        payload_cols=["click_id", "click_value"],
    )
    return joined.select("purchase_id", "user_id", "click_id", "click_value")


@register(
    "purchase_error_range_join",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts AS p_ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    ), errors AS (
      SELECT user_id, ts AS e_ts, event_id AS error_id
      FROM events WHERE event_type = 'error'
    )
    SELECT p.purchase_id, e.error_id, p.user_id,
           epoch_us(e.e_ts) - epoch_us(p.p_ts) AS us_after
    FROM purchases p JOIN errors e
      ON p.user_id = e.user_id
     AND e.e_ts > p.p_ts
     AND epoch_us(e.e_ts) <= epoch_us(p.p_ts) + CAST(1800 AS BIGINT) * 1000000
    """,
    doc="Range (interval) join — errors within 30 minutes after a purchase "
    "by the same user. Implemented as the bucketed range join (time "
    "buckets of the window width; left fans out to 2 buckets; equi-join "
    "on (key, bucket) + exact filter) so candidates are bounded by bucket "
    "co-residency, not per-key density — the shape that survives hot "
    "users at 100 TB. operators/joins.py::range_join_window.",
)
def purchase_error_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import range_join_window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("e_ts"), F.col("event_id").alias("error_id")
    )
    joined = range_join_window(
        purchases, errors, on="user_id", left_ts="p_ts", right_ts="e_ts",
        window_seconds=1800,
    )
    return joined.select(
        "purchase_id",
        "error_id",
        "user_id",
        (F.unix_micros("e_ts") - F.unix_micros("p_ts")).alias("us_after"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting
# ---------------------------------------------------------------------------

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_T = dict(sampling.hash_split_thresholds(_SPLIT_WEIGHTS, salt="split-v1"))
_STRATA_FRACS = {"src0": 0.9, "src1": 0.5, "src2": 0.25}
_STRATA_DEFAULT = 0.1


@register(
    "hash_split_assign",
    oracle=f"""
    SELECT doc_id,
           CASE
             WHEN substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < '{_SPLIT_T["train"]}' THEN 'train'
             WHEN substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < '{_SPLIT_T["val"]}' THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
    doc="Deterministic train/val/test assignment: threshold the first 8 "
    "hex chars of md5(salt||doc_id) — reproducible across runs, engines "
    "and cluster sizes, and a doc's split never changes as the corpus "
    "grows. Pure map-side projection, no shuffle, no rand(). "
    "operators/sampling.py::hash_split.",
)
def hash_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt="split-v1").select(
        "doc_id", "split"
    )


@register(
    "stratified_sample_docs",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5('sample-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE source
              WHEN 'src0' THEN '{sampling._threshold(_STRATA_FRACS["src0"])}'
              WHEN 'src1' THEN '{sampling._threshold(_STRATA_FRACS["src1"])}'
              WHEN 'src2' THEN '{sampling._threshold(_STRATA_FRACS["src2"])}'
              ELSE '{sampling._threshold(_STRATA_DEFAULT)}'
            END
    """,
    doc="Deterministic per-stratum subsample (the per-source mixing knob "
    "of a training-data pipeline: 90% of src0, 50% of src1, 25% of src2, "
    "10% elsewhere) via the same salted-md5 threshold trick — "
    "engine-reproducible, growth-stable, shuffle-free filter. "
    "operators/sampling.py::stratified_sample.",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, "source", _STRATA_FRACS, default_frac=_STRATA_DEFAULT,
        key_col="doc_id", salt="sample-v1",
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Vocabulary / contamination
# ---------------------------------------------------------------------------


@register(
    "vocabulary_topk",
    oracle="""
    SELECT t AS token, COUNT(*) AS term_freq, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
      FROM documents
    )
    GROUP BY t
    ORDER BY term_freq DESC, t
    LIMIT 20
    """,
    doc="Top-20 corpus vocabulary with term+document frequency — the "
    "first artifact of a tokenizer/BPE build. Word-count shape: explode → "
    "map-side-combined groupBy; global top-k via TakeOrdered on the "
    "aggregated vocabulary, total tie-break (freq desc, token asc). "
    "operators/text.py::vocabulary.",
)
def vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocabulary(load_table(spark, sf_dir, "documents"), top_k=20)


_CONTAM_T = dict(
    sampling.hash_split_thresholds({"train": 0.9, "eval": 0.1}, salt="contam-v1")
)


@register(
    "train_eval_contamination",
    oracle=f"""
    WITH labeled AS (
      SELECT doc_id, text,
             CASE WHEN substr(md5('contam-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < '{_CONTAM_T["train"]}'
                  THEN 'train' ELSE 'eval' END AS part
      FROM documents
    ), toks AS (
      SELECT doc_id, part,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM labeled
    ), sh AS (
      SELECT doc_id, part,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM toks
    ), e_sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh WHERE part = 'eval' GROUP BY doc_id
    ), shared AS (
      SELECT e.doc_id AS eval_id, t.doc_id AS train_id, COUNT(*) AS shared
      FROM (SELECT * FROM sh WHERE part = 'eval') e
      JOIN (SELECT * FROM sh WHERE part = 'train') t ON e.s = t.s
      GROUP BY 1, 2
    )
    SELECT eval_id, train_id, shared,
           ROUND(CAST(shared AS DOUBLE) / n_sh, 4) AS contam_frac
    FROM shared JOIN e_sizes ON shared.eval_id = e_sizes.doc_id
    WHERE CAST(shared AS DOUBLE) / n_sh >= 0.2
    """,
    doc="Benchmark decontamination: deterministically hash-split the "
    "corpus 90/10 into train/eval, then flag eval docs sharing ≥20% of "
    "their 3-gram shingles with any train doc. Inverted-index train×eval "
    "join on 64-bit shingle keys — cost scales with true overlap; the "
    "split is the same salted-md5 threshold as hash_split_assign, so the "
    "oracle reproduces it exactly. "
    "operators/dedup.py::cross_contamination.",
)
def train_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Shingle the corpus ONCE, then split the posting list by re-deriving
    # each row's split from its doc id (hash_split is a salted-hash
    # projection, so membership costs an expression, not a join back to
    # the split table). Local wall time is a wash vs splitting first
    # (each side then shingles only its subset, 0.9+0.1 = one corpus of
    # work), but this shape scans the documents table ONCE instead of
    # twice and materializes ONE posting checkpoint instead of two —
    # what matters when the scan is the expensive part (remote storage)
    # or when other dedup ops share the same postings.
    postings = sampling.hash_split(
        dedup.shingle_postings(docs, n=3),
        "doc",
        {"train": 0.9, "eval": 0.1},
        salt="contam-v1",
    )
    return dedup.cross_contamination(
        docs,
        docs,
        n=3,
        threshold=0.2,
        train_postings=postings.filter(F.col("split") == "train").select("doc", "s"),
        eval_postings=postings.filter(F.col("split") == "eval").select("doc", "s"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------


@register(
    "pii_scrub_customers",
    oracle="""
    SELECT c_custkey,
           'anon-' || substr(md5('pii-v1' || c_name), 1, 12) AS pseudonym,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
           CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_band,
           c_mktsegment
    FROM customer
    """,
    doc="PII anonymization before a table can feed training: stable "
    "salted-md5 pseudonym (joins across scrubbed tables keep working), "
    "digit-masked display name, k-anonymity banding of the precise "
    "balance. Pure map-side projection — regex+hash in the scan stage, "
    "no shuffle. operators/privacy.py::scrub.",
)
def pii_scrub_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        privacy.pseudonym("c_name").alias("pseudonym"),
        privacy.mask_pattern("c_name").alias("name_masked"),
        privacy.generalize_numeric("c_acctbal", 1000).alias("acctbal_band"),
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# Shard packing
# ---------------------------------------------------------------------------


@register(
    "token_budget_shards",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 1000) AS BIGINT) AS shard_id
    FROM t
    """,
    doc="Greedy token-budget shard packing (1000 tokens/shard) per "
    "source: cumulative-token window in deterministic doc order; a shard "
    "overruns by at most the straddling doc. Parallel across sources — "
    "packing is sequential within a group by definition, so the group "
    "key IS the scale unit (pack per (source,date) at 100 TB; no global "
    "mode exists). operators/packing.py::pack_shards.",
)
def token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return packing.pack_shards(docs, budget=1000)


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------


def _ivf_centroids(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") % 61 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv_c")
    )


@register(
    "ivf_assignments",
    oracle="""
    WITH c AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id % 61 = 0
    ), scored AS (
      SELECT e.vec_id, c.cid,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) AS sim
      FROM embeddings e CROSS JOIN c
    ), ranked AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
      FROM scored
    )
    SELECT vec_id, cid AS centroid_id FROM ranked WHERE rn = 1
    """,
    doc="IVF cell assignment: every vector → nearest of ~n/61 "
    "deterministic centroids by cosine (tie-break centroid id). "
    "Broadcast-centroid cross-score + per-vector argmax window — the "
    "partitioning step of IVF ANN; repartition by the output cell to "
    "co-locate cells at 100 TB. operators/similarity.py::ivf_assign.",
)
def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(spark, sf_dir)
    return similarity.ivf_assign(
        emb, cents, corpus_id="vec_id", corpus_vec="embedding",
        cent_id="cid", cent_vec="cv_c",
    )


@register(
    "ivf_ann_topk",
    oracle="""
    WITH c AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id % 61 = 0
    ), assign AS (
      SELECT vec_id, cid AS centroid_id FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                            c.cid) AS rn
        FROM embeddings e CROSS JOIN c
      ) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ), probes AS (
      SELECT query_id, qv, cid AS centroid_id FROM (
        SELECT q.query_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
        FROM q CROSS JOIN c
      ) WHERE rn <= 2
    ), cand AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(p.qv, CAST(e.embedding AS DOUBLE[])) AS sim
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN embeddings e ON e.vec_id = a.vec_id
      WHERE e.vec_id <> p.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM cand
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim
    FROM ranked WHERE rn <= 10
    """,
    doc="IVF approximate top-k: queries probe their 2 nearest centroid "
    "cells and score only those cells' vectors (|corpus|·2/n_cells per "
    "query instead of a full scan). Deterministic cosine math end-to-end "
    "— unlike the LSH path this is fully oracle-checkable. "
    "operators/similarity.py::ivf_topk.",
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, corpus = _embedding_queries(spark, sf_dir)
    cents = _ivf_centroids(spark, sf_dir)
    return similarity.ivf_topk(queries, corpus, cents, k=10, n_probes=2)


@register(
    "dedup_corpus",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT d1, d2
      FROM shared
      JOIN sizes sa ON sa.doc_id = d1
      JOIN sizes sb ON sb.doc_id = d2
      WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.8
    ), edges AS (
      SELECT d1 AS u, d2 AS v FROM pairs
      UNION
      SELECT d2, d1 FROM pairs
    ), reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
    ), losers AS (
      SELECT u FROM (SELECT u, MIN(v) AS cl FROM reach GROUP BY u) WHERE u <> cl
    )
    SELECT doc_id, source FROM documents
    WHERE doc_id NOT IN (SELECT u FROM losers)
    """,
    doc="End-to-end near-dup removal: Jaccard≥0.8 pairs → connected "
    "components → keep only each cluster's canonical (min-id) doc. The "
    "full pipeline a training corpus actually runs, closed with the "
    "anti-join apply step (compact 8-byte keys; AQE chooses "
    "broadcast vs shuffle by loser-set size). "
    "operators/dedup.py::apply_dedup.",
)
def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    clusters = dedup.duplicate_clusters(pairs)
    return dedup.apply_dedup(docs, clusters).select("doc_id", "source")


@register(
    "dedup_corpus_best",
    # Same pair/cluster machinery as dedup_corpus, different survivor
    # rule: per cluster keep the highest-n_chars member (ties -> min id).
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT d1, d2
      FROM shared
      JOIN sizes sa ON sa.doc_id = d1
      JOIN sizes sb ON sb.doc_id = d2
      WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.8
    ), edges AS (
      SELECT d1 AS u, d2 AS v FROM pairs
      UNION
      SELECT d2, d1 FROM pairs
    ), reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
    ), labeled AS (
      SELECT u AS doc_id, MIN(v) AS cl FROM reach GROUP BY u
    ), ranked AS (
      SELECT l.doc_id, l.cl,
             ROW_NUMBER() OVER (PARTITION BY l.cl
                                ORDER BY d.n_chars DESC, l.doc_id) AS rn
      FROM labeled l JOIN documents d USING (doc_id)
    ), losers AS (
      SELECT doc_id FROM ranked WHERE rn > 1
    )
    SELECT doc_id, source FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    doc="Quality-aware dedup apply: identical pair/cluster machinery to "
    "dedup_corpus, but each cluster keeps its HIGHEST-quality member "
    "(n_chars here; any score column works) with min-id tie-break — the "
    "survivor rule curation pipelines actually want. Window over "
    "clustered docs only (near-dup groups are small; the untouched "
    "majority never enters the shuffle). "
    "operators/dedup.py::apply_dedup_best.",
)
def dedup_corpus_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    clusters = dedup.duplicate_clusters(pairs)
    return dedup.apply_dedup_best(docs, clusters, "n_chars").select("doc_id", "source")
