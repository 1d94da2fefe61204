"""Round-5 session-2 extension queries: importance-based data selection,
novelty accounting, and deterministic embedding decompositions.

Same contract as catalog.py: every ``@register`` pairs a Spark builder
with a DuckDB oracle that recomputes the FULL pipeline in SQL (hash
functions, quantization, even the PCA power iteration are chosen to be
bit-reproducible across engines — see the operator docstrings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table, register


@register(
    "dsir_importance_weights",
    oracle=r"""
    WITH feat AS (
      SELECT doc_id, (lang = 'en') AS is_target,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 8192 AS f
      FROM (
        SELECT doc_id, lang,
               unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
      )
    ), tots AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_r,
             CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS n_t
      FROM feat
    ), model AS (
      SELECT f, COUNT(*) AS c_r,
             SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t
      FROM feat GROUP BY f
    ), ratio AS (
      SELECT f, ln((c_t + 1.0) / (t.n_t + 8192.0))
               - ln((c_r + 1.0) / (t.n_r + 8192.0)) AS lr
      FROM model CROSS JOIN tots t
    )
    SELECT feat.doc_id, feat.is_target,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(lr), 4) AS dsir_logw
    FROM feat JOIN ratio USING (f)
    GROUP BY feat.doc_id, feat.is_target
    ORDER BY feat.doc_id
    """,
    doc="DSIR importance weights (Xie et al. 2023): every document "
    "scored by the log ratio of two add-1-smoothed hashed-unigram "
    "models — target slice (here lang='en') vs the whole raw corpus — "
    "the standard 'select raw-crawl data that looks like my curated "
    "set' recipe. Both models are BUCKET-sized (8192 keys, map-side "
    "partial counts), the fitted log-ratio table broadcasts back onto "
    "the token stream, and the per-doc sum is one partial-aggregated "
    "groupBy: nothing corpus-sized ever shuffles except the token "
    "explode itself. operators/selection.py::dsir_importance_weights.",
)
def dsir_importance_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selection import dsir_importance_weights

    return dsir_importance_weights(
        load_table(spark, sf_dir, "documents"), target_pred=F.col("lang") == "en"
    )


@register(
    "doc_novelty_scores",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM toks WHERE len(w) >= 3
      )
    ), first AS (
      SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS novelty
    FROM sh JOIN first f USING (s)
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id
    """,
    doc="Ingest-order content novelty: per document, the fraction of "
    "its distinct word-3-gram shingles whose corpus-wide first "
    "occurrence (min doc_id) is this document — the duplication-"
    "pressure signal ('how much NEW text did this crawl add') that "
    "pairwise near-dup thresholds miss when copying is diffuse. The "
    "first-occurrence table is one vocabulary-sized min-agg on the "
    "8-byte shingle keys; the join back reuses its shuffle "
    "partitioning; the roll-up is a map-side-partial groupBy. "
    "operators/dedup.py::doc_novelty.",
)
def doc_novelty_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import doc_novelty

    return doc_novelty(load_table(spark, sf_dir, "documents"))


@register(
    "jl_projection_docs",
    oracle=r"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ), sgn AS (
      SELECT j, i,
             CASE WHEN substr(md5('jl-v1:' || CAST(j AS VARCHAR) || ':'
                              || CAST(i AS VARCHAR)), 1, 1)
                  IN ('0','2','4','6','8','a','c','e')
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(range(0, 16)) AS j)
      CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
    ), proj AS (
      SELECT e.vec_id, sgn.j, SUM(sgn.s * e.q[sgn.i + 1]) AS y
      FROM e CROSS JOIN sgn
      GROUP BY e.vec_id, sgn.j
    )
    SELECT vec_id, CAST(j AS INT) AS j,
           y / 4000000.0 AS val
    FROM proj ORDER BY vec_id, j
    """,
    doc="Johnson-Lindenstrauss compression 64->16 dims with a "
    "deterministic ±1 sign matrix derived from md5 parity (Achlioptas "
    "2003 database-friendly projections): the matrix is a pure "
    "function, so any engine regenerates it — nothing to ship, and "
    "the SQL oracle value-checks the whole projection. Sums run over "
    "integer-quantized inputs, so the result is exact and order-free: "
    "safe as a blocking key for the ANN family (a float-summed "
    "projection could bucket the same vector differently across "
    "runs). Map-only — zero shuffles, zero UDFs, plan-pinned. "
    "operators/similarity.py::jl_project.",
)
def jl_projection_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import jl_project

    return jl_project(load_table(spark, sf_dir, "embeddings"))


@register(
    "pca_power_scores",
    oracle=r"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings
    ), flat AS (
      SELECT vec_id, idx.i, q[idx.i] AS x
      FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
    ), g AS (
      SELECT a.i, b.i AS j, SUM(a.x * b.x) AS gv
      FROM flat a JOIN flat b USING (vec_id)
      GROUP BY a.i, b.i
    ), v0 AS (
      SELECT unnest(range(1, 65)) AS i, 1.0 AS val
    ), y1 AS (
      SELECT g.i, SUM(g.gv * v0.val) AS y FROM g JOIN v0 ON g.j = v0.i GROUP BY g.i
    ), v1 AS (
      SELECT i, ROUND(y / (SELECT MAX(ABS(y)) FROM y1), 10) AS val FROM y1
    ), y2 AS (
      SELECT g.i, SUM(g.gv * v1.val) AS y FROM g JOIN v1 ON g.j = v1.i GROUP BY g.i
    ), v2 AS (
      SELECT i, ROUND(y / (SELECT MAX(ABS(y)) FROM y2), 10) AS val FROM y2
    ), y3 AS (
      SELECT g.i, SUM(g.gv * v2.val) AS y FROM g JOIN v2 ON g.j = v2.i GROUP BY g.i
    ), v3 AS (
      SELECT i, ROUND(y / (SELECT MAX(ABS(y)) FROM y3), 10) AS val FROM y3
    )
    SELECT f.vec_id, ROUND(SUM(f.x * v3.val) / 1000.0, 4) AS pc1_score
    FROM flat f JOIN v3 ON f.i = v3.i
    GROUP BY f.vec_id
    ORDER BY f.vec_id
    """,
    doc="First-principal-component scores: one distributed Gram pass "
    "(per-partition integer GEMM partials via Arrow mapInPandas — d² "
    "rows per partition regardless of row count, 100 TB of vectors "
    "reduce to 2080 driver rows) + a bounded driver power iteration "
    "(3 steps, all-ones init, L∞ normalize, round 10 — a fixed SQL-"
    "expressible recipe rather than an opaque eigh, which is what "
    "lets the oracle reproduce the eigensolve value-for-value) + a "
    "map-only broadcast-back projection. The k-means economics "
    "applied to PCA. operators/similarity.py::pca_power_scores.",
)
def pca_power_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pca_power_scores

    return pca_power_scores(load_table(spark, sf_dir, "embeddings"))


@register(
    "jl_bucket_near_dups",
    oracle=r"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ), sgn AS (
      SELECT j, i,
             CASE WHEN substr(md5('jl-v1:' || CAST(j AS VARCHAR) || ':'
                              || CAST(i AS VARCHAR)), 1, 1)
                  IN ('0','2','4','6','8','a','c','e')
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(range(0, 8)) AS j)
      CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
    ), y AS (
      SELECT e.vec_id, sgn.j, SUM(sgn.s * e.q[sgn.i + 1]) AS y
      FROM e CROSS JOIN sgn GROUP BY e.vec_id, sgn.j
    ), bkt AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN y >= 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS b
      FROM y GROUP BY vec_id
    ), t AS (
      SELECT e.vec_id, e.v, bkt.b FROM e JOIN bkt USING (vec_id)
    )
    SELECT a.vec_id AS d1, c.vec_id AS d2,
           ROUND(list_cosine_similarity(a.v, c.v), 4) AS cosine_sim
    FROM t a JOIN t c ON a.b = c.b AND a.vec_id < c.vec_id
    WHERE list_cosine_similarity(a.v, c.v) >= 0.3
    ORDER BY d1, d2
    """,
    doc="Embedding near-dup pairs blocked by the SIGNS of the first 8 "
    "JL components — an angular-LSH (SimHash) pipeline whose blocking "
    "key is an exact integer sign, so the whole thing value-checks "
    "against a SQL oracle (the seeded-random LSH twin, lsh_ann_topk, "
    "verifies via its guarantee gate; this query is the family's "
    "value-exact representative). 2^8 buckets cut the self-join to ~(n/256)² per "
    "bucket; exact cosine on the original vectors scores only within-"
    "bucket candidates. operators/similarity.py::jl_bucket_near_dups.",
)
def jl_bucket_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import jl_bucket_near_dups

    return jl_bucket_near_dups(
        load_table(spark, sf_dir, "embeddings"), threshold=0.3
    )


@register(
    "oov_rates_by_source",
    oracle=r"""
    WITH tok AS (
      SELECT source AS grp,
             unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ), vocab AS (
      SELECT t FROM (
        SELECT t, COUNT(*) AS f FROM tok GROUP BY t
        ORDER BY f DESC, t ASC LIMIT 16
      )
    )
    SELECT tok.grp AS source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS oov_rate
    FROM tok LEFT JOIN vocab ON tok.t = vocab.t
    GROUP BY tok.grp
    ORDER BY source
    """,
    doc="Out-of-vocabulary rate per source against the corpus top-16 "
    "token vocabulary — the tokenizer-coverage diagnostic: which "
    "sources fragment into byte-fallback under a vocab fitted on the "
    "whole mix. Vocab = one vocabulary-sized grouped count + a "
    "TakeOrdered top-V (partial per-partition, no global sort); "
    "membership is a V-row broadcast left join onto the token stream; "
    "rollup partial-aggregates map-side. "
    "operators/text.py::oov_rates.",
)
def oov_rates_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import oov_rates

    return oov_rates(load_table(spark, sf_dir, "documents"), vocab_size=16)


@register(
    "dup_graph_pagerank",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
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
    ), ed0 AS (
      SELECT d1, d2 FROM shared
      JOIN sizes sa ON sa.doc_id = d1
      JOIN sizes sb ON sb.doc_id = d2
      WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.02
    ), sym AS (
      SELECT d1 AS s, d2 AS t FROM ed0
      UNION ALL
      SELECT d2 AS s, d1 AS t FROM ed0
    ), deg AS (
      SELECT s, COUNT(*) AS deg FROM sym GROUP BY s
    ), n AS (
      SELECT COUNT(*) AS n_nodes FROM deg
    ), r0 AS (
      SELECT s AS node, 1.0 / n.n_nodes AS r FROM deg CROSS JOIN n
    ), c1 AS (
      SELECT sym.t AS node, SUM(r0.r / deg.deg) AS in_sum
      FROM sym JOIN deg USING (s) JOIN r0 ON r0.node = sym.s
      GROUP BY sym.t
    ), r1 AS (
      SELECT node, ROUND((1.0 - 0.85) / n.n_nodes + 0.85 * in_sum, 10) AS r
      FROM c1 CROSS JOIN n
    ), c2 AS (
      SELECT sym.t AS node, SUM(r1.r / deg.deg) AS in_sum
      FROM sym JOIN deg USING (s) JOIN r1 ON r1.node = sym.s
      GROUP BY sym.t
    ), r2 AS (
      SELECT node, ROUND((1.0 - 0.85) / n.n_nodes + 0.85 * in_sum, 10) AS r
      FROM c2 CROSS JOIN n
    ), c3 AS (
      SELECT sym.t AS node, SUM(r2.r / deg.deg) AS in_sum
      FROM sym JOIN deg USING (s) JOIN r2 ON r2.node = sym.s
      GROUP BY sym.t
    ), r3 AS (
      SELECT node, ROUND((1.0 - 0.85) / n.n_nodes + 0.85 * in_sum, 10) AS r
      FROM c3 CROSS JOIN n
    )
    SELECT deg.s AS node, CAST(deg.deg AS BIGINT) AS degree,
           ROUND(r3.r, 4) AS pagerank
    FROM deg JOIN r3 ON r3.node = deg.s
    ORDER BY node
    """,
    doc="Duplication-centrality PageRank over the weak-tie similarity "
    "graph (word-3-gram Jaccard >= 0.02 — deliberately below the "
    "near-dup threshold: centrality needs the broad overlap graph, not "
    "just the mirror pairs). Ranks hub/template documents whose "
    "content radiates through the corpus — the signal connected "
    "components flattens away. Iterations are one 8-byte-key equi-join "
    "+ grouped sum each over a localCheckpointed edge list; fixed "
    "3-step recipe with per-step rounding, so the DuckDB oracle "
    "reproduces the whole iteration value-for-value (the PCA power-"
    "iteration pattern). Oracle note: the teleport constant is written "
    "(1.0 - 0.85), not 0.15 — IEEE 1.0-0.85 != the nearest double to "
    "0.15, and both engines must compute the SAME subtraction. "
    "operators/graph.py::pagerank.",
)
def dup_graph_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup
    from ..operators.graph import pagerank

    edges = dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.02
    )
    return pagerank(edges)


@register(
    "bloom_ingest_screen",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
      FROM documents
    ), build AS (
      SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 0
    ), setpos AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5('bloom-v1:' || CAST(i.i AS VARCHAR)
                                  || ':' || f), 1, 15)) AS BIGINT) % 4096
               AS pos
      FROM build CROSS JOIN (SELECT unnest(range(3)) AS i) i
    ), probes AS (
      SELECT doc_id, f,
             CAST(('0x' || substr(md5('bloom-v1:' || CAST(i.i AS VARCHAR)
                                  || ':' || f), 1, 15)) AS BIGINT) % 4096
               AS pos
      FROM fp CROSS JOIN (SELECT unnest(range(3)) AS i) i
    ), mc AS (
      SELECT p.doc_id,
             MIN(CASE WHEN s.pos IS NULL THEN 0 ELSE 1 END) = 1
               AS might_contain
      FROM probes p LEFT JOIN setpos s ON p.pos = s.pos
      GROUP BY p.doc_id
    )
    SELECT mc.doc_id, mc.might_contain,
           (fp.f IN (SELECT f FROM build)) AS exact_member,
           (NOT (fp.f IN (SELECT f FROM build))) OR mc.might_contain
             AS no_false_negative
    FROM mc JOIN fp ON fp.doc_id = mc.doc_id
    ORDER BY mc.doc_id
    """,
    doc="Bloom-filter ingest screen — the memory-bounded membership test "
    "a 100 TB cross-corpus dedup runs before paying an exact anti-join: "
    "even-id docs' normalized fingerprints build a fixed-size filter "
    "(<= 4096 set-position rows regardless of corpus size, broadcast "
    "once), the WHOLE corpus probes it with one broadcast join (the "
    "probe corpus never shuffles). Positions come from salted md5 — "
    "engine-portable, so unlike library blooms the WHOLE filter is "
    "value-exact in SQL: the oracle rebuilds every set bit and "
    "reproduces each might_contain verdict, plus the Bloom contract "
    "flag (no false negatives; FALSE is definitive, TRUE goes on to "
    "the exact screen — operators/dedup.py::cross-corpus ingest). "
    "operators/sketches.py::bloom_build/bloom_probe.",
)
def bloom_ingest_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches
    from ..operators.text import fingerprint_md5

    fp = fingerprint_md5(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("fp_md5").alias("f")
    )
    build = fp.filter(F.col("doc_id") % 2 == 0).select("f").distinct()
    bloom = sketches.bloom_build(build, "f")
    screened = sketches.bloom_probe(bloom, fp, "f", id_cols=["doc_id", "f"])
    members = build.select(F.col("f"), F.lit(True).alias("_m"))
    return (
        screened.join(F.broadcast(members), "f", "left")
        .select(
            "doc_id",
            "might_contain",
            F.coalesce("_m", F.lit(False)).alias("exact_member"),
            (~F.coalesce("_m", F.lit(False)) | F.col("might_contain")).alias(
                "no_false_negative"
            ),
        )
    )


@register(
    "training_sequence_spans",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                             x -> x <> '')) AS n
      FROM documents
    ), s AS (
      SELECT source, doc_id, n,
             COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS st
      FROM t WHERE n > 0
    ), e AS (
      SELECT source, doc_id, n, st,
             unnest(range(CAST(st // 128 AS BIGINT),
                          CAST((st + n - 1) // 128 + 1 AS BIGINT))) AS seq_id
      FROM s
    )
    SELECT source,
           CAST(seq_id AS BIGINT) AS seq_id,
           doc_id,
           CAST(GREATEST(st, seq_id * 128) - seq_id * 128 AS BIGINT)
             AS seq_start,
           CAST(GREATEST(st, seq_id * 128) - st AS BIGINT) AS doc_offset,
           CAST(LEAST(st + n, seq_id * 128 + 128)
                - GREATEST(st, seq_id * 128) AS BIGINT) AS chunk_len
    FROM e
    ORDER BY source, seq_id, doc_id
    """,
    doc="GPT-style sequence packing with document-boundary spans: "
    "documents concatenate in deterministic order per source and cut "
    "every 128 tokens; output is the (sequence, doc chunk) boundary map "
    "a trainer needs for cross-document attention masking (seq_start / "
    "doc_offset / chunk_len per straddle). One per-source cumulative "
    "window (packing is sequential within a group by definition — "
    "parallelism comes from the grouping key, never a global window) "
    "plus a per-row sequence() explode bounded by 1 + n_tokens/128 rows "
    "per doc. Fully SQL-expressible, value-checked end to end. "
    "operators/packing.py::pack_sequences.",
)
def training_sequence_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import packing

    return packing.pack_sequences(
        load_table(spark, sf_dir, "documents"), seq_len=128
    )


@register(
    "pagerank_degree_capped",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), shared AS MATERIALIZED (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), ed0 AS (
      SELECT d1, d2,
             ROUND(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 4) AS w
      FROM shared
      JOIN sizes sa ON sa.doc_id = d1
      JOIN sizes sb ON sb.doc_id = d2
      WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.02
    ), symw AS (
      SELECT d1 AS s, d2 AS t, w FROM ed0
      UNION ALL
      SELECT d2 AS s, d1 AS t, w FROM ed0
    ), capped AS MATERIALIZED (
      SELECT s, t FROM (
        SELECT s, t,
               ROW_NUMBER() OVER (PARTITION BY s ORDER BY w DESC, t) AS rn
        FROM symw
      ) WHERE rn <= 3
    ), deg AS MATERIALIZED (
      SELECT s, COUNT(*) AS deg FROM capped GROUP BY s
    ), n AS (
      SELECT COUNT(*) AS n_nodes FROM deg
    ), r0 AS (
      SELECT s AS node, 1.0 / n.n_nodes AS r FROM deg CROSS JOIN n
    ), c1 AS (
      SELECT capped.t AS node, SUM(r0.r / deg.deg) AS in_sum
      FROM capped JOIN deg USING (s) JOIN r0 ON r0.node = capped.s
      GROUP BY capped.t
    ), r1 AS MATERIALIZED (
      -- total update: a node with zero in-edges keeps its teleport-only
      -- rank (the capped graph is directed; the symmetric twin never
      -- exercises the COALESCE arm)
      SELECT deg.s AS node,
             ROUND((1.0 - 0.85) / n.n_nodes
                   + 0.85 * COALESCE(c1.in_sum, 0), 10) AS r
      FROM deg CROSS JOIN n LEFT JOIN c1 ON c1.node = deg.s
    ), c2 AS (
      SELECT capped.t AS node, SUM(r1.r / deg.deg) AS in_sum
      FROM capped JOIN deg USING (s) JOIN r1 ON r1.node = capped.s
      GROUP BY capped.t
    ), r2 AS MATERIALIZED (
      SELECT deg.s AS node,
             ROUND((1.0 - 0.85) / n.n_nodes
                   + 0.85 * COALESCE(c2.in_sum, 0), 10) AS r
      FROM deg CROSS JOIN n LEFT JOIN c2 ON c2.node = deg.s
    ), c3 AS (
      SELECT capped.t AS node, SUM(r2.r / deg.deg) AS in_sum
      FROM capped JOIN deg USING (s) JOIN r2 ON r2.node = capped.s
      GROUP BY capped.t
    ), r3 AS (
      SELECT deg.s AS node,
             ROUND((1.0 - 0.85) / n.n_nodes
                   + 0.85 * COALESCE(c3.in_sum, 0), 10) AS r
      FROM deg CROSS JOIN n LEFT JOIN c3 ON c3.node = deg.s
    )
    SELECT deg.s AS node, CAST(deg.deg AS BIGINT) AS degree,
           ROUND(r3.r, 4) AS pagerank
    FROM deg JOIN r3 ON r3.node = deg.s
    ORDER BY node
    """,
    doc="dup_graph_pagerank with degree-capped edge sparsification: each "
    "node keeps only its 3 strongest outgoing edges by Jaccard weight "
    "(deterministic tie-break on neighbor id) before message passing, so "
    "|E| <= 3|V| no matter how dense the weak-tie overlap graph gets — "
    "the worst-case bound the uncapped 0.02-threshold build lacks on a "
    "boilerplate-heavy real corpus (a hub touching half the corpus "
    "otherwise contributes degree^2 downstream work). Spokes keep their "
    "edge TO a hub even when the hub drops the reverse, so hub in-mass "
    "(the centrality signal) survives; the capped graph is directed, and "
    "a node every neighbor dropped receives only teleport mass (the "
    "COALESCE arm). The cap is one per-source window rank — "
    "SQL-expressible, so the whole capped recipe is oracle-checked "
    "value-for-value like the uncapped twin. "
    "operators/graph.py::pagerank(max_degree=3).",
)
def pagerank_degree_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup
    from ..operators.graph import pagerank

    edges = dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.02
    )
    return pagerank(edges, max_degree=3)


@register(
    "token_entropy_docs",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      FROM documents
    ), s AS (
      SELECT doc_id, w, len(w) AS n,
             list_transform(list_distinct(w),
               c -> len(list_filter(w, x -> x = c))) AS ks
      FROM t WHERE len(w) > 0
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(ks) AS BIGINT) AS n_types,
           ROUND(-list_sum(list_transform(ks,
                 k -> (k * 1.0 / n) * log2(k * 1.0 / n))), 4)
             AS token_entropy,
           len(ks) * 1.0 / n AS ttr
    FROM s
    ORDER BY doc_id
    """,
    doc="Per-document token-distribution entropy and type-token ratio "
    "— the repetitiveness signals a quality gate reads (low entropy = "
    "template/keyword-stuffed, low TTR = low lexical diversity even "
    "without a single repeating n-gram). Pure per-row higher-order "
    "functions over the token array: zero shuffles, zero UDFs — a "
    "free rider on any scan that already reads the text. TTR ships "
    "unrounded (exact-integer division, bit-identical cross-engine; "
    "rounding would hit exact .xxxx5 boundaries — the JL lesson). "
    "operators/text.py::token_entropy.",
)
def token_entropy_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_entropy

    return token_entropy(load_table(spark, sf_dir, "documents"))


@register(
    "pca_top2_scores",
    oracle=r"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings
    ), flat AS MATERIALIZED (
      SELECT vec_id, idx.i, q[idx.i] AS x
      FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
    ), g AS MATERIALIZED (
      SELECT a.i, b.i AS j, SUM(a.x * b.x) / 8589934592.0 AS gv
      FROM flat a JOIN flat b USING (vec_id)
      GROUP BY a.i, b.i
    ), v0 AS (
      SELECT unnest(range(1, 65)) AS i, 1.0 AS val
    ), y1 AS (
      SELECT g.i, SUM(g.gv * v0.val) AS y FROM g JOIN v0 ON g.j = v0.i GROUP BY g.i
    ), v1 AS (
      SELECT i, ROUND(y / (SELECT MAX(ABS(y)) FROM y1), 10) AS val FROM y1
    ), y2 AS (
      SELECT g.i, SUM(g.gv * v1.val) AS y FROM g JOIN v1 ON g.j = v1.i GROUP BY g.i
    ), v2 AS (
      SELECT i, ROUND(y / (SELECT MAX(ABS(y)) FROM y2), 10) AS val FROM y2
    ), y3 AS (
      SELECT g.i, SUM(g.gv * v2.val) AS y FROM g JOIN v2 ON g.j = v2.i GROUP BY g.i
    ), va AS MATERIALIZED (
      SELECT i, ROUND(y / (SELECT MAX(ABS(y)) FROM y3), 10) AS val FROM y3
    ), lam AS (
      SELECT ROUND(
        (SELECT SUM(a.val * g.gv * b.val)
         FROM g JOIN va a ON a.i = g.i JOIN va b ON b.i = g.j)
        / (SELECT SUM(val * val) FROM va), 10) AS l
    ), nv AS (
      SELECT SUM(val * val) AS n2 FROM va
    ), g2 AS MATERIALIZED (
      SELECT g.i, g.j,
             ROUND(g.gv - (lam.l * a.val * b.val) / nv.n2, 10) AS gv
      FROM g JOIN va a ON a.i = g.i JOIN va b ON b.i = g.j
      CROSS JOIN lam CROSS JOIN nv
    ), w1y AS (
      SELECT g2.i, SUM(g2.gv * v0.val) AS y FROM g2 JOIN v0 ON g2.j = v0.i GROUP BY g2.i
    ), w1 AS (
      SELECT i, ROUND(y / (SELECT MAX(ABS(y)) FROM w1y), 10) AS val FROM w1y
    ), w2y AS (
      SELECT g2.i, SUM(g2.gv * w1.val) AS y FROM g2 JOIN w1 ON g2.j = w1.i GROUP BY g2.i
    ), w2 AS (
      SELECT i, ROUND(y / (SELECT MAX(ABS(y)) FROM w2y), 10) AS val FROM w2y
    ), w3y AS (
      SELECT g2.i, SUM(g2.gv * w2.val) AS y FROM g2 JOIN w2 ON g2.j = w2.i GROUP BY g2.i
    ), wb AS (
      SELECT i, ROUND(y / (SELECT MAX(ABS(y)) FROM w3y), 10) AS val FROM w3y
    )
    SELECT f.vec_id,
           ROUND(SUM(f.x * va.val) / 1000.0, 4) AS pc1_score,
           ROUND(SUM(f.x * wb.val) / 1000.0, 4) AS pc2_score
    FROM flat f JOIN va ON f.i = va.i JOIN wb ON f.i = wb.i
    GROUP BY f.vec_id
    ORDER BY f.vec_id
    """,
    doc="First TWO principal components via deflation: PC1 power "
    "iteration, rank-one subtraction of λ₁·v₁v₁ᵀ, second iteration on "
    "the deflated matrix — all on the one-pass distributed Gram. Two "
    "numeric pins make the oracle exact: the Gram is divided by a "
    "FIXED 2^33 (exact in IEEE, v₁ bit-unchanged, λ₁ kept O(1..100) "
    "so its ~1e-15 relative cross-engine error sits far inside the "
    "round(10) quantum), and every deflated entry is rounded before "
    "the second iteration so both engines iterate the same matrix. "
    "operators/similarity.py::pca_top2_scores.",
)
def pca_top2_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pca_top2_scores

    return pca_top2_scores(load_table(spark, sf_dir, "embeddings"))


@register(
    "cms_join_size",
    # Guarantee-gate pattern (cms_token_counts): the estimate is engine-
    # specific (xxhash64 grid) but its published bounds are exact, so the
    # oracle-checked output is (exact join size, in-bounds flags). Lower
    # bound est >= true is DETERMINISTIC for the inner-product estimator
    # (collisions only add mass); upper uses the (e/width)*Na*Nb slack.
    oracle=r"""
    WITH c AS (
      SELECT user_id, COUNT(*) AS n FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL GROUP BY user_id
    ), p AS (
      SELECT user_id, COUNT(*) AS n FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL GROUP BY user_id
    )
    SELECT CAST((SELECT SUM(n) FROM c) AS BIGINT) AS n_clicks,
           CAST((SELECT SUM(n) FROM p) AS BIGINT) AS n_purchases,
           CAST(COALESCE(SUM(c.n * p.n), 0) AS BIGINT) AS true_join_size,
           TRUE AS est_lower_ok, TRUE AS est_upper_ok
    FROM c JOIN p USING (user_id)
    """,
    doc="Planning-time equi-join cardinality estimation from two CMS "
    "grids (Cormode-Muthukrishnan inner product): 'how many rows will "
    "the click x purchase attribution join produce per user' answered "
    "from two width x depth summaries without touching either side — "
    "the estimate that decides broadcast-vs-shuffle and pair-explosion "
    "guards before running purchase_click_asof. Grids are mergeable "
    "(cellwise sums), so the estimate stays current as batches land. "
    "Output: exact join size + flags "
    "asserting est >= true (deterministic: collisions only add) and "
    "est <= true + (e/width)*Na*Nb. "
    "operators/sketches.py::cms_inner_product.",
)
def cms_join_size_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators import sketches

    width, depth = 2048, 4
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .localCheckpoint(eager=False)
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    sa = sketches.cms_build(clicks, "user_id", width=width, depth=depth)
    sb = sketches.cms_build(purch, "user_id", width=width, depth=depth)
    est = sketches.cms_inner_product(sa, sb)
    ca = clicks.groupBy("user_id").agg(F.count(F.lit(1)).alias("na"))
    cb = purch.groupBy("user_id").agg(F.count(F.lit(1)).alias("nb"))
    truth = (
        ca.join(cb, "user_id")
        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)).alias("t"))
    )
    totals = clicks.agg(F.count(F.lit(1)).alias("n_clicks")).join(
        F.broadcast(purch.agg(F.count(F.lit(1)).alias("n_purchases")))
    )
    slack = F.lit(math.e / width)
    return (
        F.broadcast(totals)
        .join(F.broadcast(truth))
        .join(F.broadcast(est))
        .select(
            F.col("n_clicks").cast("long"),
            F.col("n_purchases").cast("long"),
            F.col("t").cast("long").alias("true_join_size"),
            (F.col("join_size_est") >= F.col("t")).alias("est_lower_ok"),
            (
                F.col("join_size_est")
                <= F.col("t") + slack * F.col("n_clicks") * F.col("n_purchases")
            ).alias("est_upper_ok"),
        )
    )


@register(
    "hll_key_overlap",
    # approx_event_stats' guarantee-gate pattern: exact twins + in-bounds
    # flags. Each HLL term carries the |err| <= 3*rsd(lg_k=14 ~ 0.65%)
    # slack; inclusion-exclusion sums the three term errors, so the
    # overlap flag uses 3 terms x 3*rsd on the union scale.
    oracle=r"""
    WITH c AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL
    ), p AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
    )
    SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS true_a,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS true_b,
           CAST((SELECT COUNT(*) FROM c JOIN p USING (user_id)) AS BIGINT)
             AS true_overlap,
           TRUE AS a_ok, TRUE AS b_ok, TRUE AS overlap_ok
    """,
    doc="Distinct-key overlap between the click and purchase sides by "
    "HLL sketch algebra (|A∩B| = |A| + |B| − |A∪B|, union lossless on "
    "sketch state): the 'how many keys participate in this join' "
    "planner input complementing cms_join_size's pair count. Sketches "
    "are mergeable per-shard aggregates. Guarantee-gate oracle: each "
    "term within 3·rsd, the "
    "inclusion-exclusion overlap within the summed term slack. "
    "operators/sketches.py::hll_overlap.",
)
def hll_key_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    lg_k = 14
    rsd = 1.04 / (2 ** (lg_k / 2.0))  # standard HLL relative error
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .localCheckpoint(eager=False)
    )
    clicks = ev.filter(F.col("event_type") == "click")
    purch = ev.filter(F.col("event_type") == "purchase")
    est = sketches.hll_overlap(clicks, purch, "user_id", lg_k=lg_k)
    ta = clicks.agg(F.countDistinct("user_id").alias("true_a"))
    tb = purch.agg(F.countDistinct("user_id").alias("true_b"))
    tov = (
        clicks.select("user_id").distinct()
        .join(purch.select("user_id").distinct(), "user_id")
        .agg(F.count(F.lit(1)).alias("true_overlap"))
    )
    within = lambda e, t, k: (  # noqa: E731
        F.abs(F.col(e) - F.col(t)) <= F.lit(3 * k * rsd) * F.col("est_union")
    )
    return (
        F.broadcast(ta)
        .join(F.broadcast(tb))
        .join(F.broadcast(tov))
        .join(F.broadcast(est))
        .select(
            F.col("true_a").cast("long"),
            F.col("true_b").cast("long"),
            F.col("true_overlap").cast("long"),
            within("est_a", "true_a", 1).alias("a_ok"),
            within("est_b", "true_b", 1).alias("b_ok"),
            within("est_overlap", "true_overlap", 3).alias("overlap_ok"),
        )
    )


@register(
    "psi_value_drift",
    oracle=r"""
    WITH base AS (
      SELECT event_type AS seg,
             CAST(least(greatest(floor(value / 500.0 * 20), 0), 19) AS INT)
               AS bucket
      FROM events WHERE value IS NOT NULL
    ), seg_tot AS (
      SELECT seg, COUNT(*) AS n_s FROM base GROUP BY seg
    ), seg_cnt AS (
      SELECT seg, bucket, COUNT(*) AS n_sb FROM base GROUP BY seg, bucket
    ), all_cnt AS (
      SELECT bucket, COUNT(*) AS n_b FROM base GROUP BY bucket
    ), tot AS (
      SELECT COUNT(*) AS n FROM base
    ), dense AS (
      SELECT st.seg, st.n_s, b.bucket
      FROM seg_tot st CROSS JOIN (SELECT unnest(range(0, 20)) AS bucket) b
    ), terms AS (
      SELECT d.seg, d.n_s,
             (COALESCE(sc.n_sb, 0) + 0.5) / (d.n_s + 10.0) AS p_seg,
             (COALESCE(ac.n_b, 0) + 0.5) / (t.n + 10.0) AS p_all
      FROM dense d
      LEFT JOIN seg_cnt sc ON sc.seg = d.seg AND sc.bucket = d.bucket
      LEFT JOIN all_cnt ac ON ac.bucket = d.bucket
      CROSS JOIN tot t
    )
    SELECT seg AS event_type,
           CAST(MAX(n_s) AS BIGINT) AS n_rows,
           ROUND(SUM((p_seg - p_all) * ln(p_seg / p_all)), 4) AS psi
    FROM terms
    GROUP BY seg
    ORDER BY event_type
    """,
    doc="Population Stability Index of each event segment's value "
    "distribution against the whole population — the drift score DQ "
    "dashboards threshold (<0.1 stable, >0.25 drifted). Fixed-range "
    "20-bucket histogram (edges that move with the data would make two "
    "runs incomparable — the property a STABILITY index must not "
    "have), add-0.5 smoothing so empty buckets stay finite. After the "
    "first grouped count everything is bounded by segments x buckets; "
    "the population histogram broadcasts as 20 rows. "
    "operators/stats.py::psi_drift.",
)
def psi_value_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import psi_drift

    return psi_drift(load_table(spark, sf_dir, "events"))


@register(
    "curriculum_mix_docs",
    # Composition of two independently-oracled pieces: the CCNet tercile
    # CTE (ccnet_ppl_buckets — threshold-on-score terciles via integer
    # cumulative-count boundaries, cross-engine exact) and the epoch_mix
    # rule (epoch_mix_docs — floor(w) + salted-md5 Bernoulli fraction).
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
      FROM documents
    ), parts AS (
      SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                      i -> tk[i] || ' ' || tk[i+1])) AS bg
        FROM toks WHERE len(tk) >= 2
      )
    ), bgc AS (
      SELECT bg, COUNT(*) AS c12 FROM parts GROUP BY bg
    ), pc AS (
      SELECT w1, COUNT(*) AS c1 FROM parts GROUP BY w1
    ), vocab AS (
      SELECT COUNT(DISTINCT t) AS v
      FROM (SELECT unnest(tk) AS t FROM toks)
    ), scored AS MATERIALIZED (
      SELECT p.doc_id,
             ROUND(AVG(-log2((b.c12 + 1.0) / (c.c1 + 1.0 * v.v))), 4)
               AS score_bits
      FROM parts p JOIN bgc b USING (bg) JOIN pc c USING (w1)
      CROSS JOIN vocab v
      GROUP BY p.doc_id
    ), lscored AS MATERIALIZED (
      SELECT s.doc_id, d.lang, s.score_bits
      FROM scored s JOIN documents d USING (doc_id)
    ), vc AS (
      SELECT lang, score_bits, COUNT(*) AS c
      FROM lscored GROUP BY lang, score_bits
    ), cum AS (
      SELECT lang, score_bits,
             SUM(c) OVER (PARTITION BY lang ORDER BY score_bits) AS cum,
             SUM(c) OVER (PARTITION BY lang) AS n
      FROM vc
    ), tthr AS (
      SELECT lang,
             MIN(score_bits) FILTER (WHERE cum * 3 >= n) AS t1,
             MIN(score_bits) FILTER (WHERE cum * 3 >= 2 * n) AS t2
      FROM cum GROUP BY lang
    ), bucketed AS (
      SELECT l.doc_id, l.lang,
             CASE WHEN l.score_bits <= t.t1 THEN 'head'
                  WHEN l.score_bits <= t.t2 THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
      FROM lscored l JOIN tthr t USING (lang)
    ), w(ppl_bucket, base, thr) AS (
      VALUES ('head', 2, '00000000'),
             ('middle', 1, '00000000'),
             ('tail', 0, '40000000')
    ), mixed AS (
      SELECT b.doc_id, b.lang, b.ppl_bucket,
             CAST(w.base + (CASE WHEN substring(
                    md5('mix-v1' || CAST(b.doc_id AS VARCHAR)), 1, 8) < w.thr
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
      FROM bucketed b JOIN w USING (ppl_bucket)
    )
    SELECT doc_id, lang, ppl_bucket, n_copies,
           CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
    FROM mixed WHERE n_copies > 0
    """,
    doc="Quality-curriculum training mix — the end-to-end 'build the "
    "epoch' query: CCNet perplexity terciles per language (head = most "
    "fluent) drive per-tercile repetition weights (head x2, middle x1, "
    "tail x0.25) applied by deterministic epoch_mix repetition. The "
    "composition of two independently-oracled stages verified as ONE "
    "pipeline; the LM stays vocabulary-sized, the mix is a pure "
    "projection + explode — no shuffle beyond the tercile window. "
    "operators/text.py::bigram_lm_scores + operators/sampling.py::"
    "epoch_mix.",
)
def curriculum_mix_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as text_ops
    from ..operators.sampling import epoch_mix

    from ..operators.materialize import checkpoint_tracked

    docs = load_table(spark, sf_dir, "documents")
    # threshold terciles (VERDICT r6: no ntile-over-lang window at scale).
    # lang rides the scoring pass (keep_cols) — no second documents join —
    # and the scored frame (threshold build + bucket join consumers) is
    # checkpointed so the LM subtree runs once (VERDICT r7: zero
    # ReusedExchange without it).
    lscored = checkpoint_tracked(
        text_ops.bigram_lm_scores(docs, keep_cols=("lang",)).select(
            "doc_id", "lang", F.round("avg_nll_bits", 4).alias("score_bits")
        )
    )
    thr = text_ops.tercile_thresholds(lscored, "lang", "score_bits")
    bucketed = lscored.join(F.broadcast(thr), "lang").select(
        "doc_id", "lang", text_ops.ppl_bucket_col().alias("ppl_bucket")
    )
    mixed = epoch_mix(
        bucketed,
        {"head": 2.0, "middle": 1.0, "tail": 0.25},
        group_col="ppl_bucket",
        key_col="doc_id",
    )
    return mixed.select("doc_id", "lang", "ppl_bucket", "n_copies", "copy_idx")


def cluster_stats_from(docs: DataFrame, comp: DataFrame) -> DataFrame:
    """The dedup_cluster_stats rollup over a PRECOMPUTED cluster
    assignment — split out so a pipeline that already
    clustered the corpus charges the clustering cost once and fans out,
    exactly like the shared shingle/span stages."""
    csize = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    tot = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
    return (
        csize.join(tot)
        .groupBy("cluster_size", "n_docs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs_in"),
            F.sum(F.col("cluster_size") - 1).cast("long").alias("n_removable"),
        )
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs_in",
            "n_removable",
            F.round(F.col("n_docs_in") / F.col("n_docs"), 4).alias("corpus_frac"),
        )
    )


@register(
    "dedup_cluster_stats",
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
    ), comp AS (
      SELECT u AS doc, MIN(v) AS cluster_id FROM reach GROUP BY u
    ), csize AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
    ), tot AS (
      SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT cs.cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cs.cluster_size) AS BIGINT) AS n_docs_in,
           CAST(SUM(cs.cluster_size - 1) AS BIGINT) AS n_removable,
           ROUND(SUM(cs.cluster_size) * 1.0 / t.n_docs, 4) AS corpus_frac
    FROM csize cs CROSS JOIN tot t
    GROUP BY cs.cluster_size, t.n_docs
    ORDER BY cs.cluster_size
    """,
    doc="Dedup observability: the component-size histogram of the "
    "near-dup cluster graph — how many clusters of each size, how many "
    "documents they tie up, how many rows dedup would remove "
    "(size-1 per cluster), and the corpus fraction affected. The "
    "numbers a curation run reports before anyone commits to deleting "
    "data. Clustering cost is shared with dedup_clusters (same "
    "operator); the rollup is bounded by the number of clusters. "
    "operators/dedup.py::duplicate_clusters + grouped rollup.",
)
def dedup_cluster_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    comp = dedup.duplicate_clusters(pairs)
    return cluster_stats_from(docs, comp)


@register(
    "psi_time_drift",
    oracle=r"""
    WITH e AS (
      SELECT event_type AS seg, value, epoch_us(ts) AS us
      FROM events WHERE value IS NOT NULL
    ), b AS (
      SELECT MIN(us) AS mn, MAX(us) AS mx FROM e
    ), t AS (
      SELECT seg,
             CAST(least(greatest(floor(value / 500.0 * 20), 0), 19) AS INT)
               AS bucket,
             us > (b.mn + b.mx) // 2 AS is_cur
      FROM e CROSS JOIN b
    ), rh AS (
      SELECT seg, bucket, COUNT(*) AS n_ref FROM t WHERE NOT is_cur
      GROUP BY seg, bucket
    ), ch AS (
      SELECT seg, bucket, COUNT(*) AS n_cur FROM t WHERE is_cur
      GROUP BY seg, bucket
    ), rt AS (
      SELECT seg, SUM(n_ref) AS t_ref FROM rh GROUP BY seg
    ), ct AS (
      SELECT seg, SUM(n_cur) AS t_cur FROM ch GROUP BY seg
    ), segs AS (
      SELECT seg FROM rh UNION SELECT seg FROM ch
    ), dense AS (
      SELECT s.seg, bk.bucket,
             COALESCE(rt.t_ref, 0) AS t_ref, COALESCE(ct.t_cur, 0) AS t_cur,
             COALESCE(rh.n_ref, 0) AS n_ref, COALESCE(ch.n_cur, 0) AS n_cur
      FROM (SELECT DISTINCT seg FROM segs) s
      CROSS JOIN (SELECT unnest(range(0, 20)) AS bucket) bk
      LEFT JOIN rt ON rt.seg = s.seg
      LEFT JOIN ct ON ct.seg = s.seg
      LEFT JOIN rh ON rh.seg = s.seg AND rh.bucket = bk.bucket
      LEFT JOIN ch ON ch.seg = s.seg AND ch.bucket = bk.bucket
    )
    SELECT seg AS event_type,
           CAST(MAX(t_ref) AS BIGINT) AS n_ref_rows,
           CAST(MAX(t_cur) AS BIGINT) AS n_cur_rows,
           ROUND(SUM(((n_cur + 0.5) / (t_cur + 10.0)
                      - (n_ref + 0.5) / (t_ref + 10.0))
                     * ln(((n_cur + 0.5) / (t_cur + 10.0))
                          / ((n_ref + 0.5) / (t_ref + 10.0)))), 4) AS psi
    FROM dense
    GROUP BY seg
    ORDER BY event_type
    """,
    doc="Temporal distribution drift: PSI of each segment's value "
    "distribution in the SECOND half of event time against the first "
    "half — 'did this week's data shift against the baseline', the "
    "production drift comparison (vs psi_value_drift's segment-vs-"
    "population view). The epoch-microsecond midpoint split is exact "
    "integer arithmetic in both engines; after the two grouped counts "
    "everything is bounded by segments x buckets, and at scale the two "
    "windows can be kept as summed histograms instead of raw history. "
    "operators/stats.py::psi_between_histograms.",
)
def psi_time_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import psi_between_histograms, value_histogram

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", F.unix_micros("ts").alias("us"))
        .localCheckpoint(eager=False)
    )
    bounds = F.broadcast(ev.agg(F.min("us").alias("mn"), F.max("us").alias("mx")))
    tagged = ev.join(bounds).withColumn(
        "is_cur", F.col("us") > F.expr("(mn + mx) div 2")
    )
    ref = value_histogram(tagged.filter(~F.col("is_cur")), "value", "event_type")
    cur = value_histogram(tagged.filter(F.col("is_cur")), "value", "event_type")
    return psi_between_histograms(ref, cur)


@register(
    "corpus_datasheet",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, text, lang, source,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                             x -> x <> '')) AS n_toks
      FROM documents
    ), tok AS (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ), dup AS (
      SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_dup_docs FROM (
        SELECT COUNT(*) AS c FROM d GROUP BY text HAVING COUNT(*) > 1
      )
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST((SELECT COUNT(DISTINCT t) FROM tok) AS BIGINT) AS vocab_size,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           (SELECT n_dup_docs FROM dup) AS n_exact_dup_docs,
           ROUND((SELECT n_dup_docs FROM dup) * 1.0 / COUNT(*), 4)
             AS exact_dup_frac,
           ROUND(AVG(n_toks), 2) AS avg_doc_tokens
    FROM d
    """,
    doc="The dataset datasheet in one row: corpus size (docs/tokens/"
    "vocabulary), language and source diversity, exact-duplicate "
    "pressure (documents whose full text occurs more than once), and "
    "mean document length — the headline numbers a dataset card or a "
    "pre-training run sign-off quotes. Two grouped passes over one "
    "checkpointed scan (token aggregate + text-identity aggregate), "
    "everything else one-row arithmetic.",
)
def corpus_datasheet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_count

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source", token_count("text").alias("n_toks"))
        .localCheckpoint(eager=False)
    )
    dup = F.broadcast(
        docs.groupBy("text")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_dup_docs"))
    )
    vocab = F.broadcast(
        docs.select(F.explode(F.split("text", r"\s+")).alias("t"))
        .filter(F.col("t") != "")
        .agg(F.countDistinct("t").alias("vocab_size"))
    )
    return (
        docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .join(vocab)
        .join(dup)
        .select(
            F.col("n_docs").cast("long"),
            F.col("n_tokens").cast("long"),
            F.col("vocab_size").cast("long"),
            F.col("n_langs").cast("long"),
            F.col("n_sources").cast("long"),
            F.col("n_dup_docs").cast("long").alias("n_exact_dup_docs"),
            F.round(F.col("n_dup_docs") / F.col("n_docs"), 4).alias(
                "exact_dup_frac"
            ),
            F.round(F.col("n_tokens") / F.col("n_docs"), 2).alias(
                "avg_doc_tokens"
            ),
        )
    )


@register(
    "lang_id_confusion",
    oracle=r"""
    WITH pred AS (
      SELECT doc_id, lang,
        CASE
          WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
          WHEN s_en >= greatest(s_es, s_fr, s_zh)       THEN 'en'
          WHEN s_es >= greatest(s_fr, s_zh)             THEN 'es'
          WHEN s_fr >= s_zh                             THEN 'fr'
          ELSE 'zh' END AS pred_lang
      FROM (
        SELECT doc_id, lang,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('der','die','und','das','ist'))) AS s_de,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('the','and','of','to','is')))    AS s_en,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('el','la','que','los','es')))    AS s_es,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('le','la','et','les','est')))    AS s_fr,
          len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('的','是','了','在','我')))      AS s_zh
        FROM documents
      )
    ), tot AS (
      SELECT lang, COUNT(*) AS n_lang FROM pred GROUP BY lang
    )
    SELECT p.lang AS true_lang, p.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / t.n_lang, 4) AS frac_of_true
    FROM pred p JOIN tot t ON t.lang = p.lang
    GROUP BY p.lang, p.pred_lang, t.n_lang
    ORDER BY true_lang, pred_lang
    """,
    doc="Language-ID confusion matrix: the marker-word classifier's "
    "predictions against the labeled lang column, as (true, predicted) "
    "counts and per-true-language fractions — the evaluation every "
    "classifier-driven curation gate needs BEFORE its output routes "
    "documents (lang_id_heuristic scores docs; this scores the "
    "classifier). One classification pass + a labels-sized rollup. "
    "operators/text.py::lang_id + grouped rollup.",
)
def lang_id_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    pred = text_ops.lang_id(docs).select("doc_id", "pred_lang")
    joined = (
        docs.select("doc_id", "lang").join(pred, "doc_id")
        .localCheckpoint(eager=False)
    )
    tot = joined.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        joined.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .join(F.broadcast(tot), "lang")
        .select(
            F.col("lang").alias("true_lang"),
            "pred_lang",
            "n",
            F.round(F.col("n") / F.col("n_lang"), 4).alias("frac_of_true"),
        )
    )


@register(
    "shard_balance_report",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, n_tokens,
             CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 1000) AS BIGINT) AS shard_id
      FROM t
    )
    SELECT source, shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(GREATEST(SUM(n_tokens) - 1000, 0) AS BIGINT) AS overrun_tokens
    FROM packed
    GROUP BY source, shard_id
    ORDER BY source, shard_id
    """,
    doc="Shard-balance observability over the greedy token-budget "
    "packer: per (source, shard) document count, token total and "
    "budget overrun — the numbers that tell a training job whether its "
    "shards are balanced BEFORE it schedules them (a shard overruns by "
    "at most its straddling document; a large overrun means one doc "
    "dwarfs the budget and should be chunked upstream). overrun_tokens "
    "is clamped at 0: each source's trailing shard is legitimately "
    "underfull, and a negative 'overrun' would misread as data, not "
    "slack. Same per-source cumulative window as token_budget_shards "
    "plus a shard-count-sized rollup. operators/packing.py::pack_shards "
    "+ grouped rollup.",
)
def shard_balance_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import packing

    docs = load_table(spark, sf_dir, "documents")
    packed = packing.pack_shards(docs, budget=1000)
    return (
        packed.groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
        )
        .select(
            "source",
            "shard_id",
            "n_docs",
            "shard_tokens",
            F.greatest(F.col("shard_tokens") - F.lit(1000), F.lit(0))
            .cast("long")
            .alias("overrun_tokens"),
        )
    )
