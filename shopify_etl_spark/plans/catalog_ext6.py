"""Round-14 extension queries: raw-crawl ingest (VERDICT r13 #1) — the
WARC front door between "catalog of curation operators" and "pipeline
you can point at a 100 TB crawl".

Three-stage gate, mirroring the codec-gate discipline (synthesize →
REALLY decode distributed → oracle recomputes from first principles):

* ``warc_ingest_stats`` — archive accounting: the splitter's view of
  every record (types, statuses, URI id ranges) per ``.warc.gz`` file
  must equal the grouping/status formula the synthesizer used, which
  the oracle re-derives from ``documents`` alone.
* ``html_extract_docs`` — the lossless-extraction gate: the full chain
  (gzip member split → WARC parse → HTTP body peel → ``html_to_text``)
  must reproduce each document's text EXACTLY (modulo the declared
  whitespace normalization), because the HTML template is built so the
  round-trip is provably lossless (``operators/html.py``). Value-exact
  on the complete text body — a one-byte extraction bug
  hash-mismatches.
* ``crawl_curation_chain`` — the end-to-end story: crawl archive →
  extraction → the existing Gopher-style quality gate
  (``text.quality_filter``) → per-archive keep accounting; the oracle
  replays extraction AND the gate's five rules in SQL.

Scale shape shared by all three: documents are scanned once; synthesis
is one ``applyInPandas`` over independent archive groups; the splitter
is a zero-shuffle ``mapInPandas`` whose memory bound is ONE record
(per-record gzip members — the Common Crawl splittability property);
extraction + quality are JVM-side projections. The only shuffles are
the synthesis grouping and the final tiny per-file aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table, register

# Synthesis constants — mirrored literally in every oracle below.
_DOCS_PER_FILE = 25
_NOT_FOUND_EVERY = 17

# The provably-lossless extraction formula (operators/html.py::synth_html
# → html_to_text round-trip), as one DuckDB expression over documents.
_XT_SQL = (
    "regexp_replace('Doc ' || CAST(doc_id AS VARCHAR) || ' ' || "
    "trim(text) || ' &copy; example end', '\\s+', ' ', 'g')"
)


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared chain: synth archives → split records → keep 200-OK
    responses → extract text. doc_id is recovered from the TARGET URI
    (the crawl-side identity), never trusted from the payload."""
    from ..operators.html import html_to_text
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    files = warc.synth_warc_files(
        docs, docs_per_file=_DOCS_PER_FILE, not_found_every=_NOT_FOUND_EVERY
    )
    recs = warc.warc_records(files)
    return recs.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        # transport routing (VERDICT r15 #1): only fully-decoded
        # payloads may reach extraction — an unknown Content-Encoding
        # (br, zstd) record passes through the splitter LABELED and
        # must be routed out here, never fed to html_to_text as if it
        # were text; crawl_encoding_routing carries the skipped-record
        # accounting for the fixture that plants such records
        & warc.is_decoded(F.col("http_encoding"))
    ).select(
        "file_id",
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        # charset-aware decode (header charset= / sniffed <meta>): the
        # synth default is UTF-8, where this is byte-identical to the
        # plain cast — but the chain contract is "transport absorbed
        # below extraction", so every extraction front shares it
        html_to_text(warc.payload_text()).alias("text_out"),
    )


@register(
    "warc_ingest_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, doc_id // {_DOCS_PER_FILE} AS file_id,
             CASE WHEN doc_id % {_NOT_FOUND_EVERY} = 0
                  THEN 404 ELSE 200 END AS status
      FROM documents
    )
    SELECT file_id,
           CAST(1 + 2 * COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(*) AS BIGINT)         AS n_responses,
           CAST(COUNT(*) AS BIGINT)         AS n_requests,
           CAST(1 AS BIGINT)                AS n_warcinfo,
           CAST(SUM(status) AS BIGINT)      AS sum_status,
           MIN(doc_id)                      AS min_doc,
           MAX(doc_id)                      AS max_doc
    FROM d GROUP BY file_id
    """,
    doc="WARC archive accounting — the splitter's record inventory per "
    ".warc.gz (warcinfo/request/response counts, HTTP status sums, URI "
    "id ranges) vs the synthesis formula re-derived from documents. A "
    "splitter that drops a gzip member, misparses a header, or "
    "mis-slices a Content-Length changes a count or a status sum and "
    "hash-mismatches. Real multi-member gzip decompression per record "
    "(stdlib zlib), zero-shuffle mapInPandas, memory bounded by one "
    "record — the Common Crawl splittability property. "
    "sources/warc.py::warc_records.",
)
def warc_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    files = warc.synth_warc_files(
        docs, docs_per_file=_DOCS_PER_FILE, not_found_every=_NOT_FOUND_EVERY
    )
    recs = warc.warc_records(files)
    is_resp = F.col("warc_type") == "response"
    doc_from_uri = F.when(
        is_resp,
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long"),
    )
    return recs.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(is_resp.cast("long")).alias("n_responses"),
        F.sum((F.col("warc_type") == "request").cast("long")).alias(
            "n_requests"
        ),
        F.sum((F.col("warc_type") == "warcinfo").cast("long")).alias(
            "n_warcinfo"
        ),
        F.sum(F.when(is_resp, F.col("http_status"))).alias("sum_status"),
        F.min(doc_from_uri).alias("min_doc"),
        F.max(doc_from_uri).alias("max_doc"),
    )


@register(
    "html_extract_docs",
    oracle=f"""
    WITH e AS (
      SELECT doc_id, {_XT_SQL} AS text_out
      FROM documents WHERE doc_id % {_NOT_FOUND_EVERY} <> 0
    )
    SELECT doc_id, text_out,
           CAST(LENGTH(text_out) AS BIGINT) AS n_chars
    FROM e
    """,
    doc="Lossless HTML→text extraction through the FULL crawl chain: "
    "archive synthesis (documents → provably-round-trippable HTML → "
    "WARC records → per-record gzip members) then the real ingest path "
    "(member split → WARC/HTTP parse → html_to_text regex chain: head/"
    "script/style/comment drop, block tags → newlines, inline tags "
    "deleted in place, single-pass entity decode). The oracle "
    "recomputes the expected text from documents.text alone — the "
    "complete text body is value-compared, so one double-decoded "
    "entity or a tag-boundary space bug hash-mismatches. 404 fetches "
    "(doc_id % 17 = 0) are error pages and must be filtered by status. "
    "operators/html.py, sources/warc.py.",
)
def html_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _extracted(spark, sf_dir).select(
        "doc_id",
        "text_out",
        F.length("text_out").cast("long").alias("n_chars"),
    )


@register(
    "crawl_curation_chain",
    oracle=f"""
    WITH e AS (
      SELECT doc_id, doc_id // {_DOCS_PER_FILE} AS file_id,
             {_XT_SQL} AS xt
      FROM documents WHERE doc_id % {_NOT_FOUND_EVERY} <> 0
    ), t AS (
      SELECT file_id,
             list_filter(regexp_split_to_array(xt, '\\s+'),
                         x -> x <> '') AS w
      FROM e
    ), b AS (
      SELECT file_id, w,
             CASE WHEN len(w) >= 2
                  THEN list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i + 1])
                  ELSE [] END AS bg
      FROM t
    ), r AS (
      SELECT file_id, CAST(len(w) AS BIGINT) AS n_tokens,
             (len(w) >= 20 AND len(w) <= 5000
              AND len(list_distinct(w)) / NULLIF(len(w), 0) >= 0.35
              AND COALESCE(
                    list_max(list_transform(list_distinct(bg),
                        x -> len(list_filter(bg, y -> y = x))))
                      / NULLIF(len(bg), 0) <= 0.20, TRUE)
              AND len(list_filter(w,
                        x -> x IN ('the','a','of','and','to')))
                      / NULLIF(len(w), 0) >= 0.01) AS keep
      FROM b
    )
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_fetched,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN keep THEN n_tokens END), 0)
                AS BIGINT) AS tokens_kept
    FROM r GROUP BY file_id
    """,
    doc="End-to-end crawl→curation chain: .warc.gz archives → record "
    "split → status filter → html_to_text → the existing Gopher-style "
    "composite quality gate (text.quality_filter — length bounds, "
    "distinct-token ratio, top-bigram share, stopword ratio) → "
    "per-archive keep accounting. The oracle replays BOTH halves in "
    "SQL: the lossless extraction formula and all five gate rules over "
    "it. This is the front-door composition a training-data build runs "
    "first at 100 TB: one documents scan, archive-independent synth, "
    "zero-shuffle split+extract+gate, one tiny per-file aggregate. "
    "sources/warc.py, operators/html.py, operators/text.py.",
)
def crawl_curation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    ex = _extracted(spark, sf_dir)
    qf = text.quality_filter(
        ex, text_col="text_out", id_col="doc_id", keep_cols=("file_id",)
    )
    return qf.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_fetched"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("keep"), F.col("n_tokens"))), F.lit(0)
        )
        .cast("long")
        .alias("tokens_kept"),
    )


@register(
    "interleaved_mm_spans",
    # Image geometry + pixel sums regenerated in SQL from the synth
    # formula (multimodal.synth_png_assets: w = 8 + d%5, h = 6 + d%4,
    # pixel (r,c) = (d*31 + r*17 + c*7) % 256), patch tokens =
    # ceil(h/4)*ceil(w/4); the packer's prefix/cut arithmetic replayed
    # exactly like the training_sequence_spans oracle.
    oracle=r"""
    WITH geo AS (
      SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
      FROM documents
    ), px AS (
      SELECT g.doc_id,
             SUM((g.doc_id * 31 + r.r * 17 + c.c * 7) % 256) AS ps,
             ANY_VALUE(((g.h + 3) // 4) * ((g.w + 3) // 4)) AS n_img
      FROM geo g, UNNEST(range(g.h)) AS r(r), UNNEST(range(g.w)) AS c(c)
      GROUP BY g.doc_id
    ), txt AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                             x -> x <> '')) AS n_txt
      FROM documents
    ), segs AS (
      SELECT t.source, t.doc_id, t.doc_id * 2 AS seg_key,
             'image' AS modality, p.n_img AS n, p.ps AS img_pixel_sum
      FROM txt t JOIN px p USING (doc_id)
      UNION ALL
      SELECT source, doc_id, doc_id * 2 + 1, 'text', n_txt, NULL
      FROM txt WHERE n_txt > 0
    ), s AS (
      SELECT source, doc_id, modality, n, img_pixel_sum,
             COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY seg_key
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS st
      FROM segs
    ), e AS (
      SELECT *, unnest(range(CAST(st // 64 AS BIGINT),
                             CAST((st + n - 1) // 64 + 1 AS BIGINT)))
                  AS seq_id
      FROM s
    )
    SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id, modality,
           CAST(GREATEST(st, seq_id * 64) - seq_id * 64 AS BIGINT)
             AS seq_start,
           CAST(GREATEST(st, seq_id * 64) - st AS BIGINT) AS seg_offset,
           CAST(LEAST(st + n, seq_id * 64 + 64)
                - GREATEST(st, seq_id * 64) AS BIGINT) AS chunk_len,
           CAST(img_pixel_sum AS BIGINT) AS img_pixel_sum
    FROM e
    """,
    doc="Image-text interleaved training manifest (VERDICT r13 #5) — "
    "the multimodal analog of training_sequence_spans: per document, "
    "REAL PNG decode (synth asset -> png_codec inflate/unfilter -> "
    "png_patch_grid) yields the ViT patch-token count from the DECODED "
    "raster, interleaved [image patches][text tokens] per doc, "
    "concatenated per source and cut every 64 positions into the "
    "(sequence, segment chunk) boundary map a multimodal trainer needs "
    "for attention/loss masks. Image chunks carry the decoded pixel "
    "sum, so the oracle (which regenerates geometry, pixel sums and "
    "the full packing arithmetic from first principles) catches a "
    "one-byte decode error AND a one-token packing error. Shape: one "
    "documents scan per modality side, zero-shuffle decode, the "
    "two-phase bounded prefix scan (never an unbounded corpus window), "
    "bounded explode. operators/multimodal.py::png_patch_grid, "
    "operators/packing.py::pack_interleaved.",
)
def interleaved_mm_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal, packing
    from ..operators.materialize import checkpoint_tracked
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    img = multimodal.png_patch_grid(
        multimodal.synth_png_assets(docs)
    ).withColumnRenamed("asset_id", "doc_id")
    txt = docs.select(
        "doc_id", "source", token_count("text").alias("n_txt")
    )
    # checkpoint the decode+join frame: the segment union reads it twice
    # and the packer's build-time stats agg a third time — without this
    # the Python decode chain re-executes per consumer
    j = checkpoint_tracked(txt.join(img, "doc_id"))
    segs = j.select(
        "source",
        "doc_id",
        (F.col("doc_id") * 2).alias("seg_key"),
        F.lit("image").alias("modality"),
        F.col("n_patches").alias("n_tokens"),
        F.col("pixel_sum").alias("img_pixel_sum"),
    ).unionAll(
        j.select(
            "source",
            "doc_id",
            (F.col("doc_id") * 2 + 1).alias("seg_key"),
            F.lit("text").alias("modality"),
            F.col("n_txt").alias("n_tokens"),
            F.lit(None).cast("long").alias("img_pixel_sum"),
        )
    )
    return packing.pack_interleaved(
        segs, seq_len=64,
        keep_cols=("doc_id", "modality", "img_pixel_sum"),
    )


def _opq_oracle() -> str:
    """Full-SQL replay of the OPQ-parametric comparison: scaling,
    per-dim variances, snake allocation, BOTH PQ trainings (layouts
    encoded as j∈0..3 plain / j∈4..7 balanced — per-(j) Lloyd chains
    are independent, so one unrolled chain trains both), ADC top-10,
    exact top-10, per-query recalls and the integer-count flag."""
    from .catalog_ext5 import _pq_iter_sql

    return f"""
    WITH scaled AS MATERIALIZED (
      SELECT vec_id,
             list_transform(range(1, 65),
                            i -> FLOOR(embedding[i]::DOUBLE / i
                                       * 262144 + 0.5) / 262144) AS ev
      FROM embeddings
    ), vars AS (
      SELECT t.i AS i,
             AVG(s.ev[t.i] * s.ev[t.i]) - AVG(s.ev[t.i]) * AVG(s.ev[t.i])
               AS v
      FROM scaled s CROSS JOIN range(1, 65) t(i) GROUP BY t.i
    ), alloc AS (
      SELECT i - 1 AS dim, r,
             CASE (r % 8) WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                          WHEN 3 THEN 3 WHEN 4 THEN 3 WHEN 5 THEN 2
                          WHEN 6 THEN 1 ELSE 0 END AS sub
      FROM (SELECT i, v, row_number() OVER (ORDER BY v DESC, i) - 1 AS r
            FROM vars)
    ), perm AS (
      SELECT list(dim ORDER BY sub, r) AS p FROM alloc
    ), permuted AS MATERIALIZED (
      SELECT s.vec_id, list_transform(perm.p, d -> s.ev[d + 1]) AS ev
      FROM scaled s CROSS JOIN perm
    ), sub AS MATERIALIZED (
      SELECT vec_id, t.j, list_slice(ev, t.j * 16 + 1, t.j * 16 + 16) AS s
      FROM scaled CROSS JOIN range(0, 4) t(j)
      UNION ALL
      SELECT vec_id, t.j + 4, list_slice(ev, t.j * 16 + 1, t.j * 16 + 16)
      FROM permuted CROSS JOIN range(0, 4) t(j)
    ), b0 AS MATERIALIZED (
      SELECT j,
             CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id)
                  AS INTEGER) - 1 AS cid,
             s AS c
      FROM sub
      WHERE vec_id IN (SELECT vec_id FROM scaled ORDER BY vec_id LIMIT 16)
    ),{_pq_iter_sql("b0", "pa1", "b1", 16)},{_pq_iter_sql("b1", "pa2", "b2", 16)},
    codes AS MATERIALIZED (
      SELECT vec_id, j, cid FROM (
        SELECT p.vec_id, p.j, c.cid,
               row_number() OVER (PARTITION BY p.vec_id, p.j
                 ORDER BY list_sum(list_transform(range(1, 17),
                          i -> (p.s[i] - c.c[i]) * (p.s[i] - c.c[i]))) ASC,
                          c.cid) AS rn
        FROM sub p JOIN b2 c ON c.j = p.j
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id FROM scaled ORDER BY vec_id LIMIT 8),
    tbl AS MATERIALIZED (
      SELECT s.vec_id AS query_id, b.j, b.cid,
             list_sum(list_transform(range(1, 17),
                      i -> (s.s[i] - b.c[i]) * (s.s[i] - b.c[i]))) AS d
      FROM sub s JOIN q ON q.query_id = s.vec_id
      JOIN b2 b ON b.j = s.j
    ),
    adc AS (
      SELECT t.query_id, CAST(e.j >= 4 AS INT) AS layout,
             e.vec_id AS neighbor_id, SUM(t.d) AS dist
      FROM codes e
      JOIN tbl t ON t.j = e.j AND t.cid = e.cid
      GROUP BY 1, 2, 3
    ),
    topk AS (
      SELECT query_id, layout, neighbor_id FROM (
        SELECT adc.*, ROW_NUMBER() OVER (PARTITION BY query_id, layout
                 ORDER BY dist ASC, neighbor_id) AS rn
        FROM adc
      ) WHERE rn <= 10
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum(list_transform(range(1, 65),
                   i -> (qe.ev[i] - c.ev[i]) * (qe.ev[i] - c.ev[i])))
                 ASC, c.vec_id) AS rn
        FROM q JOIN scaled qe ON qe.vec_id = q.query_id
        CROSS JOIN scaled c
      ) WHERE rn <= 10
    ),
    rec AS (
      SELECT t.query_id, t.layout,
             COUNT(e.neighbor_id) AS n_hits
      FROM topk t LEFT JOIN exact e
        ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
      GROUP BY 1, 2
    ),
    piv AS (
      SELECT query_id,
             MAX(CASE WHEN layout = 0 THEN n_hits END) AS h_plain,
             MAX(CASE WHEN layout = 1 THEN n_hits END) AS h_bal
      FROM rec GROUP BY query_id
    )
    SELECT query_id,
           ROUND(h_plain / 10.0, 4)  AS recall_plain,
           ROUND(h_bal / 10.0, 4)    AS recall_balanced,
           (SUM(h_bal) OVER () >= SUM(h_plain) OVER ())
             AS balanced_not_worse
    FROM piv
    """


@register(
    "opq_balanced_pq",
    oracle=_opq_oracle(),
    doc="OPQ, parametric variant (VERDICT r13 #8) — completing the "
    "quantization trio (PQ → IVF-PQ/residual → rotated): per-dimension "
    "variances (ONE agg pass, 64 scalars to the driver) drive a "
    "variance-balanced snake PERMUTATION of dims across subspaces (the "
    "OPQ paper's non-learned solution under near-diagonal covariance — "
    "an exactly-orthogonal rotation with ZERO encode/search overhead), "
    "then PQ trains on the natural layout AND the balanced layout at "
    "the SAME codes budget (m=4, k=16, 2 Lloyd iters) and both answer "
    "ADC top-10; output = per-query recall@10 vs exact L2 for both, "
    "plus an integer-count flag that balanced allocation is not worse "
    "(on the installed 1/(1+dim) PCA-decay spectrum it measures ~2x: "
    "0.275 -> 0.556 mean recall, reconstruction MSE / 2.73). The "
    "oracle replays EVERYTHING in SQL — scaling, variances, the "
    "allocation, both trainings (one unrolled chain, layouts encoded "
    "in the subspace key), ADC, exact search, recalls. Corpus sides "
    "stay pure JVM; the permutation is a projection re-order fused "
    "into codegen. operators/pq.py::dim_variances,"
    "balanced_dim_allocation,apply_dim_permutation.",
)
def opq_balanced_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import pq
    from ..operators.materialize import checkpoint_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    ev = F.col("embedding").cast("array<double>")
    # Scale to the 1/(1+dim) decay spectrum, then snap to the 2^-18
    # dyadic grid. The grid is the determinism device, not a
    # simplification: dyadic inputs make every training aggregate
    # (variance moments, Lloyd update sums — magnitudes bounded well
    # inside the 53-bit mantissa) an EXACT double sum, so the trained
    # codebooks are bit-identical regardless of partition/summation
    # order — across Spark runs AND vs the DuckDB oracle. Without it,
    # run-to-run 1e-16 aggregate noise can flip a near-tied Lloyd
    # assignment and shift a rank-10 ADC boundary (observed once in a
    # full-catalog sweep). Quantization error 2^-19 ≈ 2e-6 is far
    # below the spectrum structure the query measures.
    scaled = checkpoint_tracked(
        emb.select(
            "vec_id",
            F.transform(
                ev,
                lambda x, j: F.floor(
                    x / (F.lit(1.0) + j.cast("double"))
                    * F.lit(262144.0)
                    + F.lit(0.5)
                )
                / F.lit(262144.0),
            ).alias("ev"),
        )
    )
    variances = pq.dim_variances(scaled, "ev", 64)
    perm = pq.balanced_dim_allocation(variances, 4)
    permuted = pq.apply_dim_permutation(scaled, perm, "ev")

    queries0 = scaled.orderBy("vec_id").limit(8)

    def adc_top10(frame, qframe):
        books, _h = pq.pq_train(
            frame, vec_col="ev", id_col="vec_id", m=4, k=16, iters=2,
            init_by="id",
        )
        codes = pq.pq_assign(
            frame, books, vec_col="ev", id_col="vec_id"
        ).withColumnRenamed("vec_id", "neighbor_id")
        qs = qframe.select(
            F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
        )
        return pq.pq_topk(qs, codes, books, k=10).select(
            "query_id", "neighbor_id"
        )

    top_plain = adc_top10(scaled, queries0)
    top_bal = adc_top10(
        permuted, pq.apply_dim_permutation(queries0, perm, "ev")
    )

    # exact L2 top-10 on the scaled corpus (the permutation is
    # orthogonal, so exact neighbors are layout-invariant)
    qx = queries0.select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with("qv", "ev", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.asc("_d"), F.asc("neighbor_id")
    )
    exact = (
        scaled.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(qx))
        .select("query_id", "neighbor_id", d2.alias("_d"))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= 10)
        .select("query_id", "neighbor_id")
    )

    def hits(top, name):
        return (
            top.join(exact.withColumn("_hit", F.lit(1)),
                     ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.coalesce(F.sum("_hit"), F.lit(0)).alias(name))
        )

    piv = hits(top_plain, "h_plain").join(hits(top_bal, "h_bal"),
                                          "query_id")
    wall = Window.partitionBy()  # 8-row frame: the whole-query gate
    return piv.select(
        "query_id",
        F.round(F.col("h_plain") / 10.0, 4).alias("recall_plain"),
        F.round(F.col("h_bal") / 10.0, 4).alias("recall_balanced"),
        (F.sum("h_bal").over(wall) >= F.sum("h_plain").over(wall)).alias(
            "balanced_not_worse"
        ),
    )


@register(
    "crawl_multimodal_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, doc_id // {_DOCS_PER_FILE} AS file_id,
             CASE WHEN doc_id % {_NOT_FOUND_EVERY} = 0 THEN 'nf'
                  WHEN doc_id % 5 = 2 THEN 'img'
                  WHEN doc_id % 9 = 3 THEN 'plain'
                  ELSE 'html' END AS kind,
             text
      FROM documents
    ), ht AS (
      SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_html,
             CAST(SUM(LENGTH({_XT_SQL})) AS BIGINT) AS text_chars
      FROM d WHERE kind = 'html' GROUP BY file_id
    ), pl AS (
      SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_plain,
             CAST(SUM(LENGTH('Doc ' || CAST(doc_id AS VARCHAR) || ' '
               || trim(text) || ' end')) AS BIGINT) AS plain_chars
      FROM d WHERE kind = 'plain' GROUP BY file_id
    ), geo AS (
      SELECT doc_id, file_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
      FROM d WHERE kind = 'img'
    ), px AS (
      SELECT g.file_id, g.doc_id,
             ANY_VALUE(g.w * g.h) AS np,
             SUM((g.doc_id * 31 + r.r * 17 + c.c * 7) % 256) AS ps
      FROM geo g, UNNEST(range(g.h)) AS r(r), UNNEST(range(g.w)) AS c(c)
      GROUP BY g.file_id, g.doc_id
    ), im AS (
      SELECT file_id, COUNT(*) AS n_images, SUM(np) AS n_pixels,
             SUM(ps) AS pixel_sum
      FROM px GROUP BY file_id
    ), nf AS (
      SELECT file_id, COUNT(*) AS n_404 FROM d WHERE kind = 'nf'
      GROUP BY file_id
    )
    SELECT ht.file_id, n_html, text_chars,
           CAST(COALESCE(n_plain, 0) AS BIGINT) AS n_plain,
           CAST(COALESCE(plain_chars, 0) AS BIGINT) AS plain_chars,
           CAST(COALESCE(n_images, 0) AS BIGINT) AS n_images,
           CAST(COALESCE(n_pixels, 0) AS BIGINT) AS n_pixels,
           CAST(COALESCE(pixel_sum, 0) AS BIGINT) AS pixel_sum,
           CAST(COALESCE(n_404, 0) AS BIGINT) AS n_404
    FROM ht LEFT JOIN im USING (file_id) LEFT JOIN nf USING (file_id)
         LEFT JOIN pl USING (file_id)
    """,
    doc="Multimodal crawl ingest — the query that marries the WARC "
    "front door to the codec layer: archives carry a REAL crawl mix "
    "(HTML pages, text/plain documents (r17, VERDICT r16 #7 — "
    "curated WITHOUT a tag strip), image/png fetches with genuine "
    "png_codec bytes, 404s), the splitter routes by the PEELED HTTP "
    "Content-Type, HTML goes through html_to_text, plain text "
    "straight through payload_text, and images through the REAL PNG "
    "decode (decode_features: zlib inflate + unfilter, pixel stats "
    "over DECODED rasters); per-archive accounting of all "
    "modalities. The "
    "oracle recomputes everything from first principles (extraction "
    "formula for text lengths, the raster generator for pixel sums), "
    "so a mime-routing bug, a decode error, or a dropped record "
    "hash-mismatches. Zero-shuffle split/extract/decode; three tiny "
    "per-file aggregates. sources/warc.py, operators/html.py, "
    "operators/multimodal.py, operators/png_codec.py.",
)
def crawl_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.html import html_to_text
    from ..operators.materialize import checkpoint_tracked
    from ..operators.multimodal import decode_features
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    files = warc.synth_warc_files(
        docs, docs_per_file=_DOCS_PER_FILE,
        not_found_every=_NOT_FOUND_EVERY, image_every=5,
        plain_text_every=9,
    )
    # checkpoint the record table: four modality consumers (html,
    # plain, png, 404 accounting) read it — without this the synth +
    # gzip split chain re-executes per consumer
    recs = checkpoint_tracked(warc.warc_records(files))
    ok = recs.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & warc.is_decoded(F.col("http_encoding"))  # transport routing
    )
    doc_id = F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long")

    ht = (
        ok.filter(F.col("http_mime").startswith("text/html"))
        .select(
            "file_id",
            F.length(
                html_to_text(warc.payload_text())
            ).alias("_chars"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_html"),
            F.sum("_chars").cast("long").alias("text_chars"),
        )
    )
    pl = (
        ok.filter(F.col("http_mime").startswith("text/plain"))
        .select(
            "file_id",
            F.length(warc.payload_text()).alias("_pchars"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_plain"),
            F.sum("_pchars").cast("long").alias("plain_chars"),
        )
    )
    assets = ok.filter(F.col("http_mime") == "image/png").select(
        doc_id.alias("asset_id"),
        "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("png").alias("format"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    im = (
        decode_features(assets, fake=False)
        .select(
            (F.col("asset_id") / _DOCS_PER_FILE).cast("long").alias(
                "file_id"
            ),
            "n_bytes",
            "byte_sum",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("n_bytes").cast("long").alias("n_pixels"),
            F.sum("byte_sum").cast("long").alias("pixel_sum"),
        )
    )
    nf = (
        recs.filter(F.col("http_status") == 404)
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).alias("n_404"))
    )
    return (
        ht.join(im, "file_id", "left")
        .join(nf, "file_id", "left")
        .join(pl, "file_id", "left")
        .select(
            "file_id",
            "n_html",
            "text_chars",
            F.coalesce("n_plain", F.lit(0)).cast("long").alias("n_plain"),
            F.coalesce("plain_chars", F.lit(0))
            .cast("long")
            .alias("plain_chars"),
            F.coalesce("n_images", F.lit(0)).cast("long").alias("n_images"),
            F.coalesce("n_pixels", F.lit(0)).cast("long").alias("n_pixels"),
            F.coalesce("pixel_sum", F.lit(0))
            .cast("long")
            .alias("pixel_sum"),
            F.coalesce("n_404", F.lit(0)).cast("long").alias("n_404"),
        )
    )


@register(
    "crawl_domain_caps",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             'host' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
             doc_id % 13 AS sec
      FROM documents WHERE doc_id % {_NOT_FOUND_EVERY} <> 0
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY host ORDER BY doc_id)
                  AS rn
      FROM d
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_fetched,
           CAST(SUM(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(COUNT(DISTINCT sec) AS BIGINT) AS n_sections,
           MIN(CASE WHEN rn <= 10 THEN doc_id END) AS min_kept,
           MAX(CASE WHEN rn <= 10 THEN doc_id END) AS max_kept
    FROM r GROUP BY host
    """,
    doc="Per-domain capping — the anti-SEO/spam curation step every "
    "crawl pipeline runs before training (one host must not dominate "
    "the corpus): rich-URI archives (hosts/sections in the path) → "
    "record split → Spark's parse_url extracts HOST and PATH from the "
    "target URI (pure JVM) → capped_per_key keeps the first 10 docs "
    "per host via the TWO-PHASE top-N (per-input-partition prune "
    "before the per-host window — the heavy window never total-sorts "
    "a corpus-dominant host in one task) → per-host accounting with "
    "section diversity. The oracle re-derives hosts/sections from the "
    "synthesis formula and replays the cap, so a URL-parsing bug or a "
    "lossy prune hash-mismatches. sources/warc.py (rich_uris), "
    "operators/sampling.py::capped_per_key.",
)
def crawl_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.materialize import checkpoint_tracked
    from ..operators.sampling import capped_per_key
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    files = warc.synth_warc_files(
        docs, docs_per_file=_DOCS_PER_FILE,
        not_found_every=_NOT_FOUND_EVERY, rich_uris=True,
    )
    fetched = checkpoint_tracked(
        warc.warc_records(files)
        .filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
        )
        .select(
            F.parse_url("target_uri", F.lit("HOST")).alias("host"),
            F.regexp_extract(
                F.parse_url("target_uri", F.lit("PATH")),
                r"^/(sec\d+)/", 1,
            ).alias("sec"),
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
        )
    )
    kept = capped_per_key(fetched, "host", "doc_id", cap=10).groupBy(
        "host"
    ).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_kept"),
        F.max("doc_id").alias("max_kept"),
    )
    total = fetched.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetched"),
        F.count_distinct("sec").alias("n_sections"),
    )
    return total.join(kept, "host").select(
        "host", "n_fetched", "n_kept", "n_sections", "min_kept", "max_kept"
    )


@register(
    "robots_compliance_audit",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, doc_id % 7 AS h, doc_id % 13 AS sec
      FROM documents WHERE doc_id % {_NOT_FOUND_EVERY} <> 0
    ), x AS (
      SELECT 'host' || CAST(h AS VARCHAR) || '.example' AS host,
             COUNT(*) AS n_fetched,
             SUM(CASE WHEN h % 2 = 0 THEN
                   CASE WHEN sec = (2 * h + 5) % 13
                         AND CAST(doc_id AS VARCHAR) NOT LIKE '1%'
                        THEN 1 ELSE 0 END
                 WHEN h = 1 THEN  -- stacked-UA group, no Allow line
                   CASE WHEN sec = (2 * h + 7) % 13 THEN 1 ELSE 0 END
                 WHEN h = 3 THEN 0  -- empty specific group: allow-all
                 ELSE
                   CASE WHEN (sec = (2 * h) % 13
                              AND CAST(doc_id AS VARCHAR) NOT LIKE '1%')
                          OR sec = (2 * h + 1) % 13
                        THEN 1 ELSE 0 END
                 END) AS n_excluded
      FROM d GROUP BY h
    )
    SELECT host,
           CAST(n_fetched AS BIGINT)              AS n_fetched,
           CAST(n_fetched - n_excluded AS BIGINT) AS n_allowed,
           CAST(n_excluded AS BIGINT)             AS n_excluded
    FROM x
    """,
    doc="Robots-exclusion compliance audit with FULL RFC 9309 "
    "semantics (VERDICT r14 #7 + r15 #5) — the governance pass a "
    "crawl-derived corpus runs before training. Two RFC layers: "
    "(1) §2.2.1 GROUP SELECTION — rules belong to User-agent groups; "
    "a fetcher obeys ONLY the group matching its product token "
    "(case-insensitive), falling back to the `*` group when no "
    "specific group exists. The synthesis plants CONFLICTING groups "
    "on even hosts (`*` disallows sections 2h/2h+1; the "
    "shopify-etl-spark group disallows section 2h+5 instead), so a "
    "parser that pools all groups' rules — last round's shape — "
    "hash-mismatches. Group membership is recovered by a running "
    "count of User-agent lines over the per-host line sequence "
    "(a BOUNDED window: one robots.txt of lines per host, never "
    "corpus-keyed). (2) §2.2.2 longest-match precedence — excluded "
    "iff the longest matching Disallow prefix beats the longest "
    "matching Allow prefix (ties → Allow), evaluated as a "
    "zero-shuffle array higher-order expression over the broadcast "
    "per-host CHOSEN-group rule array. The oracle re-derives both "
    "layers from documents alone (even hosts use the specific-group "
    "formula, odd hosts the `*` formula). sources/warc.py "
    "(robots=True), functions/urls.py.",
)
def robots_compliance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.materialize import checkpoint_tracked
    from ..sources import warc

    agent = "shopify-etl-spark"  # our fetcher's product token
    docs = load_table(spark, sf_dir, "documents")
    files = warc.synth_warc_files(
        docs, docs_per_file=_DOCS_PER_FILE,
        not_found_every=_NOT_FOUND_EVERY, rich_uris=True, robots=True,
    )
    ok = checkpoint_tracked(
        warc.warc_records(files).filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
        )
    )
    is_robots = F.col("target_uri").endswith("/robots.txt")
    ua_pat = r"(?i)^user-agent:\s*(\S+)"
    rule_pat = r"(?i)^(allow|disallow):\s*(\S+)"
    # one robots body per host (re-fetched per archive, byte-identical
    # — dedupe BEFORE parsing), then per-host line sequence with group
    # ids: a User-agent line starts a new group (running count over a
    # window bounded by one robots.txt's line count)
    bodies = (
        ok.filter(is_robots)
        .select(
            F.parse_url("target_uri", F.lit("HOST")).alias("host"),
            F.col("payload").cast("string").alias("_body"),
        )
        .distinct()
    )
    lines = bodies.select(
        "host",
        F.posexplode(F.split("_body", "\n")).alias("pos", "_line"),
    )
    wh = Window.partitionBy("host").orderBy("pos")
    # RFC 9309 §2.2.1: ADJACENT User-agent lines share one group (the
    # stacked-UA form), so a new group starts only at a UA line whose
    # PREDECESSOR is not a UA line — a running count of group STARTS,
    # not of UA lines
    is_ua = F.regexp_extract("_line", ua_pat, 1) != ""
    lines = lines.withColumn("_is_ua", is_ua).withColumn(
        "grp",
        F.sum(
            (
                F.col("_is_ua")
                & ~F.coalesce(F.lag("_is_ua").over(wh), F.lit(False))
            ).cast("int")
        ).over(wh),
    )
    grp_agent = (
        lines.filter(F.col("_is_ua"))
        .select(
            "host",
            "grp",
            F.lower(F.regexp_extract("_line", ua_pat, 1)).alias("agent"),
        )
    )
    grp_rules = lines.select(
        "host",
        "grp",
        F.lower(F.regexp_extract("_line", rule_pat, 1)).alias("rule"),
        F.regexp_extract("_line", rule_pat, 2).alias("prefix"),
    ).filter(F.col("prefix") != "")
    # RFC 9309 §2.2.1: obey the group(s) matching our product token;
    # fall back to `*` only when NO specific group exists on the host.
    # The existence check comes from grp_agent ALONE (not the
    # rules⋈agent join), so an EMPTY specific group — RFC: allow-all
    # for that agent — still suppresses the `*` fallback. grp_agent is
    # host×group-bounded (one row per User-agent line in the web's
    # robots files) — broadcast at any SF
    host_spec = grp_agent.groupBy("host").agg(
        F.max((F.col("agent") == agent).cast("int")).alias(
            "_has_specific"
        )
    )
    tagged = grp_rules.join(F.broadcast(grp_agent), ["host", "grp"])
    chosen = tagged.join(F.broadcast(host_spec), "host").filter(
        (F.col("agent") == agent)
        | ((F.col("_has_specific") == 0) & (F.col("agent") == "*"))
    )
    rules = chosen.groupBy("host").agg(
        F.collect_list(F.struct("rule", "prefix")).alias("rules")
    )
    pages = ok.filter(~is_robots).select(
        F.parse_url("target_uri", F.lit("HOST")).alias("host"),
        F.parse_url("target_uri", F.lit("PATH")).alias("path"),
    )

    def match_len(kind: str):
        # longest matching prefix of the given rule kind, -1 if none —
        # array HOFs over the broadcast per-host rule array: the
        # longest-match precedence never leaves the projection
        return F.coalesce(
            F.array_max(
                F.transform(
                    F.filter(
                        "rules",
                        lambda r: (r["rule"] == kind)
                        & F.col("path").startswith(r["prefix"]),
                    ),
                    lambda r: F.length(r["prefix"]),
                )
            ),
            F.lit(-1),
        )

    excluded = match_len("disallow") > match_len("allow")
    return (
        pages.join(F.broadcast(rules), "host", "left")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_fetched"),
            F.sum(excluded.cast("long")).alias("n_excluded"),
        )
        .select(
            "host",
            "n_fetched",
            (F.col("n_fetched") - F.col("n_excluded"))
            .cast("long")
            .alias("n_allowed"),
            F.col("n_excluded").cast("long"),
        )
    )
