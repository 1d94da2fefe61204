"""Round-16 extension queries — closing the remaining real-dump seams
the round-15 verdict ranked (VERDICT r15 asks #1/#3/#4/#5/#6):

* ``crawl_encoding_routing`` — the transport-routing accounting gate:
  archives carry the full real-dump transport mix INCLUDING an
  unknown-codec leg (``Content-Encoding: br`` bodies the parser
  passes through labeled-but-compressed), and every extraction front
  must route undecoded records OUT and COUNT them — the oracle pins
  extracted-vs-skipped counts per encoding label, so a front that
  silently feeds compressed bytes to ``html_to_text`` (garbling chars)
  or silently drops them (losing counts) hash-mismatches either way.
* ``warc_revisit_resolution`` — the real Common Crawl dedup format:
  ``WARC-Type: revisit`` records referencing earlier byte-identical
  responses resolve against them by payload digest, accounting the
  bytes the crawler saved.
* RFC 9309 §2.2.1 group selection landed IN ``robots_compliance_audit``
  (catalog_ext6): rules live in per-User-agent groups, and a fetcher
  obeys the group matching its product token (``*`` as fallback)
  before longest-match.
* ``cdx_surt_lookup`` — the consumer story CDX exists for: resolve a
  canonical (SURT-keyed) URL to (file, offset, length) through the
  index and recover THE one record by ranged read.
* ``training_shard_export_bpe`` — subword twin of the shard export:
  frozen BPE merges (trained once, broadcast) re-tokenize the corpus
  and the same shard/checksum/publish machinery packs the ids.
* ``wat_export_roundtrip`` (stretch) — the WAT metadata derivative
  (url/status/outlinks/title JSON per response, WARC-Refers-To back
  to it), completing the Common Crawl WAT/WET/CDX trio.
* ``crawl_snapshot_diff`` (stretch) — the dump-over-dump delta
  (added/removed/changed/unchanged) by canonical-URL digest compare.
* ``sitemap_coverage_audit`` (stretch) — frontier seeding/coverage:
  sharded per-archive sitemaps parsed out of the crawl, canonical-key
  full-outer joined against fetched pages, per-host gap accounting.

Scale shapes are inherited from the ext6/ext7 chains: zero-shuffle
split/extract with tiny per-label aggregates; the revisit resolution is
one digest-keyed join between a revisit-sized side and responses; the
SURT lookup is a broadcast join against the index; the BPE export's
only Python is the KB-sized per-shard packer plus the Arrow BPE-apply
codec already gated elsewhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table, register
from .catalog_ext6 import _DOCS_PER_FILE, _NOT_FOUND_EVERY, _XT_SQL
from .catalog_ext7 import _UNKNOWN_ENC_EVERY, _XT_LATIN_SQL


@register(
    "crawl_encoding_routing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_UNKNOWN_ENC_EVERY} = 6 THEN 'br'
                  ELSE CASE doc_id % 5
                    WHEN 0 THEN 'identity'
                    WHEN 1 THEN 'chunked'
                    WHEN 2 THEN 'gzip'
                    WHEN 3 THEN 'deflate'
                    ELSE 'chunked+gzip' END END AS enc,
             CASE WHEN doc_id % {_UNKNOWN_ENC_EVERY} = 6 THEN 0
                  ELSE LENGTH({_XT_LATIN_SQL}) END AS chars
      FROM documents WHERE doc_id % {_NOT_FOUND_EVERY} <> 0
    )
    SELECT enc,
           CAST(COUNT(*) AS BIGINT) AS n_fetches,
           CAST(SUM(CASE WHEN enc = 'br' THEN 0 ELSE 1 END) AS BIGINT)
             AS n_extracted,
           CAST(SUM(CASE WHEN enc = 'br' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_skipped,
           CAST(SUM(chars) AS BIGINT) AS extracted_chars
    FROM d GROUP BY enc
    """,
    doc="Transport-encoding routing with skipped-record accounting "
    "(VERDICT r15 #1 — the last silent-corruption path from a real "
    "dump): the synthesis plants the full transport mix PLUS an "
    "unknown-codec leg (doc_id % 9 == 6 ships Content-Encoding: br — "
    "genuinely compressed raw-deflate bytes the parser passes through "
    "LABELED, never decoded), and the ingest front routes on "
    "warc.is_decoded: fully-decoded labels (identity/chunked/gzip/"
    "deflate and + combinations) extract through payload_text → "
    "html_to_text, everything else is SKIPPED AND COUNTED — the "
    "permissive-mode accounting philosophy applied to transport. The "
    "oracle recomputes per-label fetch/extracted/skipped counts and "
    "the extracted char mass from documents alone, so a front that "
    "feeds compressed bytes to extraction (garbled chars) or silently "
    "drops unknown-codec records (lost counts) hash-mismatches either "
    "way. The same predicate guards _extracted, crawl_multimodal_stats "
    "and the language router. ONE shuffle beyond "
    "the synth grouping (the per-label aggregate). "
    "sources/warc.py::is_decoded,parse_record.",
)
def crawl_encoding_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.html import html_to_text
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    files = warc.synth_warc_files(
        docs, docs_per_file=_DOCS_PER_FILE,
        not_found_every=_NOT_FOUND_EVERY, http_variants=True,
        unknown_encoding_every=_UNKNOWN_ENC_EVERY,
    )
    ok = warc.warc_records(files).filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )
    dec = warc.is_decoded(F.col("http_encoding"))
    routed = ok.select(
        F.col("http_encoding").alias("enc"),
        dec.alias("_dec"),
        F.when(dec, F.length(html_to_text(warc.payload_text())))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_chars"),
    )
    return routed.groupBy("enc").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(F.col("_dec").cast("long")).alias("n_extracted"),
        F.sum((~F.col("_dec")).cast("long")).alias("n_skipped"),
        F.sum("_chars").alias("extracted_chars"),
    )


@register(
    "warc_revisit_resolution",
    oracle=f"""
    SELECT doc_id,
           TRUE AS resolved,
           TRUE AS refers_to_match,
           CAST(0 AS BIGINT) AS revisit_body_bytes,
           CAST(LENGTH({_XT_SQL}) AS BIGINT) AS saved_chars
    FROM documents
    WHERE doc_id % {_NOT_FOUND_EVERY} <> 0 AND doc_id % 20 = 14
    """,
    doc="WARC revisit resolution (VERDICT r15 #4) — the one real-dump "
    "record type the engine had not seen: Common Crawl deduplicates "
    "byte-identical re-fetches as WARC-Type: revisit records carrying "
    "WARC-Refers-To (the original response's record id) and "
    "WARC-Payload-Digest instead of re-storing the body (zero payload "
    "bytes — that is the format's point). The synthesis "
    "(revisits=True) converts the id%20==14 byte-identical re-fetches "
    "to exactly that shape; the query resolves each revisit against "
    "the stored responses by (DIGEST, CANONICAL URL) JOIN (md5 of the "
    "decoded payload — the same digest cdx_records computes — plus the "
    "canonicalized target, r17: on a real dump many distinct URLs "
    "serve byte-identical boilerplate bodies, so a digest-only join "
    "fans out; the original side is also collapsed to one row per key "
    "via max_by), cross-checks the "
    "refers-to record id, and values the resolution by the referenced "
    "page's extracted char mass. The oracle re-derives the revisit "
    "doc set from the synthesis formula, pins resolved/"
    "refers_to_match literal TRUE (a digest mismatch, a missed "
    "original, or a record-id drift flips them) and revisit_body_"
    "bytes literal 0 (bodies must NOT ride revisits), and recomputes "
    "saved_chars from documents alone. Scale shape: the revisit side "
    "is a small fraction of the corpus; the digest join is one "
    "equi-join on an 32-hex key; the record table is checkpointed "
    "(two consumers, the splitter runs once). "
    "sources/warc.py (revisits=True), parse_record refers_to/"
    "payload_digest columns.",
)
def warc_revisit_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.html import html_to_text
    from ..operators.materialize import checkpoint_tracked
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    files = warc.synth_warc_files(
        docs, docs_per_file=_DOCS_PER_FILE,
        not_found_every=_NOT_FOUND_EVERY, rich_uris=True, refetch=True,
        revisits=True,
    )
    recs = checkpoint_tracked(warc.warc_records(files))
    # resolve_revisits (r17: hoisted into sources/warc.py so the
    # revisit-aware curation chain shares it) joins on (digest,
    # canonical URL) with a latest-wins collapse on the original side
    # — duplicate-digest-safe — and evaluates the value column
    # (extraction) BEFORE the shuffle so payload bytes never ride the
    # exchange; 16-byte digest rows do. The revisit side grows with
    # the corpus, so neither side broadcasts — the SMJ is the
    # scale-correct plan.
    resolved = warc.resolve_revisits(
        recs,
        value=F.length(html_to_text(warc.payload_text())).cast("long"),
    )
    return resolved.select(
        "doc_id",
        F.col("record_id").isNotNull().alias("resolved"),
        (F.col("refers_to") == F.col("record_id")).alias(
            "refers_to_match"
        ),
        "revisit_body_bytes",
        F.col("orig_value").alias("saved_chars"),
    )


@register(
    "cdx_surt_lookup",
    oracle=f"""
    SELECT doc_id,
           'example,host' || CAST(doc_id % 7 AS VARCHAR) || ')/sec' ||
             CAST(doc_id % 13 AS VARCHAR) || '/doc/' ||
             CAST(doc_id AS VARCHAR) AS surt,
           TRUE AS resolved,
           CAST(LENGTH({_XT_SQL}) AS BIGINT) AS recovered_chars
    FROM documents
    WHERE doc_id % {_NOT_FOUND_EVERY} <> 0 AND doc_id % 50 = 3
    """,
    doc="SURT-keyed CDX lookup + ranged-read recovery (VERDICT r15 #6) "
    "— the consumer story a CDX index exists for: given a MESSY URL "
    "spelling (uppercase scheme/host, explicit :80, doubled+trailing "
    "slashes, a fragment), canonicalize → SURT key (functions/urls.py::"
    "surt_key — host labels reversed, the form real web-archive "
    "indexes sort by) → broadcast-join the key set against the index "
    "(cdx_records now carries the surt column) → resolve (file_id, "
    "offset, comp_len) → fetch_record_ranges decompresses ONLY "
    "blob[offset:offset+len] (one self-contained gzip member — at "
    "production an object-store ranged GET; the archive is never "
    "streamed) → parse → extract. The oracle re-derives the lookup "
    "doc set (doc_id % 50 == 3, non-404), the SURT key VALUE, and the "
    "recovered page's extracted char mass from documents alone, and "
    "pins resolved (self_contained ∧ HTTP 200) literal TRUE — a "
    "canonicalization drift, a wrong coordinate, or a non-clean slice "
    "hash-mismatches. Scale shape: the key set broadcasts to the "
    "index AND to the archives; the fetch is a zero-shuffle "
    "mapInPandas whose memory is one record. sources/warc.py::"
    "cdx_records,fetch_record_ranges, functions/urls.py::surt_key.",
)
def cdx_surt_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.urls import surt_key
    from ..operators.html import html_to_text
    from ..operators.materialize import checkpoint_tracked
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    # two consumers of the synthesized archives (index build + the
    # blob side of the ranged fetch): checkpoint so synthesis runs once
    files = checkpoint_tracked(
        warc.synth_warc_files(
            docs, docs_per_file=_DOCS_PER_FILE,
            not_found_every=_NOT_FOUND_EVERY, rich_uris=True,
        )
    )
    # the lookup set arrives as MESSY spellings — canonicalization is
    # part of the lookup contract, not a fixture convenience
    d = F.col("doc_id")
    messy = F.concat(
        F.lit("HTTP://HOST"), (d % 7).cast("string"),
        F.lit(".EXAMPLE:80//sec"), (d % 13).cast("string"),
        F.lit("//doc/"), d.cast("string"), F.lit("/#frag"),
    )
    keys = docs.filter(
        (d % 50 == 3) & (d % _NOT_FOUND_EVERY != 0)
    ).select("doc_id", surt_key(messy).alias("surt"))
    idx = warc.cdx_records(files).filter(
        F.col("warc_type") == "response"
    ).select("surt", "file_id", "offset", "comp_len")
    hits = idx.join(F.broadcast(keys), "surt").select(
        "surt", "file_id", "offset", "comp_len"
    )
    ranged = warc.fetch_record_ranges(
        files.join(F.broadcast(hits), "file_id")
    )
    # doc identity rides the SURT key itself (…)/doc/{id}) — no second
    # pass over documents for the recovery side
    return ranged.select(
        F.regexp_extract("surt", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "surt",
        (
            F.col("self_contained") & (F.col("http_status") == 200)
        ).alias("resolved"),
        F.length(html_to_text(warc.payload_text()))
        .cast("long")
        .alias("recovered_chars"),
    )


# BPE shard-export constants (mirrored in the test-side reference
# replay): 40 merges, the word-level export's vocab/seq/shard layout.
_BPE_MERGES = 40
_BPE_VOCAB = 256
_BPE_SEQ_LEN = 128
_BPE_SEQS_PER_SHARD = 8

# the GPT-2-style pretoken split, DuckDB spelling (catalog_ext2's
# bpe_pretoken_counts pattern — Java-regex ∩ RE2 subset, identical on
# both engines; '' escapes the quote inside the SQL literal)
_PRETOK_SQL = (
    "'(?:''s|''t|''re|''ve|''m|''ll|''d)"
    r"| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s+'"
)


@register(
    "training_shard_export_bpe",
    # guarantee-gate shape (the codec-gate discipline for a computation
    # SQL cannot replay — BPE merges compose beyond one step): the
    # SQL-visible side (per-source pretoken counts + char mass, both
    # plain regex aggregates) is value-graded, and four in-plan
    # self-check flags pin the non-SQL side: character conservation
    # (BPE segmentation must tile the pretokens exactly), token-count
    # bounds (n_pretokens ≤ n_bpe_tokens ≤ pretoken_chars), shard
    # arithmetic (contiguous ids, all-but-last full, byte/pad algebra,
    # manifest totals == apply totals) and checksums recomputed FROM
    # the stored blob bytes. Byte-level shard parity vs an independent
    # pure-Python BPE+pack replay is pinned in tests/test_shards.py.
    oracle=f"""
    SELECT source,
           CAST(SUM(COALESCE(list_sum(list_transform(
               regexp_extract_all(text, {_PRETOK_SQL}, 0),
               x -> LENGTH(x))), 0)) AS BIGINT) AS pretoken_chars,
           CAST(SUM(len(regexp_extract_all(text, {_PRETOK_SQL}, 0)))
               AS BIGINT) AS n_pretokens,
           TRUE AS chars_conserved,
           TRUE AS token_count_bounded,
           TRUE AS shard_arith_ok,
           TRUE AS checksums_ok
    FROM documents GROUP BY source
    """,
    doc="Subword (BPE) training-shard export (VERDICT r15 #3) — real "
    "trainer shards are subword, not word-level: bpe_train learns 40 "
    "ranked merges (driver-side fold over the frequency-pruned "
    "pretoken dict — model-sized, corpus-independent loop), bpe_apply "
    "segments the corpus (Arrow mapInPandas, per-batch pretoken memo, "
    "source riding keep_cols), and the SAME shard machinery as "
    "training_shard_export packs the ids: shard_token_stream consumes "
    "the pre-tokenized column (tokens_col seam, r16), ranks a "
    "256-entry subword vocabulary, assigns global positions by the "
    "two-phase bounded prefix scan, and shard_blobs packs uint16 "
    "little-endian blobs whose checksums are recomputed from the "
    "packed bytes. Because merge composition is not SQL-replayable "
    "(the documented bpe_apply_one_merge seam), the gate is the "
    "guarantee pattern: value-graded pretoken counts/char mass (same "
    "regex both engines) + pinned-TRUE conservation/bounds/shard-"
    "arithmetic/checksum flags, with byte-level parity vs a "
    "pure-Python reference replay in tests/test_shards.py. "
    "operators/text.py::bpe_train,bpe_apply, operators/shards.py.",
)
def training_shard_export_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import shards, text
    from ..operators.materialize import checkpoint_tracked

    span = _BPE_SEQ_LEN * _BPE_SEQS_PER_SHARD
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, n_merges=_BPE_MERGES)
    seg = checkpoint_tracked(
        text.bpe_apply(docs, merges, keep_cols=("source",))
    )
    stream = shards.shard_token_stream(
        seg, vocab_size=_BPE_VOCAB, seq_len=_BPE_SEQ_LEN,
        seqs_per_shard=_BPE_SEQS_PER_SHARD, tokens_col="bpe_tokens",
    )
    blobs = checkpoint_tracked(
        shards.shard_blobs(
            stream, vocab_size=_BPE_VOCAB, seq_len=_BPE_SEQ_LEN
        )
    )

    # apply-side facts: BPE token totals + concatenated char mass
    bpe_stats = seg.groupBy("source").agg(
        F.sum("n_bpe_tokens").alias("_n_tok"),
        F.sum(F.length(F.array_join("bpe_tokens", ""))).alias(
            "_bpe_chars"
        ),
    )
    # SQL-mirrorable side: pretoken counts + char mass (same regex the
    # oracle runs)
    pre = text.bpe_pretokens("text")
    pre_stats = docs.groupBy("source").agg(
        F.sum(F.size(pre)).cast("long").alias("n_pretokens"),
        F.sum(F.length(F.array_join(pre, ""))).cast("long").alias(
            "pretoken_chars"
        ),
    )
    # manifest arithmetic, per shard then per source
    byte_ok = F.col("byte_len") == 2 * _BPE_SEQ_LEN * F.col("n_seqs")
    pad_ok = (
        (F.col("n_pad")
         == F.col("n_seqs") * _BPE_SEQ_LEN - F.col("n_tokens"))
        & (F.col("n_pad") >= 0)
        & (F.col("n_pad") < _BPE_SEQ_LEN)
    )
    arith = blobs.groupBy("source").agg(
        F.sum("n_tokens").alias("_m_tok"),
        F.count(F.lit(1)).alias("_n_shards"),
        F.max("shard_id").alias("_max_sid"),
        F.every(byte_ok & pad_ok).alias("_per_shard_ok"),
        F.sum((F.col("n_tokens") == span).cast("long")).alias("_n_full"),
    )
    # independent checksum recheck from the STORED blob bytes
    import pandas as pd

    def recheck(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "shard_id": pdf["shard_id"],
                    "_ck2": [
                        shards.blob_checksum(bytes(b)) for b in pdf["blob"]
                    ],
                }
            )

    ck = (
        blobs.mapInPandas(
            recheck, "source string, shard_id long, _ck2 long"
        )
        .join(
            # manifest rows are shard-count-sized (corpus/1024) —
            # broadcast against the recheck stream
            F.broadcast(
                shards.shard_manifest(blobs).select(
                    "source", "shard_id", "checksum"
                )
            ),
            ["source", "shard_id"],
        )
        .groupBy("source")
        .agg(F.every(F.col("_ck2") == F.col("checksum")).alias(
            "checksums_ok"
        ))
    )
    # every joined frame is #sources-sized — broadcast all of them
    return (
        pre_stats.join(F.broadcast(bpe_stats), "source")
        .join(F.broadcast(arith), "source")
        .join(F.broadcast(ck), "source")
        .select(
            "source",
            "pretoken_chars",
            "n_pretokens",
            (F.col("_bpe_chars") == F.col("pretoken_chars")).alias(
                "chars_conserved"
            ),
            (
                (F.col("_n_tok") >= F.col("n_pretokens"))
                & (F.col("_n_tok") <= F.col("pretoken_chars"))
            ).alias("token_count_bounded"),
            (
                F.col("_per_shard_ok")
                & (F.col("_n_shards") == F.col("_max_sid") + 1)
                & (F.col("_n_full") >= F.col("_n_shards") - 1)
                & (F.col("_m_tok") == F.col("_n_tok"))
            ).alias("shard_arith_ok"),
            "checksums_ok",
        )
    )


@register(
    "wat_export_roundtrip",
    oracle=f"""
    SELECT doc_id,
           'http://host' || CAST(doc_id % 7 AS VARCHAR) || '.example/sec'
             || CAST(doc_id % 13 AS VARCHAR) || '/doc/'
             || CAST(doc_id AS VARCHAR) AS url,
           CAST(200 AS BIGINT) AS status,
           CAST(2 AS BIGINT) AS n_outlinks,
           't' || CAST(doc_id AS VARCHAR) AS title,
           CAST(doc_id // {_DOCS_PER_FILE} AS BIGINT) AS wat_file_id,
           TRUE AS refers_match
    FROM documents WHERE doc_id % {_NOT_FOUND_EVERY} <> 0
    """,
    doc="WAT export round-trip (r16 stretch) — COMPLETES the Common "
    "Crawl derivative trio: the engine already writes WET (text "
    "conversions) and CDX (byte-coordinate index); WAT is the "
    "metadata derivative most link/graph consumers read instead of "
    "raw crawl — per response record, a JSON envelope (url, status, "
    "outlinks, title) in a WARC metadata record carrying "
    "WARC-Refers-To back to the response it describes. The chain is "
    "the wet_export discipline doubled: synth .warc.gz → split → "
    "JVM-side metadata extraction (outlinks via regexp_extract_all, "
    "title via html_title over the raw head, JSON via "
    "to_json(struct(...)) — zero Python) → wat_archives (per-record-"
    "gzip metadata records, Arrow packer per archive) → split AGAIN → "
    "from_json parse-back → per-doc fields. The oracle recomputes "
    "url/status/outlink-count/title/file layout from documents alone "
    "and pins the refers-to id match TRUE, so a JSON field drift, a "
    "lost outlink, or a mis-referenced record hash-mismatches. "
    "Zero-shuffle except the two archive groupings. "
    "sources/warc.py::wat_archives, operators/html.py::html_title.",
)
def wat_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.html import html_outlinks, html_title
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    files = warc.synth_warc_files(
        docs, docs_per_file=_DOCS_PER_FILE,
        not_found_every=_NOT_FOUND_EVERY, rich_uris=True, links=True,
    )
    ok = warc.warc_records(files).filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & warc.is_decoded(F.col("http_encoding"))
    )
    meta = ok.select(
        "file_id",
        "rec_index",
        "record_id",
        F.to_json(
            F.struct(
                F.col("target_uri").alias("url"),
                F.col("http_status").alias("status"),
                html_outlinks(warc.payload_text()).alias("outlinks"),
                html_title(warc.payload_text()).alias("title"),
            )
        ).alias("wat_json"),
    )
    wat = warc.wat_archives(meta)
    wat_schema = StructType(
        [
            StructField("url", StringType()),
            StructField("status", LongType()),
            StructField("outlinks", ArrayType(StringType())),
            StructField("title", StringType()),
        ]
    )
    back = warc.warc_records(wat).filter(
        F.col("warc_type") == "metadata"
    ).select(
        F.col("file_id").alias("wat_file_id"),
        "refers_to",
        F.from_json(F.col("payload").cast("string"), wat_schema).alias(
            "m"
        ),
    )
    doc_id = F.regexp_extract("m.url", r"/doc/(\d+)$", 1).cast("long")
    return back.select(
        doc_id.alias("doc_id"),
        F.col("m.url").alias("url"),
        F.col("m.status").alias("status"),
        F.size("m.outlinks").cast("long").alias("n_outlinks"),
        F.col("m.title").alias("title"),
        "wat_file_id",
        (
            F.regexp_extract("refers_to", r"resp-0*(\d+)", 1).cast("long")
            == doc_id
        ).alias("refers_match"),
    )


@register(
    "crawl_snapshot_diff",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % 12 = 7 THEN 'added'
                WHEN doc_id % 12 = 11 THEN 'removed'
                WHEN doc_id % 10 = 4 THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM documents WHERE doc_id % {_NOT_FOUND_EVERY} <> 0
    """,
    doc="Dump-over-dump snapshot diff (r16 stretch) — the delta a real "
    "crawl consumer computes between two monthly dumps (what was "
    "added / removed / changed / unchanged) before deciding what to "
    "re-process: two synthesized crawls of the same URL space (the "
    "PREVIOUS dump lacks the id%12==7 pages, the CURRENT dump lacks "
    "id%12==11 and serves updated ' v2' content for id%10==4), keyed "
    "by CANONICAL URL (functions/urls.py — the identity every "
    "cross-dump join must use) and compared by payload digest via ONE "
    "full-outer join of two (url, md5) projections — 16-byte-ish rows "
    "ride the shuffle, payloads never do. The oracle re-derives every "
    "doc's classification from the synthesis formulas, so a digest "
    "drift, a lossy join, or a canonicalization bug flips a class and "
    "hash-mismatches. sources/warc.py, functions/urls.py.",
)
def crawl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.urls import canonicalize_url
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    prev_docs = docs.filter(d % 12 != 7)
    cur_docs = docs.filter(d % 12 != 11).withColumn(
        "text",
        F.when(
            d % 10 == 4, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )

    def digests(dd):
        files = warc.synth_warc_files(
            dd, docs_per_file=_DOCS_PER_FILE,
            not_found_every=_NOT_FOUND_EVERY, rich_uris=True,
        )
        return warc.warc_records(files).filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            & warc.is_decoded(F.col("http_encoding"))
        ).select(
            canonicalize_url("target_uri").alias("url"),
            F.md5("payload").alias("dg"),
        )

    a = digests(prev_docs).withColumnRenamed("dg", "dg_prev")
    b = digests(cur_docs).withColumnRenamed("dg", "dg_cur")
    j = a.join(b, "url", "full")
    return j.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.when(F.col("dg_prev").isNull(), F.lit("added"))
        .when(F.col("dg_cur").isNull(), F.lit("removed"))
        .when(F.col("dg_prev") == F.col("dg_cur"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )


@register(
    "sitemap_coverage_audit",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, doc_id % 7 AS h FROM documents
    )
    SELECT 'host' || CAST(h AS VARCHAR) || '.example' AS host,
           CAST(SUM(CASE WHEN doc_id % 3 <> 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_listed,
           CAST(SUM(CASE WHEN doc_id % {_NOT_FOUND_EVERY} <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fetched_ok,
           CAST(SUM(CASE WHEN doc_id % 3 <> 1
                          AND doc_id % {_NOT_FOUND_EVERY} <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_listed_ok,
           CAST(SUM(CASE WHEN doc_id % 3 <> 1
                          AND doc_id % {_NOT_FOUND_EVERY} = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_listed,
           CAST(SUM(CASE WHEN doc_id % 3 = 1
                          AND doc_id % {_NOT_FOUND_EVERY} <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_unlisted_fetched
    FROM d GROUP BY h
    """,
    doc="Sitemap coverage audit (r16 stretch) — the frontier-seeding "
    "side of the crawl front door: real crawlers seed and audit their "
    "frontier against the sites' own sitemap shards. The synthesis "
    "rides per-archive sharded sitemap-{{fid}}.xml responses into the "
    "crawl (per-host <loc> listings; docs with id%3==1 deliberately "
    "unlisted, 404 docs deliberately listed — the two coverage gaps "
    "that matter); the audit parses <loc> entries out of the archives "
    "(one JVM regexp_extract_all — no XML library), canonicalizes "
    "BOTH sides (sitemap URLs and fetched URLs must meet on the "
    "canonical key), full-outer joins them, and accounts per host: "
    "listed, fetched-OK, listed∧fetched (covered), listed-but-dead "
    "(404 — stale sitemap entries), fetched-but-unlisted (frontier "
    "found what the site didn't declare). The oracle re-derives all "
    "five counts from the synthesis formulas, so a <loc> parse bug, a "
    "canonicalization mismatch, or a lossy join changes a count and "
    "hash-mismatches. Scale shape: ONE full-outer join of (url) keys "
    "— 8-byte-ish rows, payloads never shuffle — + one per-host "
    "aggregate over the checkpointed record table. "
    "sources/warc.py (sitemaps=True), functions/urls.py.",
)
def sitemap_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.urls import canonicalize_url
    from ..operators.materialize import checkpoint_tracked
    from ..sources import warc

    docs = load_table(spark, sf_dir, "documents")
    files = warc.synth_warc_files(
        docs, docs_per_file=_DOCS_PER_FILE,
        not_found_every=_NOT_FOUND_EVERY, rich_uris=True, sitemaps=True,
    )
    recs = checkpoint_tracked(
        warc.warc_records(files).filter(F.col("warc_type") == "response")
    )
    is_sitemap = F.col("target_uri").rlike(r"/sitemap-\d+\.xml$")
    listed = (
        recs.filter((F.col("http_status") == 200) & is_sitemap)
        .select(
            F.explode(
                F.regexp_extract_all(
                    F.col("payload").cast("string"),
                    F.lit(r"<loc>([^<]+)</loc>"),
                    1,
                )
            ).alias("_raw")
        )
        .select(canonicalize_url("_raw").alias("url"))
        .withColumn("_listed", F.lit(True))
    )
    fetched = (
        recs.filter(
            (F.col("http_status") == 200)
            & ~is_sitemap
            & warc.is_decoded(F.col("http_encoding"))
        )
        .select(canonicalize_url("target_uri").alias("url"))
        .withColumn("_fetched", F.lit(True))
    )
    j = listed.join(fetched, "url", "full").select(
        F.try_parse_url("url", F.lit("HOST")).alias("host"),
        F.coalesce("_listed", F.lit(False)).alias("_l"),
        F.coalesce("_fetched", F.lit(False)).alias("_f"),
    )
    return j.groupBy("host").agg(
        F.sum(F.col("_l").cast("long")).alias("n_listed"),
        F.sum(F.col("_f").cast("long")).alias("n_fetched_ok"),
        F.sum((F.col("_l") & F.col("_f")).cast("long")).alias(
            "n_listed_ok"
        ),
        F.sum((F.col("_l") & ~F.col("_f")).cast("long")).alias(
            "n_dead_listed"
        ),
        F.sum((F.col("_f") & ~F.col("_l")).cast("long")).alias(
            "n_unlisted_fetched"
        ),
    )
