"""Raw-crawl ingest (sources/warc.py + operators/html.py): gzip-member
splitting, WARC/HTTP parsing, HTML→text extraction rules, and the
lossless synth round-trip the catalog oracles rely on."""

import zlib

import pytest
from pyspark.sql import functions as F

from shopify_etl_spark.operators import html as H
from shopify_etl_spark.sources import warc as W


def _extract(spark, html_str, normalize=True):
    return (
        spark.range(1)
        .select(H.html_to_text(F.lit(html_str), normalize_ws=normalize))
        .collect()[0][0]
    )


class TestHtmlToText:
    def test_head_script_style_comment_dropped(self, spark):
        page = (
            "<html><head><title>skip</title><style>p{}</style>"
            '<script>var a="<p>trap</p>";</script></head>'
            "<body><!-- note with <b>tags</b> -->"
            "<p>keep this</p></body></html>"
        )
        assert _extract(spark, page) == "keep this"

    def test_inline_tags_deleted_in_place(self, spark):
        assert (
            _extract(spark, "<p>wo<b>r</b>d and <i>more</i></p>")
            == "word and more"
        )

    def test_block_tags_are_word_boundaries(self, spark):
        assert (
            _extract(spark, "<div>one</div><div>two</div>three<br>four")
            == "one two three four"
        )

    def test_single_pass_entity_decode(self, spark):
        # &amp;lt; must decode to the LITERAL text "&lt;", never "<"
        got = _extract(
            spark, "<p>&lt;tag&gt; &quot;q&quot; &#39;s&#39; "
            "a&nbsp;b &amp;lt; &amp;amp;</p>"
        )
        assert got == "<tag> \"q\" 's' a b &lt; &amp;"

    def test_attributes_and_doctype(self, spark):
        page = (
            "<!DOCTYPE html>\n<p class='x' data-v=\"<not a tag\">ok</p>"
        )
        # the quoted '<' inside an attribute is inside the tag's <...>
        # span, so the tag-stripper consumes it with the tag
        assert "ok" in _extract(spark, page)

    def test_no_normalization_keeps_newlines(self, spark):
        got = _extract(spark, "<p>a</p><p>b</p>", normalize=False)
        assert "a" in got and "b" in got and "\n" in got

    @pytest.mark.parametrize(
        "text",
        [
            "plain words only",
            "angle <brackets> & ampersands >>",
            "pre-escaped &amp; and &lt;p&gt; stay literal",
            "tabs\tand\nnewlines   collapse",
            "&copy; incomplete &zz; entities &",
        ],
    )
    def test_synth_roundtrip_lossless(self, spark, text):
        """The oracle-bearing property: for ANY text, extraction of
        synth_html(id, text) is exactly 'Doc {id} {ws-norm text} &copy;
        example end'."""
        import re

        got = _extract(spark, H.synth_html(7, text))
        want = "Doc 7 " + re.sub(r"\s+", " ", text.strip()) + \
            " &copy; example end"
        assert got == want


class TestHtmlHardening:
    """Round-15 extractor hardening: numeric character references and
    unterminated containers (VERDICT r14 #2 / ADVICE r14)."""

    def test_numeric_entities_decode(self, spark):
        got = _extract(
            spark,
            "<p>&#60;t&#62; &#x3C;u&#X3E; &#34;q&#x22; &#039;s&#x27; "
            "a&#160;b&#xa0;c &#8211;&#8212; &#8216;x&#8217; "
            "&#8220;y&#8221; &#8230;</p>",
        )
        assert got == (
            "<t> <u> \"q\" 's' a b c –— ‘x’ “y” …"
        )

    def test_amp_spellings_single_pass(self, spark):
        # every & spelling decodes once; pre-escaped forms stay literal
        got = _extract(
            spark,
            "<p>&#38; &#x26; &amp;#38; &#38;amp; &amp;#60; &#x26;lt;</p>",
        )
        assert got == "& & &#38; &amp; &#60; &lt;"

    def test_unknown_numeric_refs_pass_through(self, spark):
        # outside the bounded set: literal text (the documented seam)
        assert _extract(spark, "<p>&#9731; &#x2603;</p>") == \
            "&#9731; &#x2603;"

    def test_unterminated_script_style_dropped(self, spark):
        page = "<p>keep</p><script>var x = 'leak me"
        assert _extract(spark, page) == "keep"
        page = "<p>keep</p><style>.leak{color:red}"
        assert _extract(spark, page) == "keep"

    def test_unterminated_head_drops_to_body(self, spark):
        page = (
            "<html><head><title>leak title</title>"
            "<body><p>keep</p></body></html>"
        )
        assert _extract(spark, page) == "keep"

    def test_unterminated_comment_dropped(self, spark):
        assert _extract(spark, "<p>keep</p><!-- trailing junk") == "keep"

    def test_mixed_terminated_and_unterminated_scripts(self, spark):
        page = (
            "<p>a</p><script>done()</script><p>b</p><script>open('"
        )
        assert _extract(spark, page) == "a b"

    def test_sentinel_noncharacter_dropped(self, spark):
        # U+FFFF is forbidden in interchanged text; the extractor drops
        # it rather than letting it alias the & sentinel
        assert _extract(spark, "<p>a￿b &amp; c</p>") == "ab & c"


class TestHttpTransport:
    """Round-15 payload fidelity: Transfer-Encoding chunked,
    Content-Encoding gzip/deflate, charset-aware decode (VERDICT r14
    #1)."""

    def _resp_record(self, body, **kw):
        return W.build_record(
            "response",
            [
                ("WARC-Target-URI", "http://crawl.example/doc/1"),
                ("Content-Type", "application/http; msgtype=response"),
            ],
            W._http_response(200, "OK", body, **kw),
        )

    def test_chunked_roundtrip(self):
        body = b"x" * 300 + b"tail"
        p = W.parse_record(self._resp_record(body, chunked=True))
        assert p["payload"] == body
        assert p["http_encoding"] == "chunked"

    def test_gzip_and_deflate_bodies(self):
        body = "<p>compressed page</p>" * 20
        for enc in ("gzip", "deflate"):
            p = W.parse_record(
                self._resp_record(body, content_encoding=enc)
            )
            assert p["payload"] == body.encode()
            assert p["http_encoding"] == enc

    def test_raw_deflate_fallback(self):
        # servers ship RAW deflate under the same label (RFC 9110 note)
        raw = zlib.compressobj(wbits=-15)
        body = raw.compress(b"raw-deflate body") + raw.flush()
        rec = W.build_record(
            "response",
            [("Content-Type", "application/http; msgtype=response")],
            b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n"
            b"Content-Length: %d\r\n\r\n" % len(body) + body,
        )
        p = W.parse_record(rec)
        assert p["payload"] == b"raw-deflate body"

    def test_chunked_over_gzip(self):
        body = "nested transport " * 40
        p = W.parse_record(
            self._resp_record(body, content_encoding="gzip", chunked=True)
        )
        assert p["payload"] == body.encode()
        assert p["http_encoding"] == "chunked+gzip"

    def test_identity_labeled(self):
        p = W.parse_record(self._resp_record("plain"))
        assert p["http_encoding"] == "identity"
        assert p["payload"] == b"plain"

    def test_unknown_encoding_passes_through_labeled(self):
        rec = W.build_record(
            "response",
            [("Content-Type", "application/http; msgtype=response")],
            b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n"
            b"Content-Length: 6\r\n\r\nopaque",
        )
        p = W.parse_record(rec)
        assert p["payload"] == b"opaque"
        assert p["http_encoding"] == "br"

    def test_statusless_line_raises_value_error(self):
        # ADVICE r14: 'HTTP/1.1\r\n' with no token must be ValueError,
        # not IndexError (permissive mode only catches ValueError)
        rec = W.build_record(
            "response",
            [("Content-Type", "application/http; msgtype=response")],
            b"HTTP/1.1\r\n\r\nbody",
        )
        with pytest.raises(ValueError, match="status line"):
            W.parse_record(rec)
        rec = W.build_record(
            "response",
            [("Content-Type", "application/http; msgtype=response")],
            b"HTTP/1.1 TEAPOT nope\r\n\r\nbody",
        )
        with pytest.raises(ValueError, match="status line"):
            W.parse_record(rec)

    def test_malformed_chunk_raises_value_error(self):
        for bad in (
            b"zz\r\ndata\r\n0\r\n\r\n",     # non-hex size
            b"5\r\nab",                      # truncated data
            b"5\r\nabcdeXX0\r\n\r\n",        # missing terminator
            b"5 no crlf",                    # missing size line end
        ):
            rec = W.build_record(
                "response",
                [("Content-Type", "application/http; msgtype=response")],
                b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                + bad,
            )
            with pytest.raises(ValueError):
                W.parse_record(rec)

    def test_negative_plain_content_length_rejected(self):
        raw = (
            b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"Content-Length: -7\r\n\r\nbody\r\n\r\n"
        )
        with pytest.raises(ValueError, match="negative Content-Length"):
            list(W.split_plain_records(raw))

    def test_payload_text_charset_routing(self, spark):
        rows = [
            (b"caf\xe9", "text/html; charset=iso-8859-1"),
            (b"caf\xc3\xa9", "text/html; charset=utf-8"),
            (b"caf\xc3\xa9", "text/html"),
            (b"plain", None),
        ]
        df = spark.createDataFrame(
            rows, "payload binary, http_mime string"
        )
        got = [
            r[0]
            for r in df.select(W.payload_text()).collect()
        ]
        assert got == ["café", "café", "café", "plain"]

    def test_meta_charset_sniffing(self, spark):
        # header-less pages declare the charset only in <meta> — common
        # in real dumps; the meta tag is ASCII so sniffing survives a
        # latin-1 body; a header charset OVERRIDES any meta declaration
        rows = [
            (b'<meta charset="iso-8859-1"><p>caf\xe9</p>', "text/html"),
            (
                b'<META HTTP-EQUIV="Content-Type" CONTENT="text/html; '
                b'charset=ISO-8859-1"><p>caf\xe9</p>',
                "text/html",
            ),
            (
                b'<meta charset="iso-8859-1"><p>caf\xc3\xa9</p>',
                "text/html; charset=utf-8",  # header wins
            ),
            (b"<p>caf\xc3\xa9</p>", "text/html"),  # neither: utf-8
        ]
        df = spark.createDataFrame(
            rows, "payload binary, http_mime string"
        )
        out = df.select(
            W.payload_charset().alias("cs"),
            W.payload_text().alias("txt"),
        ).collect()
        assert [r["cs"] for r in out] == [
            "iso-8859-1", "iso-8859-1", "utf-8", "",
        ]
        assert all("café" in r["txt"] for r in out)


class TestWarcFormat:
    def test_member_split_and_boundaries(self):
        parts = [b"first record", b"second", b"x" * 70000]
        blob = b"".join(W.gzip_member(p) for p in parts)
        assert list(W.split_gzip_members(blob)) == parts

    def test_truncated_member_raises(self):
        blob = W.gzip_member(b"data" * 100)[:-5]
        with pytest.raises(ValueError, match="truncated gzip member"):
            list(W.split_gzip_members(blob))

    def test_record_roundtrip_and_http_peel(self):
        body = W._http_response(200, "OK", "<p>hi</p>")
        rec = W.build_record(
            "response",
            [
                ("WARC-Record-ID", "<urn:uuid:1>"),
                ("WARC-Target-URI", "http://crawl.example/doc/9"),
                ("Content-Type", "application/http; msgtype=response"),
            ],
            body,
        )
        p = W.parse_record(rec)
        assert p["warc_type"] == "response"
        assert p["target_uri"] == "http://crawl.example/doc/9"
        assert p["http_status"] == 200
        assert p["payload"] == b"<p>hi</p>"

    def test_non_http_record_payload_verbatim(self):
        rec = W.build_record(
            "warcinfo",
            [("Content-Type", "application/warc-fields")],
            b"software: x\r\n",
        )
        p = W.parse_record(rec)
        assert p["http_status"] is None
        assert p["payload"] == b"software: x\r\n"

    def test_not_warc_rejected(self):
        with pytest.raises(ValueError, match="not a WARC record"):
            W.parse_record(b"HTTP/1.1 200 OK\r\n\r\n")

    def test_missing_content_length_rejected(self):
        raw = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n"
        with pytest.raises(ValueError, match="Content-Length"):
            W.parse_record(raw)

    def test_truncated_block_rejected(self):
        raw = (
            b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"Content-Type: text/plain\r\nContent-Length: 99\r\n\r\nshort"
        )
        with pytest.raises(ValueError, match="truncated"):
            W.parse_record(raw)


class TestDistributedSplit:
    def test_synth_split_inventory_and_extraction(self, spark):
        docs = spark.createDataFrame(
            [(i, f"word{i} " * 30) for i in range(40)],
            "doc_id long, text string",
        )
        files = W.synth_warc_files(docs, docs_per_file=10)
        assert files.count() == 4
        recs = W.warc_records(files)
        inv = {
            r["warc_type"]: r["n"]
            for r in recs.groupBy("warc_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert inv == {"warcinfo": 4, "request": 40, "response": 40}
        # 404 planting: doc 0 and 17 and 34 fail
        bad = recs.filter(F.col("http_status") == 404).count()
        assert bad == 3
        # end-to-end text recovery for one doc
        row = (
            recs.filter(
                (F.col("http_status") == 200)
                & F.col("target_uri").endswith("/doc/5")
            )
            .select(H.html_to_text(F.col("payload").cast("string")))
            .collect()[0][0]
        )
        assert row == "Doc 5 " + ("word5 " * 30).strip() + \
            " &copy; example end"

    def test_records_stream_memory_bounded(self):
        """The splitter never materializes the archive: decompression
        advances member-by-member via unused_data (structural check —
        split is a generator)."""
        import types

        blob = b"".join(W.gzip_member(b"r%d" % i) for i in range(5))
        g = W.split_gzip_members(blob)
        assert isinstance(g, types.GeneratorType)
        assert next(g) == b"r0"


class TestPlainWarc:
    def test_plain_and_gzip_split_agree(self):
        recs = [
            W.build_record(
                "resource",
                [("Content-Type", "text/plain")],
                b"payload %d" % i,
            )
            for i in range(4)
        ]
        plain = b"".join(recs)
        gz = b"".join(W.gzip_member(r) for r in recs)
        assert list(W.split_records(plain)) == list(W.split_records(gz))

    def test_plain_truncated_rejected(self):
        rec = W.build_record(
            "resource", [("Content-Type", "text/plain")], b"abc"
        )
        with pytest.raises(ValueError, match="truncated WARC record"):
            list(W.split_plain_records(rec[:-6]))

    def test_garbage_rejected(self):
        with pytest.raises(ValueError, match="neither gzip nor plain"):
            list(W.split_records(b"\x00\x01junk"))

    def test_http_mime_peeled(self):
        body = W._http_response(200, "OK", b"\x89PNG fake", "image/png")
        rec = W.build_record(
            "response",
            [
                ("WARC-Target-URI", "http://crawl.example/doc/2"),
                ("Content-Type", "application/http; msgtype=response"),
            ],
            body,
        )
        p = W.parse_record(rec)
        assert p["http_mime"] == "image/png"
        assert p["payload"] == b"\x89PNG fake"


class TestPermissiveMode:
    def test_bad_archive_salvages_prefix_and_accounts(self, spark):
        good = [
            W.gzip_member(
                W.build_record(
                    "resource", [("Content-Type", "text/plain")],
                    b"r%d" % i,
                )
            )
            for i in range(3)
        ]
        clipped = b"".join(good) + W.gzip_member(b"x" * 200)[:-4]
        files = spark.createDataFrame(
            [(0, b"".join(good)), (1, clipped)],
            "file_id long, warc binary",
        )
        # fail mode: the clipped member kills the job
        with pytest.raises(Exception, match="truncated gzip member"):
            W.warc_records(files).collect()
        rows = W.warc_records(files, mode="permissive").collect()
        by_file = {}
        for r in rows:
            by_file.setdefault(r.file_id, []).append(r)
        assert len(by_file[0]) == 3
        assert all(r.warc_type == "resource" for r in by_file[0])
        # file 1: the 3 records before the corruption point survive,
        # then ONE accounting row names the error
        assert [r.warc_type for r in by_file[1]] == [
            "resource", "resource", "resource", "corrupt",
        ]
        bad = by_file[1][-1]
        assert bad.rec_index == 3 and "truncated" in bad.mime

    def test_mode_validated(self, spark):
        files = spark.createDataFrame([(0, b"")], "file_id long, warc binary")
        with pytest.raises(ValueError, match="permissive"):
            W.warc_records(files, mode="lenient")


class TestWetExport:
    def test_wet_roundtrip_arbitrary_text(self, spark):
        # CRLFCRLF inside a text body must survive (Content-Length
        # framing, not delimiter scanning)
        rows = [
            (0, "plain words"),
            (1, "embedded\r\n\r\nboundary bytes"),
            (26, "second archive doc"),
        ]
        ex = spark.createDataFrame(rows, "doc_id long, text_out string")
        wet = W.wet_archives(ex, docs_per_file=25)
        assert wet.count() == 2  # docs 0,1 -> file 0; doc 26 -> file 1
        recs = W.warc_records(wet)
        conv = {
            r.target_uri: bytes(r.payload).decode()
            for r in recs.filter(
                recs.warc_type == "conversion"
            ).collect()
        }
        assert conv == {
            f"http://crawl.example/doc/{d}": t for d, t in rows
        }
        # one warcinfo per archive; n_members accounted
        inv = {r.file_id: r.n_members for r in wet.collect()}
        assert inv == {0: 3, 1: 2}

    def test_wet_records_are_per_record_gzip(self, spark):
        ex = spark.createDataFrame(
            [(i, f"t{i}") for i in range(3)], "doc_id long, text_out string"
        )
        blob = bytes(W.wet_archives(ex).collect()[0].warc)
        members = list(W.split_gzip_members(blob))
        assert len(members) == 4  # warcinfo + 3 conversions
        assert all(m.startswith(b"WARC/1.0") for m in members)


class TestCdxIndex:
    def test_indexed_split_parity_and_coordinates(self):
        parts = [b"alpha", b"b" * 70000, b"", b"tail rec"]
        blob = b"".join(W.gzip_member(p) for p in parts)
        got = list(W.split_gzip_members_indexed(blob))
        assert [m for m, _, _ in got] == parts
        # coordinates tile the blob exactly: chained, gapless, complete
        pos = 0
        for _, off, clen in got:
            assert off == pos and clen > 0
            pos += clen
        assert pos == len(blob)

    def test_ranged_read_recovers_one_record(self):
        """The CDX contract: blob[offset:offset+len] is a SELF-CONTAINED
        gzip member — a consumer fetches one record without touching the
        rest of the archive."""
        recs = [
            W.build_record(
                "resource", [("Content-Type", "text/plain")], b"r%d" % i
            )
            for i in range(5)
        ]
        blob = b"".join(W.gzip_member(r) for r in recs)
        idx = list(W.split_gzip_members_indexed(blob))
        for i, (_, off, clen) in enumerate(idx):
            member = next(W.split_gzip_members(blob[off:off + clen]))
            assert W.parse_record(member)["payload"] == b"r%d" % i

    def test_indexed_truncation_raises(self):
        blob = W.gzip_member(b"x" * 500)[:-3]
        with pytest.raises(ValueError, match="truncated gzip member"):
            list(W.split_gzip_members_indexed(blob))

    def test_cdx_records_dataframe(self, spark):
        docs = spark.createDataFrame(
            [(i, f"w{i} " * 20) for i in range(10)],
            "doc_id long, text string",
        )
        files = W.synth_warc_files(docs, docs_per_file=5)
        cdx = W.cdx_records(files).collect()
        by_file = {}
        for r in cdx:
            by_file.setdefault(r.file_id, []).append(r)
        blobs = {r.file_id: bytes(r.warc) for r in files.collect()}
        for fid, rows in by_file.items():
            rows.sort(key=lambda r: r.rec_index)
            assert rows[0].warc_type == "warcinfo"
            assert sum(r.comp_len for r in rows) == len(blobs[fid])
            # ranged read of the LAST response matches its digest
            import hashlib
            last = [r for r in rows if r.warc_type == "response"][-1]
            member = next(W.split_gzip_members(
                blobs[fid][last.offset:last.offset + last.comp_len]
            ))
            p = W.parse_record(member)
            assert hashlib.md5(p["payload"]).hexdigest() == last.digest

    def test_cdx_requires_gzip_container(self, spark):
        rec = W.build_record(
            "resource", [("Content-Type", "text/plain")], b"x"
        )
        files = spark.createDataFrame(
            [(0, rec)], "file_id long, warc binary"
        )
        with pytest.raises(Exception, match="per-record-gzip"):
            W.cdx_records(files).collect()


class TestReviewFixes:
    """Round-15 self-review fixes (code-review findings)."""

    def test_commented_out_script_opener_does_not_wipe_page(self, spark):
        # comment removal must run before the unterminated-script
        # fallback, else the commented opener eats the rest of the page
        page = '<p>keep</p><!-- <script src="a.js"> --><p>more text</p>'
        assert _extract(spark, page) == "keep more text"
        page = "<p>keep</p><!-- <style> --><p>tail</p>"
        assert _extract(spark, page) == "keep tail"
        # comment-hiding INSIDE a terminated script still vanishes
        page = "<p>a</p><script><!-- hide() --></script><p>b</p>"
        assert _extract(spark, page) == "a b"

    def test_meta_sniff_bounded_to_head(self, spark):
        # a charset-looking string deep in the body must not re-route
        # the decoder (browser prescan bound: first 1 KiB)
        body = (b"<p>" + b"x " * 900
                + b'</p><meta charset="iso-8859-1"><p>caf\xc3\xa9</p>')
        df = spark.createDataFrame(
            [(body, "text/html")], "payload binary, http_mime string"
        )
        out = df.select(
            W.payload_charset().alias("cs"),
            W.payload_text().alias("txt"),
        ).collect()[0]
        assert out["cs"] == ""  # late meta ignored -> UTF-8 default
        assert "café" in out["txt"]

    def test_refetch_flag_combinations_rejected(self, spark):
        docs = spark.createDataFrame(
            [(4, "t")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="incompatible"):
            W.synth_warc_files(
                docs, rich_uris=True, refetch=True, http_variants=True
            )
        with pytest.raises(ValueError, match="incompatible"):
            W.synth_warc_files(
                docs, rich_uris=True, refetch=True, image_every=5
            )

    def test_cdx_permissive_salvages_prefix(self, spark):
        good = [
            W.gzip_member(
                W.build_record(
                    "resource", [("Content-Type", "text/plain")],
                    b"r%d" % i,
                )
            )
            for i in range(3)
        ]
        clipped = b"".join(good) + W.gzip_member(b"x" * 200)[:-4]
        files = spark.createDataFrame(
            [(0, b"".join(good)), (1, clipped)],
            "file_id long, warc binary",
        )
        with pytest.raises(Exception, match="truncated gzip member"):
            W.cdx_records(files).collect()
        rows = W.cdx_records(files, mode="permissive").collect()
        by_file = {}
        for r in rows:
            by_file.setdefault(r.file_id, []).append(r)
        assert [r.warc_type for r in sorted(
            by_file[1], key=lambda r: r.rec_index)] == [
            "resource", "resource", "resource", "corrupt",
        ]
        bad = sorted(by_file[1], key=lambda r: r.rec_index)[-1]
        # the corrupt row accounts the unindexable tail
        assert bad.offset == sum(len(g) for g in good)
        assert bad.offset + bad.comp_len == len(clipped)
        assert "truncated" in bad.target_uri
        assert len(by_file[0]) == 3


class TestEncodingRouting:
    """Round-16 transport routing (VERDICT r15 #1): unknown
    Content-Encoding records are labeled by the parser and ROUTED OUT
    of every extraction front by warc.is_decoded — never fed to
    extraction as compressed bytes, never silently dropped."""

    def test_is_decoded_label_classification(self, spark):
        labels = [
            ("identity", True), ("chunked", True), ("gzip", True),
            ("deflate", True), ("chunked+gzip", True),
            ("chunked+deflate", True), ("br", False),
            ("chunked+br", False), ("zstd", False), ("x-custom", False),
            ("gzip+br", False), (None, False), ("", False),
        ]
        df = spark.createDataFrame(
            [(lab,) for lab, _ in labels], "http_encoding string"
        )
        got = [
            r[0] for r in df.select(W.is_decoded("http_encoding")).collect()
        ]
        assert got == [want for _, want in labels]

    def test_synth_br_leg_labeled_and_still_compressed(self, spark):
        # doc 6 (6 % 9 == 6) rides the br leg; doc 1 stays on the
        # id%5==1 chunked leg — both split cleanly, only the decoded
        # one may reach extraction
        docs = spark.createDataFrame(
            [(1, "alpha beta"), (6, "gamma delta")],
            "doc_id long, text string",
        )
        files = W.synth_warc_files(
            docs, docs_per_file=25, http_variants=True,
            unknown_encoding_every=9,
        )
        recs = {
            r["target_uri"].rsplit("/", 1)[-1]: r
            for r in W.warc_records(files)
            .filter(F.col("warc_type") == "response")
            .collect()
        }
        br = recs["6"]
        assert br["http_encoding"] == "br"
        # the payload is genuinely compressed: raw-deflate inflates to
        # the page, but the bytes themselves are NOT html
        assert b"<html" not in br["payload"]
        inflated = zlib.decompressobj(-15).decompress(bytes(br["payload"]))
        assert b"<b>gamma</b> delta" in inflated
        assert recs["1"]["http_encoding"] == "chunked"

    def test_synth_br_requires_http_variants(self, spark):
        docs = spark.createDataFrame([(6, "t")], "doc_id long, text string")
        with pytest.raises(ValueError, match="http_variants"):
            W.synth_warc_files(docs, unknown_encoding_every=9)


class TestAttributeAwareTags:
    """Round-16: the rule-3/4 tag regexes are quoted-attribute-aware —
    a literal '>' inside a quoted attribute value no longer splits the
    tag (the r15 verdict's extractor seam, closed)."""

    def test_gt_in_double_quoted_attribute(self, spark):
        assert _extract(spark, '<a title="a>b">word</a>') == "word"
        assert _extract(spark, '<span data-x="1>2>3">k</span>') == "k"

    def test_gt_in_single_quoted_attribute(self, spark):
        assert _extract(spark, "<a title='a>b'>word</a>") == "word"

    def test_gt_in_block_tag_attribute_is_boundary(self, spark):
        # the block rule consumes the whole tag AND still emits the
        # word-boundary newline
        got = _extract(
            spark, '<p title="x>y">one</p><p>two</p>', normalize=False
        )
        assert "one" in got and "two" in got
        assert 'y">' not in got
        assert _extract(spark, '<div data-a="q>r">one</div>two') \
            == "one two"

    def test_lt_inside_quoted_attribute(self, spark):
        assert _extract(spark, '<a title="<not a tag>">ok</a>') == "ok"

    def test_malformed_unpaired_quote_falls_back(self, spark):
        # sloppy markup: unquoted attribute with an apostrophe — the
        # fallback pass still strips to the first '>'
        assert _extract(spark, "<a title=it's>word</a>") == "word"

    def test_mixed_quotes(self, spark):
        page = '<a data-a="x>1" data-b=\'y>2\' rel=z>w</a>'
        assert _extract(spark, page) == "w"


class TestRevisitRecords:
    """Round-16: WARC-Type: revisit synthesis + parse (the real CC
    dedup format — byte-identical re-fetches reference the original
    response instead of re-storing the body)."""

    def test_revisit_shape_and_reference(self, spark):
        import hashlib

        # doc 14: 14%10==4 (re-fetched), 14%20==14 (byte-identical →
        # revisit); doc 4: 4%20==4 (updated → stays a full response)
        docs = spark.createDataFrame(
            [(4, "alpha beta"), (14, "gamma delta")],
            "doc_id long, text string",
        )
        files = W.synth_warc_files(
            docs, docs_per_file=25, rich_uris=True, refetch=True,
            revisits=True,
        )
        recs = W.warc_records(files).collect()
        by_type = {}
        for r in recs:
            by_type.setdefault(r.warc_type, []).append(r)
        assert len(by_type["revisit"]) == 1
        rv = by_type["revisit"][0]
        assert rv.payload == bytearray(b"")        # body NOT re-stored
        assert rv.refers_to == f"<urn:uuid:resp-{14:016d}>"
        origs = {r.record_id: r for r in by_type["response"]}
        orig = origs[rv.refers_to]
        assert rv.payload_digest == \
            "md5:" + hashlib.md5(bytes(orig.payload)).hexdigest()
        # the updated (v2) re-fetch stays a full response pair
        v2 = [
            r for r in by_type["response"]
            if r.record_id.endswith("-r2>")
        ]
        assert len(v2) == 1 and b" v2" in bytes(v2[0].payload)
        # extraction fronts filter warc_type='response', so the revisit
        # (http_status 200) never reaches extraction
        assert rv.http_status == 200

    def test_revisits_requires_refetch(self, spark):
        docs = spark.createDataFrame([(14, "t")], "doc_id long, text string")
        with pytest.raises(ValueError, match="refetch"):
            W.synth_warc_files(docs, rich_uris=True, revisits=True)


class TestSurtLookup:
    """Round-16: SURT index keys + ranged-read record recovery."""

    def test_surt_key_values(self, spark):
        rows = [
            ("http://www.host3.example/sec5/doc/42?x=1",
             "example,host3,www)/sec5/doc/42?x=1"),
            # canonicalization feeds the key: case, :80, doubled +
            # trailing slashes, fragment all collapse
            ("HTTP://HOST3.EXAMPLE:80//sec5//doc/42/#frag",
             "example,host3)/sec5/doc/42"),
            ("https://a.b.c:8443/p", "c,b,a:8443)/p"),
            ("http://h.example/", "example,h)/"),
            ("not a url", None),
        ]
        from shopify_etl_spark.functions.urls import surt_key

        df = spark.createDataFrame([(u,) for u, _ in rows], "u string")
        got = [r[0] for r in df.select(surt_key("u")).collect()]
        assert got == [want for _, want in rows]

    def test_cdx_records_carry_surt(self, spark):
        docs = spark.createDataFrame(
            [(1, "w " * 10)], "doc_id long, text string"
        )
        files = W.synth_warc_files(docs, docs_per_file=5, rich_uris=True)
        rows = {r.warc_type: r for r in W.cdx_records(files).collect()}
        assert rows["response"].surt == "example,host1)/sec1/doc/1"
        assert rows["warcinfo"].surt is None  # no target URI

    def test_fetch_record_ranges_recovers_and_flags(self, spark):
        recs = [
            W.build_record(
                "resource", [("Content-Type", "text/plain")], b"r%d" % i
            )
            for i in range(4)
        ]
        blob = b"".join(W.gzip_member(r) for r in recs)
        idx = list(W.split_gzip_members_indexed(blob))
        rows = [
            (f"k{i}", blob, off, clen)
            for i, (_, off, clen) in enumerate(idx)
        ]
        # a stale coordinate (straddles two members) must be a counted
        # corrupt row, not a silent partial record
        rows.append(("bad", blob, idx[0][2] - 3, idx[1][2] + 6))
        df = spark.createDataFrame(
            rows, "surt string, warc binary, offset long, comp_len long"
        )
        got = {r.surt: r for r in W.fetch_record_ranges(df).collect()}
        for i in range(4):
            r = got[f"k{i}"]
            assert r.self_contained and r.payload == b"r%d" % i
        assert got["bad"].warc_type == "corrupt"
        assert got["bad"].self_contained is False


class TestAttributeQuoteDiscipline:
    """r16 self-review regressions: a quote opens an attribute value
    ONLY after '=' (the HTML5 rule) — stray quotes in unquoted values
    or body text never swallow downstream text."""

    def test_unquoted_apostrophe_does_not_swallow_text(self, spark):
        page = "<a title=it's>word</a> isn't it great> yes"
        assert _extract(spark, page) == "word isn't it great> yes"

    def test_unpaired_eq_quote_falls_back_bounded(self, spark):
        # an '='-opened quote with no closing quote cannot complete the
        # quoted atom; the plain-char path ends the tag at the first
        # '>' and the text survives
        page = '<a title="oops>word rest'
        assert _extract(spark, page) == "word rest"

    def test_quote_not_after_eq_is_plain(self, spark):
        page = '<p class="x>one "two" three" four>tail'
        # HTML5 semantics: class="x>one " is the quoted value, the tag
        # then runs to the first unquoted '>' (after ' four')
        assert _extract(spark, page) == "tail"


class TestRevisitWithLinks:
    def test_revisit_digest_matches_original_with_links(self, spark):
        """r16 self-review: the dup/revisit body formula must mirror
        the original INCLUDING the outlink nav, else refetch+links
        breaks the byte-identical invariant and every revisit digest
        misses."""
        import hashlib

        docs = spark.createDataFrame(
            [(14, "gamma delta"), (24, "x y")],
            "doc_id long, text string",
        )
        files = W.synth_warc_files(
            docs, docs_per_file=25, rich_uris=True, refetch=True,
            revisits=True, links=True,
        )
        recs = W.warc_records(files).collect()
        rv = [r for r in recs if r.warc_type == "revisit"]
        assert len(rv) == 1  # doc 14 (24 % 20 == 4 → updated response)
        origs = {r.record_id: bytes(r.payload) for r in recs
                 if r.warc_type == "response"}
        want = "md5:" + hashlib.md5(origs[rv[0].refers_to]).hexdigest()
        assert rv[0].payload_digest == want
        # the v2 re-fetch (doc 24) must carry the SAME outlinks as the
        # original so only the ' v2' text differs
        v2 = next(r for r in recs if r.record_id.endswith("-r2>")
                  and r.warc_type == "response")
        assert b'href="http://host' in bytes(v2.payload)


class TestWatExport:
    """r16: the WAT metadata derivative (WARC -> WAT/WET/CDX trio)."""

    def test_wat_records_shape_and_json(self, spark):
        import json as _json

        from pyspark.sql import functions as F2

        docs = spark.createDataFrame(
            [(1, "w " * 10), (2, "x " * 10)], "doc_id long, text string"
        )
        files = W.synth_warc_files(docs, docs_per_file=5, links=True)
        ok = W.warc_records(files).filter(
            (F2.col("warc_type") == "response")
            & (F2.col("http_status") == 200)
        )
        from shopify_etl_spark.operators.html import html_title

        meta = ok.select(
            "file_id", "rec_index", "record_id",
            F2.to_json(
                F2.struct(
                    F2.col("target_uri").alias("url"),
                    html_title(W.payload_text()).alias("title"),
                )
            ).alias("wat_json"),
        )
        out = {
            r.record_id: r
            for r in W.warc_records(W.wat_archives(meta)).collect()
        }
        metas = [r for r in out.values() if r.warc_type == "metadata"]
        assert len(metas) == 2
        for m in metas:
            body = _json.loads(bytes(m.payload).decode())
            d = int(body["url"].rsplit("/", 1)[-1])
            assert body["title"] == f"t{d}"
            assert m.refers_to == f"<urn:uuid:resp-{d:016d}>"
        # per-record gzip: the written WAT archive is splittable
        blob = bytes(
            W.wat_archives(meta).collect()[0]["warc"]
        )
        assert blob[:2] == b"\x1f\x8b"
        assert len(list(W.split_gzip_members(blob))) == 3  # info + 2

    def test_html_title(self, spark):
        rows = [
            ("<html><head><title>Hello World</title></head>", "Hello World"),
            ("<TITLE lang=en>x</TITLE>", "x"),
            ("no title here", ""),
        ]
        from shopify_etl_spark.operators.html import html_title

        df = spark.createDataFrame([(h,) for h, _ in rows], "h string")
        got = [r[0] for r in df.select(html_title("h")).collect()]
        assert got == [w for _, w in rows]


class TestHtmlTitleHardening:
    """r16 review: html_title shares the extraction container
    discipline — scripts/comments cannot fake a title, attribute
    spans are quote-aware."""

    def test_commented_title_invisible(self, spark):
        from shopify_etl_spark.operators.html import html_title

        df = spark.createDataFrame(
            [
                ("<!-- <title>Old</title> --><title>New</title>",),
                ('<script>var t="<title>x</title>";</script>'
                 "<title>Real</title>",),
                ('<title data-x="a>b">Real</title>',),
                ("<title>only", ),  # unterminated: no visible title
            ],
            "h string",
        )
        got = [r[0] for r in df.select(html_title("h")).collect()]
        assert got == ["New", "Real", "Real", ""]


class TestSitemapSynth:
    """r16: per-archive sharded sitemaps ride the crawl."""

    def test_sitemap_shards_list_expected_urls(self, spark):
        # archive 0 holds docs 0..5: host h lists its docs with
        # d % 3 != 1 (so doc 4 host 4 is unlisted); doc 0 (404) IS
        # listed under host 0 — the dead-entry fixture
        docs = spark.createDataFrame(
            [(d, "w " * 5) for d in range(6)], "doc_id long, text string"
        )
        files = W.synth_warc_files(
            docs, docs_per_file=25, rich_uris=True, sitemaps=True
        )
        recs = W.warc_records(files).collect()
        sm = {
            r.target_uri: bytes(r.payload).decode()
            for r in recs
            if "/sitemap-" in (r.target_uri or "")
        }
        # hosts 0,2,3,5 have listable docs (1%3==1 and 4%3==1 unlisted)
        assert set(sm) == {
            f"http://host{h}.example/sitemap-0.xml" for h in (0, 2, 3, 5)
        }
        assert "<loc>http://host0.example/sec0/doc/0</loc>" in sm[
            "http://host0.example/sitemap-0.xml"
        ]
        all_locs = "".join(sm.values())
        assert "/doc/1<" not in all_locs and "/doc/4<" not in all_locs

    def test_sitemaps_requires_rich_uris(self, spark):
        docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
        with pytest.raises(ValueError, match="rich_uris"):
            W.synth_warc_files(docs, sitemaps=True)


class TestR17AdviceFixes:
    """Round-17 ADVICE closures: outlinks must cover all three HTML
    attribute-value forms, and revisit resolution must not fan out on
    duplicate payload digests."""

    def test_outlinks_cover_all_attribute_forms(self, spark):
        page = (
            '<a href="http://a.example/x?p=1&amp;q=2"></a>'
            "<a href='http://b.example/y'></a>"
            "<a href=http://c.example/z class=k>t</a>"
            '<a href="/relative"></a>'
            "<a href=ftp://d.example/skip></a>"
        )
        out = (
            spark.range(1)
            .select(H.html_outlinks(F.lit(page)).alias("o"))
            .collect()[0][0]
        )
        assert sorted(out) == [
            "http://a.example/x?p=1&q=2",   # entity-decoded &amp;
            "http://b.example/y",           # single-quoted
            "http://c.example/z",           # unquoted, stops at space
        ]

    def test_shared_link_definition_still_matches_synth(self, spark):
        # the synth nav renders double-quoted absolute hrefs — the
        # broadened pattern must extract exactly the same two links
        page = H.synth_html(
            3, "w1 w2", links=("http://host4.example/", "http://host1.example/")
        )
        out = (
            spark.range(1)
            .select(H.html_outlinks(F.lit(page)).alias("o"))
            .collect()[0][0]
        )
        assert sorted(out) == [
            "http://host1.example/", "http://host4.example/"
        ]

    def test_revisit_duplicate_digest_no_fanout(self, spark):
        # two DISTINCT URLs serve byte-identical bodies (the real-dump
        # boilerplate case) and the revisited URL has TWO snapshots —
        # resolution must yield exactly ONE row, paired with the
        # revisited URL's LATEST original, never the other URL's
        import hashlib

        body = b"<html><body><p>same boilerplate</p></body></html>"

        def resp(rid, uri):
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Length: %d\r\n\r\n" % len(body)
            ) + body
            return W.gzip_member(
                W.build_record(
                    "response",
                    [
                        ("WARC-Record-ID", rid),
                        ("WARC-Target-URI", uri),
                        (
                            "Content-Type",
                            "application/http; msgtype=response",
                        ),
                    ],
                    http,
                )
            )

        rev_http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        )
        rev = W.gzip_member(
            W.build_record(
                "revisit",
                [
                    ("WARC-Record-ID", "<urn:uuid:rev-1>"),
                    # messy spelling of a.example/doc/7
                    ("WARC-Target-URI", "HTTP://A.EXAMPLE:80//doc/7/#f"),
                    ("WARC-Refers-To", "<urn:uuid:a-1>"),
                    (
                        "WARC-Payload-Digest",
                        "md5:" + hashlib.md5(body).hexdigest(),
                    ),
                    (
                        "Content-Type",
                        "application/http; msgtype=response",
                    ),
                ],
                rev_http,
            )
        )
        blob = (
            resp("<urn:uuid:a-0>", "http://a.example/doc/7")
            + resp("<urn:uuid:a-1>", "http://a.example/doc/7")
            + resp("<urn:uuid:b-9>", "http://b.example/doc/8")
            + rev
        )
        files = spark.createDataFrame(
            [(0, bytearray(blob))], "file_id long, warc binary"
        )
        out = W.resolve_revisits(
            W.warc_records(files), value=F.length("payload")
        ).collect()
        assert len(out) == 1  # no fan-out across the 3 digest matches
        r = out[0]
        assert r.doc_id == 7
        assert r.record_id == "<urn:uuid:a-1>"   # latest snapshot wins
        assert r.refers_to == "<urn:uuid:a-1>"
        assert r.revisit_body_bytes == 0
        assert r.orig_value == len(body)


class TestTransportDecoderRegistry:
    """Round-17 (VERDICT r16 #1): a label→decoder map threaded through
    the splitter's closure decodes registered Content-Encoding labels
    instead of discarding them; unregistered labels keep the
    labeled-skip behavior, and is_decoded(extra=...) widens routing to
    the labels the caller's registry absorbed."""

    def _br_files(self, spark):
        words = " ".join(f"w{i}" for i in range(20))
        docs = spark.createDataFrame(
            [(5, words), (6, words)], "doc_id long, text string"
        )
        return W.synth_warc_files(
            docs, docs_per_file=25, http_variants=True,
            unknown_encoding_every=9,
        )

    def test_registered_label_decodes_payload(self, spark):
        files = self._br_files(spark)
        recs = {
            r["target_uri"].rsplit("/", 1)[-1]: r
            for r in W.warc_records(
                files, decoders={"br": W.raw_deflate_decoder}
            )
            .filter(F.col("warc_type") == "response")
            .collect()
        }
        br = recs["6"]
        assert br["http_encoding"] == "br"    # label preserved
        assert b"<html" in bytes(br["payload"])  # but DECODED now
        assert b"w3 w4" in bytes(br["payload"])

    def test_empty_registry_keeps_labeled_skip(self, spark):
        files = self._br_files(spark)
        recs = {
            r["target_uri"].rsplit("/", 1)[-1]: r
            for r in W.warc_records(files, decoders={})
            .filter(F.col("warc_type") == "response")
            .collect()
        }
        assert recs["6"]["http_encoding"] == "br"
        assert b"<html" not in bytes(recs["6"]["payload"])

    def test_is_decoded_extra_widens_routing(self, spark):
        df = spark.createDataFrame(
            [("br",), ("chunked+gzip",), ("zstd",), (None,)],
            "http_encoding string",
        )
        base = df.select(
            W.is_decoded("http_encoding").alias("d")
        ).collect()
        assert [r.d for r in base] == [False, True, False, False]
        extra = df.select(
            W.is_decoded("http_encoding", extra=("br",)).alias("d")
        ).collect()
        assert [r.d for r in extra] == [True, True, False, False]

    def test_decoder_failure_degrades_to_error_label(self):
        # a corrupt registered-codec body must cost ONE record, not the
        # archive's tail: the bytes pass through with an error-marked
        # label that can never match is_decoded (parentheses are
        # illegal in coding tokens), so the record becomes a countable
        # accounting row downstream instead of a parse failure
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: br\r\nContent-Length: 9\r\n\r\nnotbrotli"
        )
        rec = W.build_record(
            "response",
            [("WARC-Record-ID", "<urn:uuid:x>"),
             ("Content-Type", "application/http; msgtype=response")],
            http,
        )
        r = W.parse_record(rec, decoders={"br": W.raw_deflate_decoder})
        assert r["http_encoding"] == "br(error)"
        assert r["payload"] == b"notbrotli"   # untouched bytes

    def test_error_label_never_routes_as_decoded(self, spark):
        df = spark.createDataFrame(
            [("br(error)",)], "http_encoding string"
        )
        got = df.select(
            W.is_decoded("http_encoding", extra=("br",)).alias("d")
        ).collect()
        assert got[0].d is False

    def test_is_decoded_escapes_extra_label_metachars(self, spark):
        # 'x.custom' must not classify 'xacustom' as decoded (an
        # unescaped '.' would) — coding tokens may contain metachars
        df = spark.createDataFrame(
            [("x.custom",), ("xacustom",)], "http_encoding string"
        )
        got = df.select(
            W.is_decoded("http_encoding", extra=("x.custom",)).alias("d")
        ).collect()
        assert [r.d for r in got] == [True, False]

    def test_default_registry_is_import_probe(self):
        d = W.default_transport_decoders()
        assert isinstance(d, dict)
        assert set(d) <= {"br", "zstd"}  # only known optional codecs

    def test_new_record_fields_default_null(self, spark):
        # schema extension (r17): http_location/concurrent_to/warc_date
        # ride every record row; absent headers yield nulls
        docs = spark.createDataFrame(
            [(1, "alpha beta")], "doc_id long, text string"
        )
        files = W.synth_warc_files(docs, docs_per_file=25)
        rows = W.warc_records(files).collect()
        resp = [r for r in rows if r.warc_type == "response"][0]
        assert resp.http_location is None
        assert resp.warc_date == "2026-01-01T00:00:00Z"


class TestRedirects:
    """Round-17 (VERDICT r16 #2): 3xx legs with Location headers —
    synthesis shapes and parser surfacing."""

    def test_synth_redirect_legs_and_location_header(self, spark):
        # doc 5: 5%11==5 (1-hop) and 5%33==5 (2-hop); doc 16: loop;
        # doc 27: dangling
        docs = spark.createDataFrame(
            [(d, "alpha beta") for d in (5, 16, 27)],
            "doc_id long, text string",
        )
        files = W.synth_warc_files(
            docs, docs_per_file=50, rich_uris=True, redirects=True
        )
        recs = {
            r.target_uri: r
            for r in W.warc_records(files)
            .filter(F.col("warc_type") == "response")
            .collect()
        }
        r5 = recs["http://host5.example/r/doc/5"]
        assert r5.http_status == 301
        assert r5.http_location == "http://host5.example/sec5/doc/5"
        rr5 = recs["http://host5.example/rr/doc/5"]
        assert rr5.http_status == 302
        assert rr5.http_location == "http://host5.example/r/doc/5"
        la = recs["http://host2.example/loopA/doc/16"]
        assert la.http_location == "http://host2.example/loopB/doc/16"
        lb = recs["http://host2.example/loopB/doc/16"]
        assert lb.http_location == "http://host2.example/loopA/doc/16"
        dg = recs["http://host6.example/dg/doc/27"]
        assert dg.http_location == "http://host6.example/missing/doc/27"
        # content responses carry no Location
        assert recs["http://host5.example/sec5/doc/5"].http_location is None

    def test_redirects_require_rich_uris(self, spark):
        docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
        with pytest.raises(ValueError, match="rich_uris"):
            W.synth_warc_files(docs, redirects=True)


class TestRequestPairing:
    """Round-17 (VERDICT r16 #5): WARC-Concurrent-To pairing headers
    and the lost-response (orphan request) leg."""

    def test_concurrent_to_and_lost_response(self, spark):
        docs = spark.createDataFrame(
            [(d, "alpha beta") for d in (0, 3, 9)],
            "doc_id long, text string",
        )
        files = W.synth_warc_files(
            docs, docs_per_file=50, rich_uris=True,
            request_pairing=True, lost_responses_every=23,
        )
        rows = W.warc_records(files).collect()
        reqs = {r.target_uri: r for r in rows if r.warc_type == "request"}
        resps = {
            r.target_uri: r for r in rows if r.warc_type == "response"
        }
        # every doc's request rides the archive, stamped with its
        # response's record id
        assert len(reqs) == 3
        r3 = reqs["http://host3.example/sec3/doc/3"]
        assert r3.concurrent_to == f"<urn:uuid:resp-{3:016d}>"
        # doc 9 (9%23==9, non-404): request present, response LOST
        assert "http://host2.example/sec9/doc/9" in reqs
        assert "http://host2.example/sec9/doc/9" not in resps
        # doc 0 is 404 — the failure leg does not apply; response kept
        assert resps["http://host0.example/sec0/doc/0"].http_status == 404
        assert resps["http://host3.example/sec3/doc/3"].record_id == \
            r3.concurrent_to

    def test_lost_responses_requires_pairing(self, spark):
        docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
        with pytest.raises(ValueError, match="request_pairing"):
            W.synth_warc_files(
                docs, rich_uris=True, lost_responses_every=23
            )


class TestCdxjArtifact:
    """Round-17 (VERDICT r16 #3): the CDX derivative as a SURT-sorted
    CDXJ text artifact — write, parse back, sortedness."""

    def test_shards_sorted_and_parse_back_faithful(self, spark):
        docs = spark.createDataFrame(
            [(d, "alpha beta") for d in range(1, 9)],
            "doc_id long, text string",
        )
        files = W.synth_warc_files(docs, docs_per_file=25, rich_uris=True)
        idx = W.cdx_records(files).filter(
            F.col("warc_type") == "response"
        )
        shards = W.cdxj_shards(idx)
        row = shards.collect()[0]
        assert row.n_lines == 8
        lines = row.cdxj.split("\n")
        keys = [ln.split(" ", 1)[0] for ln in lines]
        assert keys == sorted(keys)          # SURT-sorted on disk
        assert '"status":"200"' in lines[0] or '"status":"404"' in lines[0]
        # the CDX timestamp column is the record's OWN WARC-Date digits
        assert lines[0].split(" ")[1] == "20260101000000"
        back = {
            r.surt: r for r in W.parse_cdxj(shards).collect()
        }
        orig = {r.surt: r for r in idx.collect()}
        assert set(back) == set(orig)
        for k, o in orig.items():
            b = back[k]
            assert (b.offset, b.comp_len, b.digest, b.http_status) == (
                o.offset, o.comp_len, o.digest, o.http_status
            )
            assert b.target_uri == o.target_uri

    def test_parsed_coordinates_recover_records(self, spark):
        docs = spark.createDataFrame(
            [(3, "gamma delta")], "doc_id long, text string"
        )
        files = W.synth_warc_files(docs, docs_per_file=25, rich_uris=True)
        parsed = W.parse_cdxj(
            W.cdxj_shards(
                W.cdx_records(files).filter(
                    F.col("warc_type") == "response"
                )
            )
        )
        got = W.fetch_record_ranges(files.join(parsed, "file_id")).collect()
        assert len(got) == 1 and got[0].self_contained
        assert b"<b>gamma</b> delta" in bytes(got[0].payload)


class TestRedirectEdgeCollapse:
    """Round-17 self-review: duplicate captures of the same 3xx URL
    must not fan chains out — the edge map collapses per source with
    the LATEST capture's Location winning."""

    def test_duplicate_capture_latest_location_wins(self, spark):
        from shopify_etl_spark.plans.catalog_ext9 import (
            _follow_chains,
            _redirect_edges,
        )

        def redir(rid, uri, loc):
            http = (
                b"HTTP/1.1 301 Moved\r\nContent-Type: text/html\r\n"
                b"Location: " + loc.encode() + b"\r\n"
                b"Content-Length: 0\r\n\r\n"
            )
            return W.gzip_member(
                W.build_record(
                    "response",
                    [
                        ("WARC-Record-ID", rid),
                        ("WARC-Target-URI", uri),
                        (
                            "Content-Type",
                            "application/http; msgtype=response",
                        ),
                    ],
                    http,
                )
            )

        # same source captured twice, Location CHANGED between captures
        blob = (
            redir("<urn:uuid:r-old>", "http://a.example/r",
                  "http://a.example/old")
            + redir("<urn:uuid:r-new>", "http://a.example/r",
                    "http://a.example/new")
        )
        files = spark.createDataFrame(
            [(0, bytearray(blob))], "file_id long, warc binary"
        )
        edges = _redirect_edges(W.warc_records(files))
        rows = edges.collect()
        assert len(rows) == 1                       # one edge per src
        assert rows[0]._d == "http://a.example/new"  # latest capture
        chains = _follow_chains(edges).collect()
        assert len(chains) == 1                     # no chain fan-out
