"""WARC (ISO 28500) ingestion: record grammar round-trips, the Common
Crawl member-per-record gzip split, HTTP transfer decoding (chunked +
content-length), tolerant parsing of damaged archives, and the Spark
extract / CDX operators."""

from __future__ import annotations

import hashlib
import zlib

import pytest

from ocr_inference_spark.text.html_extract import synth_html_for
from ocr_inference_spark.text.warc import (
    ROBOTS_BODY,
    build_warc_file,
    http_response_bytes,
    iter_warc_records,
    parse_http_response,
    split_gzip_members,
    url_of,
    warc_record,
)

DOCS = [(i, f"document number {i} body text " * 12) for i in range(8, 16)]


# ------------------------------------------------------------- round-trip


@pytest.mark.parametrize("file_id", [0, 1])  # gzip-member vs uncompressed
def test_file_roundtrip_record_inventory(file_id):
    data = build_warc_file(file_id, DOCS)
    recs = list(iter_warc_records(data))
    types = [h["warc-type"] for h, _ in recs]
    # warcinfo, robots response, then (request, response, metadata) per doc
    assert types[:2] == ["warcinfo", "response"]
    assert types[2:] == ["request", "response", "metadata"] * len(DOCS)
    uris = [h.get("warc-target-uri") for h, _ in recs if h["warc-type"] == "response"]
    assert uris[1:] == [url_of(d) for d, _ in DOCS]


def test_gzip_member_per_record_layout():
    data = build_warc_file(0, DOCS[:3])
    members = list(split_gzip_members(data))
    # one member per record is what makes a 100-TB crawl splittable
    assert len(members) == 2 + 3 * 3
    assert all(m.startswith(b"WARC/1.0\r\n") for m in members)


def test_non_gzip_input_passes_through_whole():
    raw = b"WARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    assert list(split_gzip_members(raw)) == [raw]


@pytest.mark.parametrize("doc_id", [9, 12])  # 12 % 3 == 0 -> chunked
def test_response_body_transfer_decodes_to_exact_page_bytes(doc_id):
    text = dict(DOCS)[doc_id]
    data = build_warc_file(1, DOCS)
    for h, payload in iter_warc_records(data):
        if h["warc-type"] == "response" and h.get("warc-target-uri") == url_of(doc_id):
            status, hh, body = parse_http_response(payload)
            assert status == 200
            expect_chunked = doc_id % 3 == 0
            assert ("chunked" in hh.get("transfer-encoding", "")) == expect_chunked
            assert body == synth_html_for(doc_id, text).encode("utf-8")
            return
    pytest.fail("response record not found")


def test_chunked_decode_with_extension_and_trailing_junk():
    body = b"A" * 7 + b"B" * 5
    raw = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"7;ext=x\r\n" + b"A" * 7 + b"\r\n5\r\n" + b"B" * 5 + b"\r\n0\r\n\r\n"
        b"IGNORED TRAILER GARBAGE"
    )
    assert parse_http_response(raw)[2] == body


def test_content_length_trims_record_padding():
    raw = b"HTTP/1.1 200 OK\r\nContent-Length: 4\r\n\r\nBODYEXTRA"
    assert parse_http_response(raw)[2] == b"BODY"


# ---------------------------------------------------------- damaged input


def test_truncated_gzip_tail_keeps_good_prefix():
    data = build_warc_file(0, DOCS[:2])
    cut = data[: len(data) - 40]
    good = list(iter_warc_records(data))
    kept = list(iter_warc_records(cut))
    assert 0 < len(kept) < len(good)
    assert [h["warc-type"] for h, _ in kept] == [
        h["warc-type"] for h, _ in good[: len(kept)]
    ]


def test_bad_content_length_resyncs_to_next_record():
    ok = warc_record("response", http_response_bytes(b"hello", "text/plain"), "http://a/")
    bad = ok.replace(b"Content-Length: ", b"Content-Length: zz", 1)
    recs = list(iter_warc_records(bad + ok))
    assert len(recs) == 1 and recs[0][0]["warc-target-uri"] == "http://a/"


def test_leading_garbage_is_skipped():
    ok = warc_record("metadata", b"k: v\r\n")
    assert len(list(iter_warc_records(b"\x00garbage bytes\xff" + ok))) == 1


@pytest.mark.parametrize(
    "raw",
    [
        b"",
        b"HTTP/1.1\r\n\r\n",  # no status code
        b"HTTP/1.1 2xx OK\r\n\r\n",  # non-numeric status
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n5\r\nAB",  # cut chunk
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\n",  # bad size
    ],
)
def test_malformed_http_returns_none(raw):
    assert parse_http_response(raw) is None


def test_corrupt_gzip_member_midstream_stops_cleanly():
    m1 = zlib.compress(b"x")  # not gzip-wrapped: exercises the guard
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    g1 = co.compress(b"WARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n") + co.flush()
    corrupted = g1 + b"\x1f\x8b" + m1[:10]
    assert len(list(split_gzip_members(corrupted))) == 1


# ----------------------------------------------------- content codings


def test_content_encoding_rotation_roundtrips_every_page():
    from ocr_inference_spark.text.warc import _CE_ROTATION, decode_content

    data = build_warc_file(0, DOCS, content_encoding=True)
    seen = {}
    for h, payload in iter_warc_records(data):
        if h["warc-type"] != "response" or "robots" in h.get("warc-target-uri", ""):
            continue
        status, hh, body = parse_http_response(payload)
        assert status == 200
        body = decode_content(hh, body)
        seen[h["warc-target-uri"]] = (hh.get("content-encoding"), body)
    codings = set()
    for doc_id, text in DOCS:
        ce, body = seen[url_of(doc_id)]
        assert ce == _CE_ROTATION[doc_id % 5]
        assert body == synth_html_for(doc_id, text).encode()
        codings.add(ce)
    assert codings == {None, "gzip", "deflate"}  # rotation actually exercised


def test_chunked_over_gzip_layering():
    # RFC 9110 §8.4: entity gzipped first, THEN chunked framing on top.
    body = b"<html>x</html>" * 40
    raw = http_response_bytes(body, "text/html", chunked=True, content_encoding="gzip")
    from ocr_inference_spark.text.warc import decode_content

    status, hh, dechunked = parse_http_response(raw)
    assert "chunked" in hh["transfer-encoding"]
    assert dechunked[:2] == b"\x1f\x8b"  # still gzip after de-chunking
    assert decode_content(hh, dechunked) == body


def test_decode_content_tolerant_paths():
    from ocr_inference_spark.text.warc import decode_content

    body = b"payload bytes " * 9
    gz = zlib.compress(body, 6)
    wrapped = zlib.compressobj(6, zlib.DEFLATED, 31)
    gzip_bytes = wrapped.compress(body) + wrapped.flush()
    assert decode_content({}, body) == body
    assert decode_content({"content-encoding": "identity"}, body) == body
    assert decode_content({"content-encoding": "gzip"}, gzip_bytes) == body
    # server said gzip but sent zlib — wbits 47 auto-detects
    assert decode_content({"content-encoding": "x-gzip"}, gz) == body
    assert decode_content({"content-encoding": "deflate"}, gz) == body
    # broken-server raw deflate under the deflate label
    raw = zlib.compressobj(6, zlib.DEFLATED, -15)
    assert (
        decode_content({"content-encoding": "deflate"}, raw.compress(body) + raw.flush())
        == body
    )
    # layered codings undone right-to-left (each layer auto-detected)
    assert decode_content({"content-encoding": "gzip, gzip"}, zlib.compress(gz, 6)) == body
    double = zlib.compress(zlib.compress(body))
    assert decode_content({"content-encoding": "deflate , deflate"}, double) == body
    # unknown coding and damaged stream are skip signals, not crashes
    assert decode_content({"content-encoding": "br"}, body) is None
    assert decode_content({"content-encoding": "gzip"}, gzip_bytes[:-4][::-1]) is None


def test_damaged_content_encoded_capture_is_skipped(spark):
    import pandas as pd

    from ocr_inference_spark.text.warc import warc_extract_html

    data = build_warc_file(1, DOCS, content_encoding=True)
    # corrupt the deflate-coded capture's entity mid-stream: doc 13 is
    # a deflate slot (13 % 5 == 3) with content-length framing (13 % 3 != 0)
    victim = None
    for h, payload in iter_warc_records(data):
        if h["warc-type"] == "response" and h.get("warc-target-uri") == url_of(13):
            _, hh, body = parse_http_response(payload)
            if hh.get("content-encoding") == "deflate":
                victim = body
    assert victim is not None and len(victim) > 20
    corrupted = data.replace(victim, victim[:10] + victim[10:][::-1])
    pdf = pd.DataFrame({"warc_name": ["a.warc"], "data": [corrupted]})
    got = warc_extract_html(spark.createDataFrame(pdf)).collect()
    ids = sorted(r.doc_id for r in got)
    assert ids == [8, 9, 10, 11, 12, 14, 15]  # only the damaged capture dropped


# ----------------------------------------------------- duplicate captures


def test_dup_captures_archives_each_page_twice_with_opposite_framing():
    from ocr_inference_spark.text.warc import messy_url_of

    data = build_warc_file(1, DOCS[:3], dup_captures=True)
    html_resps = []
    for h, payload in iter_warc_records(data):
        if h["warc-type"] == "response" and "html" in payload[:200].decode("ascii", "replace"):
            html_resps.append((h["warc-target-uri"], payload))
    assert len(html_resps) == 6  # 3 docs x 2 captures
    by_uri = dict(html_resps)
    for doc_id, text in DOCS[:3]:
        clean = parse_http_response(by_uri[url_of(doc_id)])
        messy = parse_http_response(by_uri[messy_url_of(doc_id)])
        assert clean[2] == messy[2] == synth_html_for(doc_id, text).encode()
        # opposite transfer framing on the re-crawl capture
        c_chunked = "chunked" in clean[1].get("transfer-encoding", "")
        m_chunked = "chunked" in messy[1].get("transfer-encoding", "")
        assert c_chunked != m_chunked


def test_messy_capture_uri_canonicalizes_to_clean():
    from ocr_inference_spark.text.urlnorm import normalize_url
    from ocr_inference_spark.text.warc import messy_url_of

    for doc_id in (0, 9, 12, 63):
        assert normalize_url(messy_url_of(doc_id)) == url_of(doc_id)


# --------------------------------------------------------- spark operators


def test_warc_extract_html_recovers_every_document(spark, tmp_path):
    import pandas as pd

    from ocr_inference_spark.text.warc import warc_extract_html

    pdf = pd.DataFrame(
        {
            "warc_name": ["a.warc", "b.warc"],
            "data": [build_warc_file(0, DOCS[:4]), build_warc_file(1, DOCS[4:])],
        }
    )
    out = warc_extract_html(spark.createDataFrame(pdf)).collect()
    got = {r.doc_id: (r.url, r.html) for r in out}
    assert sorted(got) == [d for d, _ in DOCS]
    for doc_id, text in DOCS:
        assert got[doc_id] == (url_of(doc_id), synth_html_for(doc_id, text))


def test_capture_dedup_collapses_to_one_row_per_page(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_inference_spark.text.urlnorm import normalize_urls
    from ocr_inference_spark.text.warc import warc_extract_captures

    pdf = pd.DataFrame(
        {"warc_name": ["a.warc"], "data": [build_warc_file(0, DOCS[:4], True)]}
    )
    caps = normalize_urls(warc_extract_captures(spark.createDataFrame(pdf)))
    assert caps.count() == 8  # 4 pages x 2 captures
    deduped = caps.groupBy("url_norm").agg(F.max("html").alias("html"))
    rows = {r.url_norm: r.html for r in deduped.collect()}
    assert sorted(rows) == [url_of(d) for d, _ in DOCS[:4]]
    for doc_id, text in DOCS[:4]:
        assert rows[url_of(doc_id)] == synth_html_for(doc_id, text)


def test_warc_cdx_index_digests_match_hashlib(spark):
    import pandas as pd

    from ocr_inference_spark.text.warc import warc_cdx_index

    pdf = pd.DataFrame(
        {"warc_name": ["a.warc"], "data": [build_warc_file(0, DOCS[:3])]}
    )
    rows = warc_cdx_index(spark.createDataFrame(pdf)).collect()
    by_url = {r.url: r for r in rows}
    robots = by_url["http://warc0000.example/robots.txt"]
    assert robots.mime == "text/plain"
    assert robots.length == len(ROBOTS_BODY)
    assert robots.digest == hashlib.md5(ROBOTS_BODY).hexdigest()
    for doc_id, text in DOCS[:3]:
        body = synth_html_for(doc_id, text).encode("utf-8")
        r = by_url[url_of(doc_id)]
        assert (r.mime, r.status, r.length) == ("text/html", 200, len(body))
        assert r.digest == hashlib.md5(body).hexdigest()


# ------------------------------------------------------- charset rotation


def test_charset_corpus_rotates_encodings_and_channels():
    from ocr_inference_spark.text.html_extract import sniff_decode, synth_html_for
    from ocr_inference_spark.text.warc import (
        _CHARSET_ROTATION,
        charset_marker_for,
        decode_content,
    )

    data = build_warc_file(1, DOCS, charsets=True)
    seen = {}
    for h, payload in iter_warc_records(data):
        if h["warc-type"] != "response" or "robots" in h.get("warc-target-uri", ""):
            continue
        status, hh, body = parse_http_response(payload)
        body = decode_content(hh, body)
        seen[h["warc-target-uri"]] = (hh.get("content-type", ""), body)
    slots = set()
    for doc_id, text in DOCS:
        ctype, body = seen[url_of(doc_id)]
        codec, hdr, meta, bom = _CHARSET_ROTATION[doc_id % 6]
        slots.add(doc_id % 6)
        expected = synth_html_for(
            doc_id, text, meta_charset=meta, extra_para=charset_marker_for(doc_id)
        )
        assert sniff_decode(body, ctype) == expected
        if bom:
            assert body[:2] == b"\xff\xfe"
        if hdr:
            assert f"charset={hdr}" in ctype
        else:
            assert "charset" not in ctype
        # the wrong default decode would garble every non-utf8 page
        if codec not in ("utf-8",):
            assert body.decode("utf-8", "replace") != expected
    assert slots == {0, 1, 2, 3, 4, 5}


def test_charset_composes_with_content_encoding(spark):
    import pandas as pd

    from ocr_inference_spark.text.html_extract import synth_html_for
    from ocr_inference_spark.text.warc import charset_marker_for, warc_extract_html

    data = build_warc_file(
        0, DOCS, content_encoding=True, charsets=True
    )  # gzip members + ce rotation + charset rotation stacked
    pdf = pd.DataFrame({"warc_name": ["a.warc"], "data": [data]})
    got = {r.doc_id: r.html for r in warc_extract_html(spark.createDataFrame(pdf)).collect()}
    assert sorted(got) == [d for d, _ in DOCS]
    for doc_id, text in DOCS:
        meta = {2: "iso-8859-1"}.get(doc_id % 6)
        expected = synth_html_for(
            doc_id, text, meta_charset=meta, extra_para=charset_marker_for(doc_id)
        )
        assert got[doc_id] == expected


def test_snapshot_diff_classes(spark):
    """q59 semantics: the CDC classification over two snapshot builds
    matches the construction rule, and the builder is deterministic
    (unchanged pages digest-identical across two independent builds)."""
    from ocr_inference_spark.queries import q59_crawl_snapshot_diff

    rows = q59_crawl_snapshot_diff(spark, "/root/testdata/sf0.001").collect()
    got = {r["url"]: r["change"] for r in rows}
    assert len(got) == 64 + 6  # 64 in A, plus added 64..71 minus %4==2
    for d in range(72):
        url = f"http://site{d % 7}.example/doc/{d:08d}"
        if d >= 64:
            expected = "added" if d % 4 != 2 else None
        elif d % 4 == 2:
            expected = "removed"
        elif d % 4 == 1:
            expected = "changed"
        else:
            expected = "unchanged"
        assert got.get(url) == expected, (d, got.get(url))


class TestWetExport:
    def test_record_grammar(self):
        from ocr_inference_spark.text.warc import iter_warc_records, wet_record

        rec = wet_record("http://h.example/x", "line one\nline two")
        recs = list(iter_warc_records(rec))
        assert len(recs) == 1
        headers, payload = recs[0]
        assert headers["warc-type"] == "conversion"
        assert headers["warc-target-uri"] == "http://h.example/x"
        assert headers["content-type"] == "text/plain"
        assert headers["warc-refers-to"].startswith("<urn:synth:src-")
        assert payload.decode() == "line one\nline two"

    def test_roundtrip_unicode_and_newlines(self, spark):
        from ocr_inference_spark.text.warc import wet_export, wet_extract_text

        texts = [
            (0, "http://h.example/0", "héllo wörld\n\nü…"),
            (1, "http://h.example/1", ""),
            (9, "http://h.example/9", "x" * 10_000),
        ]
        df = spark.createDataFrame(texts, "doc_id long, url string, text string")
        files = wet_export(df).collect()
        # 0,1 share file 0; 9 is file 1 — member-per-record gzip layout
        assert sorted(r["wet_name"] for r in files) == [
            "synth-0000.warc.wet",
            "synth-0001.warc.wet",
        ]
        for r in files:
            assert bytes(r["data"])[:2] == b"\x1f\x8b"
        back = {
            r["url"]: r["text"]
            for r in wet_extract_text(wet_export(df)).collect()
        }
        assert back == {u: t for _, u, t in texts}

    def test_damaged_member_skipped(self, spark):
        import pandas as pd

        from ocr_inference_spark.text.warc import wet_export, wet_extract_text

        df = spark.createDataFrame(
            [(0, "http://h.example/0", "keep me"),
             (1, "http://h.example/1", "also kept")],
            "doc_id long, url string, text string",
        )
        data = bytes(wet_export(df).collect()[0]["data"])
        # corrupt the LAST gzip member's tail: earlier members survive
        broken = data[:-20] + b"\x00" * 20
        pdf = pd.DataFrame({"wet_name": ["x.wet"], "data": [broken]})
        got = wet_extract_text(spark.createDataFrame(pdf)).collect()
        urls = {r["url"] for r in got}
        assert "http://h.example/0" in urls  # first doc survives
        assert len(urls) < 2 or "also kept" in {r["text"] for r in got}


def test_apply_in_pandas_kernels_raise_no_type_hint_warning(spark):
    """A kernel hinted on ``pdf`` but not on ``key`` makes pyspark warn
    that it cannot infer the eval type, on every ``applyInPandas`` call.
    Building both grouped-map frames must stay warning-free."""
    import warnings

    from ocr_inference_spark.text.warc import synth_warc_corpus, wet_export

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    texts = spark.createDataFrame(
        [(d, url_of(d), t) for d, t in DOCS], "doc_id long, url string, text string"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        synth_warc_corpus(spark, docs)
        wet_export(texts)
