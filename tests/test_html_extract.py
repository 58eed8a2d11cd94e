"""HTML main-content extraction (north rule: 'HTML boilerplate strip,
PDF/layout parse, DOM heuristics'): the tag-soup parser, the
jusText-style link-density classifier, the Readability-style tag/class
pruning, entity decoding, tolerant parsing of malformed input, and the
Spark span-emission path."""

from __future__ import annotations

import pytest

from ocr_inference_spark.text.html_extract import (
    _spec_of,
    paragraphs_for,
    parse_html_spans,
    synth_html_for,
)

LONG_TEXT = (
    "key agg row scan slow fast table value part hash value table part "
    "a row fast merge batch part value fast spark a a the lazy dog jumps "
    "over something quite long indeed to span multiple windows of sixty "
    "four characters each for testing purposes only"
)


# ------------------------------------------------------- synthetic corpus


@pytest.mark.parametrize("doc_id", [0, 1, 2, 3, 7, 11, 40])
def test_synth_page_extracts_exactly_the_derived_spans(doc_id):
    spans = parse_html_spans(synth_html_for(doc_id, LONG_TEXT))
    paras = paragraphs_for(doc_id, LONG_TEXT)
    _, has_img = _spec_of(doc_id)
    expected = [("text", paras[0] + " & more", None)]
    if has_img:
        expected.append(("media", None, f"img_{doc_id:08d}_00.png"))
    expected += [("text", p, None) for p in paras[1:]]
    assert spans == expected


def test_fallback_paragraphs_for_short_docs():
    spans = parse_html_spans(synth_html_for(3, "tiny"))  # doc 3: 3 paras, no img
    assert spans == [
        ("text", "tiny & more", None),
        ("text", "paragraph 1", None),
        ("text", "paragraph 2", None),
    ]


def test_no_furniture_leaks():
    html = synth_html_for(5, LONG_TEXT)
    joined = "\n".join(t for k, t, _ in parse_html_spans(html) if k == "text")
    for decoy in (
        "Portal", "home", "archive", "tags",  # header + nav
        "one", "two", "three",  # link-soup menu
        "BUY NOW",  # advert class hint
        "you may also like",  # aside
        "portal archives",  # footer
        "not content", "decoy",  # script/style raw text
        "rendered by",  # comment
        "site",  # <title> inside dropped <head>
    ):
        assert decoy not in joined, decoy


# ------------------------------------------------------- classifier rules


def test_link_density_drops_link_soup_keeps_prose_with_links():
    soup = "<p><a href=a>aaaa</a> <a href=b>bbbb</a> <a href=c>cccc</a> x</p>"
    assert parse_html_spans(soup) == []
    prose = "<p>a long sentence of running prose with just <a href=x>one link</a> inside</p>"
    assert parse_html_spans(prose) == [
        ("text", "a long sentence of running prose with just one link inside", None)
    ]


def test_class_and_id_hints():
    assert parse_html_spans('<div class="sidebar-right">junk</div>') == []
    assert parse_html_spans('<div id="page_footer">junk</div>') == []
    assert parse_html_spans('<div class="share social">junk</div>') == []
    # 'content' must NOT false-positive on the 'comment' hint
    assert parse_html_spans('<div class="content">keep me</div>') == [
        ("text", "keep me", None)
    ]
    # hint inside a kept parent still drops only the hinted subtree
    got = parse_html_spans(
        '<div class="content">before<div class="advert">ad</div>after</div>'
    )
    assert got == [("text", "before", None), ("text", "after", None)]


def test_img_handling():
    # in-content img with src -> media span at its position
    assert parse_html_spans('<p>a</p><img src="x.png"><p>b</p>') == [
        ("text", "a", None),
        ("media", None, "x.png"),
        ("text", "b", None),
    ]
    # img without src emits nothing; img inside dropped subtree emits nothing
    assert parse_html_spans("<img><nav><img src=n.png></nav>") == []


def test_entities_and_whitespace():
    got = parse_html_spans("<p>a &amp; b &#x41;&#66; &nbsp; c\n\t d</p>")
    assert got == [("text", "a & b AB c d", None)]


# ------------------------------------------------------- tolerant parsing


@pytest.mark.parametrize(
    "blob",
    [
        "",
        "<",
        "<p>unclosed",
        "<p>truncated <a href='x",
        "<!-- unterminated comment",
        "<script>var x = '<p>fake</p>'",  # unterminated rawtext
        "3 < 5 and 7 > 2 are just text",
        "<div><p>mismatched</div></p>",
        "<p></p>" * 1000,
    ],
)
def test_never_raises_on_malformed(blob):
    parse_html_spans(blob)  # must not raise


def test_bare_lt_is_text():
    assert parse_html_spans("<p>3 < 5 yes</p>") == [("text", "3 < 5 yes", None)]


def test_script_rawtext_swallows_fake_tags():
    html = '<script>document.write("</div><p>fake</p>");</script><p>real</p>'
    # the HTML5 rawtext rule: script ends at the FIRST '</script'; the
    # decoy '</div><p>' inside does not terminate it or leak as content
    assert parse_html_spans(html) == [("text", "real", None)]


# ------------------------------------------------------- spark path


def test_spark_span_rows_match_pure_function(spark):
    from ocr_inference_spark.io import read_table
    from ocr_inference_spark.text.html_extract import (
        html_extract_spans,
        synth_html_corpus,
    )

    docs = read_table(spark, "/root/testdata/sf0.001/documents.parquet")
    corpus = synth_html_corpus(spark, docs, n_docs=12)
    got = {
        (r["doc_id"], r["offset"]): (r["kind"], r["text"], r["media_ref"])
        for r in html_extract_spans(corpus).collect()
    }
    for row in corpus.collect():
        expected = parse_html_spans(row["html"])
        for off, span in enumerate(expected):
            assert got[(str(row["doc_id"]), off)] == span
        assert (str(row["doc_id"]), len(expected)) not in got


# --------------------------------------------------------- charset sniffing


def test_sniff_decode_order_and_fallbacks():
    from ocr_inference_spark.text.html_extract import sniff_decode

    text = "<html><body><p>café déjà №</p></body></html>"
    latin = "<html><body><p>café déjà</p></body></html>"
    # 1. BOM wins over everything
    assert sniff_decode(b"\xef\xbb\xbf" + text.encode("utf-8"), "text/html; charset=utf-16") == text
    assert sniff_decode(b"\xff\xfe" + text.encode("utf-16-le"), "") == text
    assert sniff_decode(b"\xfe\xff" + text.encode("utf-16-be"), "") == text
    # 2. transport-layer label
    assert sniff_decode(latin.encode("cp1252"), "text/html; charset=windows-1252") == latin
    assert sniff_decode(latin.encode("cp1252"), 'text/html; charset="Windows-1252"') == latin
    # 3. meta prescan, both syntaxes, latin-1 aliased to cp1252
    m1 = f'<meta charset="iso-8859-1">{latin}'
    assert sniff_decode(m1.encode("latin-1"), "text/html") == m1
    m2 = f'<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">{latin}'
    assert sniff_decode(m2.encode("latin-1"), "") == m2
    # 4. undeclared: strict utf-8 if it validates, else cp1252
    assert sniff_decode(text.encode("utf-8"), "text/html") == text
    assert sniff_decode(latin.encode("cp1252"), "text/html") == latin
    # unknown label falls through to the next tier, never raises
    assert sniff_decode(text.encode("utf-8"), "text/html; charset=klingon") == text
    # mislabeled page: label says utf-8 but bytes are cp1252 ->
    # 'replace' keeps the page (lossy), never dies
    got = sniff_decode(latin.encode("cp1252"), "text/html; charset=utf-8")
    assert "caf�" in got


def test_sniff_decode_meta_only_in_prescan_window():
    from ocr_inference_spark.text.html_extract import sniff_decode

    # a meta tag past the 1024-byte prescan window is ignored (HTML5)
    pad = "<!--" + "x" * 1100 + "-->"
    doc = f'{pad}<meta charset="utf-16"><p>plain ascii</p>'
    assert sniff_decode(doc.encode("ascii"), "") == doc


# ---------------------------------------------------------------------------
# head-metadata extraction
# ---------------------------------------------------------------------------


def test_metadata_first_wins_and_case_folding():
    from ocr_inference_spark.text.html_extract import extract_metadata

    doc = (
        "<html><head><TITLE> A &amp;\n B </TITLE>"
        '<META NAME="Description" content="first">'
        '<meta name="description" content="second">'
        "<LINK REL='Canonical' HREF='http://a.example/x'>"
        '<link rel="canonical" href="http://b.example/y">'
        '<meta property="ARTICLE:PUBLISHED_TIME" content="2023-01-02">'
        "</head><body><p>hi</p></body></html>"
    )
    m = extract_metadata(doc)
    assert m["title"] == "A & B"
    assert m["description"] == "first"
    assert m["canonical"] == "http://a.example/x"
    assert m["pub_date"] == "2023-01-02"
    assert m["og_title"] is None


def test_metadata_tolerant_on_damage():
    from ocr_inference_spark.text.html_extract import extract_metadata

    for doc in (
        "",
        "<title>only a title",
        "<meta name=description>",  # no content attr
        "<link rel=canonical>",  # no href
        "<meta name='description' content='x'",  # truncated tag
        "\x00<binary>\xff garbage",
    ):
        m = extract_metadata(doc)
        assert set(m) == {
            "title", "description", "og_title", "canonical", "pub_date",
        }
        assert m["description"] in (None, "x")


def test_metadata_unquoted_and_meta_in_body():
    from ocr_inference_spark.text.html_extract import extract_metadata

    doc = (
        "<html><head></head><body>"
        "<meta name=date content=2020-05-06>"
        "<link rel=canonical href=http://c.example/z></body></html>"
    )
    m = extract_metadata(doc)
    assert m["pub_date"] == "2020-05-06"
    assert m["canonical"] == "http://c.example/z"
    assert m["title"] is None


def test_metadata_corpus_roundtrip(spark):
    """Spark kernel over the messy synthetic corpus reproduces the
    doc_id-derived expectations, NULL slots included."""
    from pyspark.sql import Row

    from ocr_inference_spark.text.html_extract import (
        html_metadata,
        synth_metadata_corpus,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta " * 30) for i in range(64)]
    )
    rows = {
        r["doc_id"]: r
        for r in html_metadata(
            synth_metadata_corpus(spark, docs, n_docs=64)
        ).collect()
    }
    assert len(rows) == 64
    r10 = rows[10]
    assert r10["title"] == "site 3 — page"
    assert r10["og_title"] == "Portal 3 — 00000010"
    assert rows[1]["description"] is None  # 1 % 4 == 1
    assert rows[2]["og_title"] is None  # 2 % 6 == 2
    assert rows[3]["canonical"] is None  # 3 % 5 == 3
    assert rows[4]["pub_date"] is None  # 4 % 7 == 4
    assert rows[5]["pub_date"] == "2024-06-06"
