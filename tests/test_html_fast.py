"""Fast HTML segmenter ≡ stdlib reference segmenter."""

from __future__ import annotations

import duckdb

from dpo_ocr_spark.corpus import render_html
from dpo_ocr_spark.extract.html import segment_html
from dpo_ocr_spark.extract.html_fast import segment_html_fast

DOCS = duckdb.sql(
    "select doc_id, text from '/root/testdata/sf0.001/documents.parquet'"
).fetchall()


def test_corpus_equivalence():
    for doc_id, text in DOCS:
        p = render_html(doc_id, text)
        assert segment_html_fast(p) == segment_html(p), f"doc {doc_id}"


def test_probe_equivalence():
    probes = [
        b"", b"no tags at all", b"<p>a &amp; b</p>",
        b"<p>bad &notanentity; x</p>",
        b"<div><a href='x'>link text</a> more</div>",
        b"<script>var x = '<p>not a tag</p>';</script><p>real</p>",
        b"<style>p{}</style><p>s</p>", b"<p>unclosed",
        b"<br/><p>after void</p>", b"<P>UPPER</P>",
        b"<p>a<b>bold</b>c</p>", b"<!-- <p>comment</p> --><p>x</p>",
        b"<!DOCTYPE html><p>y</p>",
        b"<nav><p>inside nav</p></nav><p>out</p>",
        b"<p>a &#65; &#x42; c</p>", b"<script>unterminated",
        b"</{bogus}><p>after bogus endtag</p>",
        b"\x00\xff binary <p>ok</p>",
        b"<p>5 &lt; 6 &amp;&amp; 7 &gt; 2</p>",
    ]
    for p in probes:
        assert segment_html_fast(p) == segment_html(p), p


def test_fast_is_faster():
    import time

    payloads = [render_html(d, t) for d, t in DOCS]
    t0 = time.time()
    for p in payloads:
        segment_html(p)
    t_ref = time.time() - t0
    t0 = time.time()
    for p in payloads:
        segment_html_fast(p)
    t_fast = time.time() - t0
    assert t_fast < t_ref, (t_fast, t_ref)


def test_comment_opener_inside_script_string():
    """A ``<!--`` inside a script string must not open a comment that
    swallows the markup after ``</script>``: the lexer resumes after the
    rawtext end tag instead of trusting a match that straddles it."""
    p = b'<script>a="<!--"</script><p>one</p><p>two --> three</p>'
    assert segment_html(p) == ["one", "two --> three"]
    assert segment_html_fast(p) == segment_html(p)
