"""Unit tests for the stage-1 segmenter core (pure Python, no JVM).

Analog of the reference's GTest parameter tests on parsing/validation
(/root/reference/server/tests/test_ocr_request.cpp:21-60): hand-written
inputs, hand-computed expected outputs.
"""

import pytest

from dxnn_ocr_cpp_spark.htmlseg import decode_html, normalize_text, segment_html


def texts(res):
    return [b.text_raw for b in res.blocks]


class TestDecode:
    def test_plain_utf8(self):
        t, cs = decode_html("héllo".encode("utf-8"))
        assert (t, cs) == ("héllo", "utf-8")

    def test_meta_cp1252(self):
        raw = '<meta charset="windows-1252"><p>café “x”</p>'.encode("cp1252")
        t, cs = decode_html(raw)
        assert cs == "cp1252" and "café" in t and "“x”" in t

    def test_bogus_charset_falls_back(self):
        raw = b'<meta charset="bogus-enc"><p>ok</p>'
        t, cs = decode_html(raw)
        assert cs == "fallback-utf-8" and "ok" in t

    def test_bom(self):
        t, cs = decode_html(b"\xef\xbb\xbfhi")
        assert (t, cs) == ("hi", "utf-8-bom")

    def test_invalid_bytes_replaced_deterministically(self):
        t1, _ = decode_html(b"<p>a\xff\xfeb</p>")
        t2, _ = decode_html(b"<p>a\xff\xfeb</p>")
        assert t1 == t2 and "�" in t1


class TestNormalize:
    def test_ws_collapse(self):
        assert normalize_text("a \t\n  b  c") == "a b c"

    def test_zero_width_and_controls(self):
        assert normalize_text("a​bc­") == "abc"

    def test_strip(self):
        assert normalize_text("  x  ") == "x"

    def test_empty(self):
        assert normalize_text(" ​ ") == ""


class TestSegment:
    def test_simple_blocks(self):
        r = segment_html(b"<body><p>one</p><p>two</p></body>")
        assert texts(r) == ["one", "two"]
        assert [b.tag for b in r.blocks] == ["p", "p"]

    def test_head_script_style_skipped(self):
        r = segment_html(
            b"<head><title>T</title><style>p{}</style>"
            b"<script>var x='<p>fake</p>';</script></head><body><p>real</p></body>")
        assert texts(r) == ["real"]

    def test_div_tail_text(self):
        r = segment_html(b"<div>intro <p>para</p> tail</div>")
        assert texts(r) == ["intro ", "para", " tail"]
        assert [b.tag for b in r.blocks] == ["div", "p", "div"]

    def test_inline_tags_do_not_split(self):
        r = segment_html(b"<p>a <b>bold</b> and <a href=x>link</a> end</p>")
        assert texts(r) == ["a bold and link end"]
        b = r.blocks[0]
        assert b.n_link_chars == 4  # 'link'
        assert b.n_text_chars == len("aboldandlinkend")

    def test_entities_decoded(self):
        r = segment_html(b"<p>fish &amp; chips&nbsp;here</p>")
        assert texts(r) == ["fish & chips\xa0here"]

    def test_boiler_verdict_and_depth(self):
        r = segment_html(b"<html><body><div><div><p>x</p></div></div></body></html>")
        assert r.blocks[0].depth == 5
        table = [
            # a block directly under a boiler tag
            (b"<body><nav><p>menu</p></nav></body>", None,
             [("menu", True)]),
            # boiler reaches through non-boiler ancestors
            (b"<body><footer><div><p>legal</p></div></footer></body>", None,
             [("legal", True)]),
            # tail text after </p> belongs to the enclosing boiler block
            (b"<body><header><p>logo</p>tagline</header></body>", None,
             [("logo", True), ("tagline", True)]),
            # text after </nav> is outside it again
            (b"<body><div><nav>menu</nav>after</div></body>", None,
             [("menu", True), ("after", False)]),
            # custom inline boiler tag: the tail re-inherits the nearest
            # open block (div, not under span) ...
            (b"<body><div><span><p>in</p>tail</span>out</div></body>",
             ("span",), [("in", True), ("tailout", False)]),
            # ... or, with no block open, the innermost open element
            (b"<body><span><p>in</p>tail</span></body>", ("span",),
             [("in", True), ("tail", True)]),
        ]
        for html, boiler_tags, expected in table:
            kw = {} if boiler_tags is None else {"boiler_tags": boiler_tags}
            for eng in ("fast", "ref"):
                r = segment_html(html, engine=eng, **kw)
                assert [(b.text_raw, b.boiler) for b in r.blocks] == \
                    expected, (html, eng)

    def test_boiler_is_tag_membership_not_prefix(self):
        # a tag named 'nav[x' is not 'nav': its content is not boiler
        from dxnn_ocr_cpp_spark.pipeline import extract_python
        html = b"<body><nav[x><p>hello world here</p></nav[x></body>"
        assert [b.boiler for b in segment_html(html).blocks] == [False]
        assert extract_python("u", html)["text"] == "hello world here"

    def test_pos_is_monotonic(self):
        r = segment_html(b"<body><p>a</p><div><p>b</p></div><p>c</p></body>")
        ps = [b.pos for b in r.blocks]
        assert ps == sorted(ps) and len(set(ps)) == len(ps)

    def test_unclosed_tags_tolerated(self):
        r = segment_html(b"<body><p>one<p>two<li>three</body>")
        assert texts(r) == ["one", "two", "three"]

    def test_stray_end_tags_ignored(self):
        r = segment_html(b"</div><p>ok</p></article>")
        assert texts(r) == ["ok"]

    def test_candidate_cap(self):
        html = b"<body>" + b"".join(
            b"<li>item %d</li>" % i for i in range(60)) + b"</body>"
        r = segment_html(html, max_candidates=50)
        assert len(r.blocks) == 50
        assert r.n_candidates == 60 and r.truncated

    def test_oversize_guard(self):
        html = b"<p>" + b"x" * 100 + b"</p>"
        r = segment_html(html, max_html_bytes=50)
        assert r.oversized

    def test_empty_and_null(self):
        assert segment_html(b"").blocks == []
        assert segment_html(None).charset == "null"
        assert segment_html(b"<body>  \n\t </body>").blocks == []

    def test_br_spacing(self):
        r = segment_html(b"<p>one<br>two</p>")
        assert texts(r) == ["one two"]

    def test_comments_and_cdata_skipped(self):
        r = segment_html(b"<body><!-- nope --><p>yes</p></body>")
        assert texts(r) == ["yes"]

    def test_nested_table(self):
        r = segment_html(b"<table><tr><td>c1</td><td>c2</td></tr></table>")
        assert texts(r) == ["c1", "c2"]
        assert [b.tag for b in r.blocks] == ["td", "td"]

    def test_link_heavy_nav(self):
        r = segment_html(b"<nav><a href=a>Home</a> <a href=b>About</a></nav>")
        b = r.blocks[0]
        assert b.tag == "nav" and b.n_link_chars == b.n_text_chars == 9

    def test_determinism_byte_identical(self):
        html = ("<body><div>x<p>p1</p><ul><li>l1</li><li>l2</li></ul>"
                "y</div></body>").encode()
        a = segment_html(html)
        b = segment_html(html)
        assert a.blocks == b.blocks


class TestImplicitCloseReconciliation:
    """Review findings: counters leaked on implicitly-closed elements,
    silently dropping all remaining content on real-world HTML."""

    def test_missing_head_close_still_extracts(self):
        h = (b"<html><head><meta charset=utf-8><title>t</title>"
             b"<body><p>hello world content</p><p>second</p>")
        for eng in ("fast", "ref"):
            texts = [b.text_raw for b in segment_html(h, engine=eng).blocks]
            assert texts == ["hello world content", "second"], eng

    def test_unclosed_anchor_does_not_poison_later_blocks(self):
        h = (b"<div><a href=x>link</div>"
             b"<p>plain body text not a link at all</p>")
        for eng in ("fast", "ref"):
            blocks = segment_html(h, engine=eng).blocks
            p = [b for b in blocks if b.tag == "p"][0]
            assert p.n_link_chars == 0, eng

    def test_stray_skip_closer_does_not_unhide(self):
        h = b"<iframe>hid</script>still hid</iframe><p>visible</p>"
        for eng in ("fast", "ref"):
            texts = [b.text_raw for b in segment_html(h, engine=eng).blocks]
            assert texts == ["visible"], eng

    def test_template_inside_head_stays_hidden(self):
        h = (b"<head><template><p>hidden</p></template></head>"
             b"<p>shown</p>")
        for eng in ("fast", "ref"):
            texts = [b.text_raw for b in segment_html(h, engine=eng).blocks]
            assert texts == ["shown"], eng


class TestBoundedCost:
    """Hostile nesting costs linear time: stray closers and the
    implied-</head> checks never scan the open-element stack."""

    @pytest.mark.parametrize("html", [
        b"<div>" * 16384 + b"</span>" * 16384 + b"<p>end</p>",
        b"<body><svg>" + b"<div>" * 16384 + b"<p>end</p>",
    ], ids=["stray-closers", "skip-nesting"])
    def test_deep_nesting_is_fast_and_engines_agree(self, html):
        import time
        blocks = {}
        for eng in ("fast", "ref"):
            t0 = time.perf_counter()
            blocks[eng] = segment_html(html, engine=eng).blocks
            assert time.perf_counter() - t0 < 1.0, eng
        assert blocks["fast"] == blocks["ref"]
