"""Property-based tests (hypothesis) for the stage-1 core — beyond the
reference's test strategy (SURVEY §5.6: it has no randomized tests).

Invariants fuzzed:
  * segment_html never raises, on ANY bytes;
  * determinism: same bytes -> identical blocks;
  * normalization idempotence: normalize(normalize(x)) == normalize(x);
  * block text accounting: every block has non-whitespace raw text and
    consistent n_text_chars;
  * candidate cap is never exceeded;
  * blocks come out in document order, on both engines;
  * the fast tokenizer's token stream equals html.parser's;
  * normalize_text equals its former two-regex definition.
"""

import re

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from dxnn_ocr_cpp_spark.htmlseg import normalize_text, segment_html, tokenize

# HTML-ish soup: tags (balanced or not), entities, text, junk bytes
tag = st.sampled_from(
    "p div li a b i h1 h2 nav span td tr table script style br img "
    "article section foo bar".split())
piece = st.one_of(
    tag.map(lambda t: f"<{t}>"),
    tag.map(lambda t: f"</{t}>"),
    tag.map(lambda t: f"<{t} class='x' href=y>"),
    st.text(max_size=20),
    st.sampled_from(["&amp;", "&nbsp;", "&#65;", "&bogus;", "<!-- c -->",
                     "<![CDATA[x]]>", "<!DOCTYPE html>", "<?pi ?>",
                     "​", " ", "\x00", "�"]),
)
soup = st.lists(piece, max_size=60).map("".join)


@settings(max_examples=300, deadline=None)
@given(soup)
def test_never_raises_and_deterministic(s):
    raw = s.encode("utf-8", "surrogatepass")
    a = segment_html(raw)
    b = segment_html(raw)
    assert a.blocks == b.blocks
    assert a.n_candidates == b.n_candidates


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=400))
def test_arbitrary_bytes_never_raise(raw):
    r = segment_html(raw)
    assert r.n_candidates >= len(r.blocks) or not r.truncated


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_normalize_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once


@settings(max_examples=200, deadline=None)
@given(soup)
def test_block_invariants(s):
    r = segment_html(s.encode("utf-8", "surrogatepass"), max_candidates=40)
    assert len(r.blocks) <= 40
    for b in r.blocks:
        assert b.text_raw and not b.text_raw.isspace()
        assert b.n_text_chars == sum(
            1 for c in b.text_raw if not c.isspace())
        assert 0 <= b.n_link_chars <= b.n_text_chars


# --- fast-vs-ref engine parity (the server/mobile model-pair analog,
# /root/reference/README.md:170-179 — except ours must match exactly) ---

def _key(r):
    return ([(b.tag, b.boiler, b.text_raw,
              b.n_text_chars, b.n_link_chars) for b in r.blocks],
            r.n_candidates, r.truncated, r.charset, r.oversized)


hostile = st.one_of(
    piece,
    st.sampled_from([
        "<p<SCRIPT>", "</script y>", "<p</b>", "<a 'x'>", "<b =>", "</>",
        "<a href='x>y'>", "<br / >", "<div", "<!--", "<![CDATA[", "<?pi",
        "<script>no close", "</ p>", "</p attr>", "<3", "< div>", "<À",
        "<![CDATA[x ] ]>", "<![foo]]>", "<![cdata[x > y]]>", "<![ ",
        "<![if mso]>", "<![endif]>", "<![rcdata j ]  ]  >",
        # shapes the fast token regex claims, and their near misses
        "<a href=x/y>", "<a href=/x/ >", "<x a=b/>", "<x a=b />",
        "<x a=/>", "<a t='x>y'>", '<a t="x<y">', "<a t='<'>",
        "<SCRIPT>", "<Style x=y>", "<script/>", "<script />",
        "<script/x>", "</script x>", "</SCRIPT >", "</ſcript>",
        "<style>unclosed", "<!-- unclosed", "<!--x-- >", "<!-->",
        "<a b\"c=d>", "<a 'b'=c>", "<a b=c=d>", "<a ==b>", "<a b==c>",
        "<a b='c'd>", "<x a= >", "<a\x0bb>", "<x\x00>", "<x/y>",
        "<!x>", "<!>", "<?>", "<!-x>",
    ]),
)
hostile_soup = st.lists(hostile, max_size=40).map("".join)


@settings(max_examples=400, deadline=None)
@given(hostile_soup)
def test_fast_engine_matches_reference_engine(s):
    raw = s.encode("utf-8", "surrogatepass")
    assert _key(segment_html(raw, engine="fast")) == \
        _key(segment_html(raw, engine="ref"))


@settings(max_examples=400, deadline=None)
@given(hostile_soup)
def test_fast_tokens_match_reference_tokens(s):
    """Token for token, not only block for block: data chunks, tag
    names and '<x/>' forms all agree with html.parser."""
    assert list(tokenize(s, "fast")) == tokenize(s, "ref")


def test_fast_engine_matches_reference_on_corpus():
    from dxnn_ocr_cpp_spark.corpus import make_document
    for i in range(400):  # covers every edge-doc residue class
        raw = make_document(i)["html"]
        assert _key(segment_html(raw, engine="fast")) == \
            _key(segment_html(raw, engine="ref")), f"doc {i}"


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(hostile, st.none()), max_size=40))
def test_blocks_come_out_in_document_order(items):
    """Unique marker words planted through the soup (None slots) read
    across the blocks in their input order: a marker may be dropped
    (inside a skipped element, a tag or a truncated tail), never moved."""
    assume(not any(p and "zqm" in p for p in items))
    parts, n = [], 0
    for p in items:
        if p is None:
            p, n = f" zqm{n}q ", n + 1
        parts.append(p)
    raw = "".join(parts).encode("utf-8", "surrogatepass")
    for engine in ("fast", "ref"):
        text = " ".join(b.text_raw for b in segment_html(raw, engine=engine).blocks)
        seen = [int(m) for m in re.findall(r"zqm(\d+)q", text)]
        assert seen == sorted(set(seen)), (engine, seen)


# the two-regex normalize_text this module had before normalization
# moved into the segmenter's block flush: the oracle for the one-split
# definition
_OLD_CTRL_RE = re.compile(
    "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f-\u009f"
    "\u200b-\u200f\u202a-\u202e\u2060-\u2064\ufeff\u00ad]")
_OLD_WS_RE = re.compile("[\\s\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]+")


def _old_normalize_text(s):
    return _OLD_WS_RE.sub(" ", _OLD_CTRL_RE.sub("", s)).strip()


# C0/C1 (\x1c-\x1f and \x85 are whitespace to str.split and deleted
# by the control class), zero-width, bidi, BOM/SHY and Unicode spaces
_ODD_CHARS = st.sampled_from(
    [chr(c) for c in range(0x00, 0x21)] + [chr(c) for c in range(0x7f, 0xa1)]
    + list("\u00ad\u1680\u180e\u2000\u2001\u2007\u200a\u200b\u200c"
           "\u200d\u200e\u200f\u2028\u2029\u202a\u202e\u202f\u205f"
           "\u2060\u2064\u2065\u3000\ufeff\ufffd"))


@settings(max_examples=500, deadline=None)
@given(st.lists(st.one_of(st.text(max_size=8), _ODD_CHARS), max_size=40).map("".join))
def test_normalize_matches_two_regex_form(s):
    assert normalize_text(s) == _old_normalize_text(s)
