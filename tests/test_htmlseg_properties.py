"""Property-based tests (hypothesis) for the stage-1 core — beyond the
reference's test strategy (SURVEY §5.6: it has no randomized tests).

Invariants fuzzed:
  * segment_html never raises, on ANY bytes;
  * determinism: same bytes -> identical blocks;
  * normalization idempotence: normalize(normalize(x)) == normalize(x);
  * block text accounting: every block has non-whitespace raw text and
    consistent n_text_chars;
  * candidate cap is never exceeded;
  * blocks come out in document order, on both engines.
"""

import re

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from dxnn_ocr_cpp_spark.htmlseg import normalize_text, segment_html

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
    ]),
)
hostile_soup = st.lists(hostile, max_size=40).map("".join)


@settings(max_examples=400, deadline=None)
@given(hostile_soup)
def test_fast_engine_matches_reference_engine(s):
    raw = s.encode("utf-8", "surrogatepass")
    assert _key(segment_html(raw, engine="fast")) == \
        _key(segment_html(raw, engine="ref"))


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
