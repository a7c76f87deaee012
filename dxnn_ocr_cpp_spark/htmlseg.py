"""Stage-1 core: streaming DOM segmentation of raw HTML bytes.

Pure Python, no Spark imports — this module is the "model" that the
stage-1 pandas UDF (operators/segment.py) runs per Arrow batch, the
analog of the reference's DBNet detection inference + DB postprocess
(/root/reference/src/detection/text_detector.cpp,
 /root/reference/src/detection/db_postprocess.cpp:28-130).

Design rules (north rule: byte-identical output per url, independent of
partitioning/parallelism):
  * tokenize, then segment: a tokenizer streams (kind, value) tokens
    and one state loop (segment_tokens) turns them into blocks — O(n),
    no tree, no iteration-order ambiguity;
  * every policy (charset fallback, whitespace collapse, block
    boundaries) is fixed and documented here, used by pipeline AND
    tests;
  * each text node is assigned to exactly one block (the innermost open
    block context), so ancestor/descendant double-emission (reference
    dedupe D13/D14, geometry.cpp:184-201) cannot occur by construction.

Block model (the TextBox analog, /root/reference/include/common/types.hpp:13-53):
  block_id   0-based emission ordinal (contour index analog) and the
             only order key: each block is a text run closed by the next
             block boundary, so blocks are emitted in document order —
             the (y, x) reading order of the reference's
             src/pipeline/ocr_pipeline.cpp:180-200
  tag        the block-level tag owning the text run
  boiler     True if the block context sits at or under a boiler tag
             (config.boiler_ancestors) — inherited down the open-element
             stack, so it costs one lookup per element
  text_raw   raw accumulated character data (un-normalized)
  n_text_chars / n_link_chars   stage-2 features
"""

from __future__ import annotations

import codecs
import re
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG

# --- charset sniffing (input normalization, analog of doc preprocessing,
# /root/reference/src/pipeline/document_preprocessing.cpp:94-175) ---

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-.:]+)", re.IGNORECASE)

# Whitelist of decodable charsets -> canonical python codec. Anything
# else (absent, bogus) falls back to utf-8 with U+FFFD replacement —
# the deterministic "pad color" policy (ref pads with gray 114,
# text_detector.cpp:175-225; our pad is the replacement char).
_CHARSET_WHITELIST = {
    "utf-8": "utf-8", "utf8": "utf-8", "ascii": "utf-8",
    "us-ascii": "utf-8",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "iso-8859-1": "cp1252", "latin-1": "cp1252", "latin1": "cp1252",
}


def decode_html(raw: bytes, sniff_bytes: int = 2048) -> tuple[str, str]:
    """bytes -> (unicode text, charset label used). Deterministic."""
    if raw.startswith(codecs.BOM_UTF8):
        return raw[len(codecs.BOM_UTF8):].decode("utf-8", "replace"), "utf-8-bom"
    m = _CHARSET_RE.search(raw[:sniff_bytes])
    if m:
        declared = m.group(1).decode("ascii", "replace").lower()
        codec = _CHARSET_WHITELIST.get(declared)
        if codec:
            return raw.decode(codec, "replace"), codec
        # declared but unknown -> fixed fallback, flagged
        return raw.decode("utf-8", "replace"), "fallback-utf-8"
    return raw.decode("utf-8", "replace"), "utf-8"


# --- text normalization (stage-3 / CTC-decode analog) ---
# C2 dedupe-consecutive analog: collapse whitespace runs (str.split's
# whitespace, which takes in the NBSP family) to one space. C3
# blank-removal analog: strip zero-width / control / bidi-format chars
# first, so a deleted char never splits a word. This is THE canonical
# normalization: segment_tokens runs the same steps inline for every
# block, and it runs only inside the stage-1 UDF, never re-implemented
# in Java regex, so there is a single source of truth for byte-identity
# (SURVEY 7.3).
_CTRL_RE = re.compile(
    "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f-\u009f"  # C0/C1 (keep \t\n\r)
    "\u200b-\u200f\u202a-\u202e\u2060-\u2064\ufeff\u00ad]"   # ZW*/bidi/WJ/BOM/SHY
)


def normalize_text(s: str) -> str:
    if _CTRL_RE.search(s):
        s = _CTRL_RE.sub("", s)
    return " ".join(s.split())


# --- tag classes ---

# Block-level elements: opening/closing one flushes the current text
# run into a block (connected-component boundary analog, D2).
BLOCK_TAGS = frozenset(
    """p h1 h2 h3 h4 h5 h6 li td th dd dt blockquote pre figcaption
    caption div article section main aside nav header footer form
    table ul ol dl tr thead tbody tfoot figure details summary
    fieldset legend address hgroup""".split()
)
# Content inside these is dropped entirely (P10 unwarp analog: strip
# script/style/template + head metadata).
SKIP_TAGS = frozenset("script style template noscript head title svg iframe object".split())
# Void elements never enter the open-element stack.
VOID_TAGS = frozenset(
    "br hr img meta link input area base col embed source track wbr param".split()
)
# Line-break-ish voids contribute a space so words don't fuse.
SPACING_VOIDS = frozenset(("br", "hr", "img"))
# Elements allowed inside <head>: anything else (or bare text) implies
# </head> per HTML5 — real crawl pages omit the close tag constantly.
HEAD_TAGS = frozenset(
    "head meta title link style script base noscript template".split())


@dataclass(slots=True)
class Block:
    block_id: int
    tag: str
    boiler: bool
    text_raw: str
    n_text_chars: int
    n_link_chars: int


@dataclass
class SegmentResult:
    blocks: list          # list[Block] (capped at max_candidates), or
                          # schemas.BLOCK dicts when normalized=True
    n_candidates: int     # pre-cap candidate count (for lineage; D3 log-on-truncate)
    truncated: bool
    charset: str
    oversized: bool       # html exceeded max_html_bytes guard (F7)


# --- tokens ---
# A token is (kind, value): DATA carries character data (charrefs
# decoded), START/END/EMPTY a lowercased tag name (EMPTY is '<x/>'), and
# every stream ends with one EOF. Comments, declarations and script/style
# content produce no tokens.
DATA, START, END, EMPTY, EOF = range(5)

# fast tokenizer: one compiled alternation takes the common tokens. Each
# alternative is a subset of what html.parser (CPython 3.11) parses the
# same way, and none reads past the next '<'; every other '<' goes to
# _markup, which keeps html.parser's rules. Pinned here, not imported
# from html.parser: its regexes are undocumented privates that security
# patches have reshaped before. tests/test_htmlseg_properties.py checks
# token-for-token parity with the live html.parser.
_ATTRS = r"""(?:\s+[^\s/>=<'"][^\s/>=<]*                  # attribute name
                (?:\s*=\s*(?:'[^'<]*'|"[^"<]*"|[^\s>'"<=][^\s><]*))?  # value
             )*\s*"""
_TOKEN_RE = re.compile(rf"""
    ([^<]+)                                                 # 1 data run
  | <([sS][cC][rR][iI][pP][tT]|[sS][tT][yY][lL][eE])        # 2 rawtext start
     (?=[\t\n\r\f >]){_ATTRS}>
  | <([a-zA-Z][^\t\n\r\f />\x00<]*)(?=[\t\n\r\f />])        # 3 start tag,
     {_ATTRS}(/?)>                                          # 4 its '/>'
  | </\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>                     # 5 end tag
  | (<!--)                                                  # 6 comment
  | (<!(?!\[)[^<>]*>|<\?[^<>]*>)                            # 7 decl, PI
  | (<)                                                     # 8 the rest
""", re.VERBOSE)
# html.parser's tolerant regexes (CPython 3.11), for _markup
_LOCATE_RE = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE)
_TAGFIND_RE = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND_RE = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*")
_DECLNAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
# closers, looked for with _searcher's memo
_GT = re.compile(">")
_COMMENT_END = re.compile(r"--\s*>")
_MARKED_CLOSE_RE = re.compile(r"]\s*]\s*>")
_MS_CLOSE_RE = re.compile(r"]\s*>")
# a rawtext element ends only at a strict '</name\s*>'; ASCII case only
# (html.parser's re.I close search also hits 'ſ' for 's', but its
# end-tag regex then reads that closer as text)
_RAWTEXT_END = {t: re.compile(r"</\s*" + "".join(f"[{c}{c.upper()}]" for c in t) + r"\s*>")
                for t in ("script", "style")}


def _searcher(text: str):
    """needle.search(text, pos) for one document, minus the searches
    known to fail: a needle missing after p is missing after any later
    p, so it is never looked for again (html.parser re-scans instead)."""
    missing = {}

    def search(needle, pos):
        if pos >= missing.get(needle, pos + 1):
            return None
        m = needle.search(text, pos)
        if m is None:
            missing[needle] = pos
        return m
    return search


def _incomplete(text, lt, search):
    # html.parser's goahead rule for a construct with no terminator:
    # unescaped data from '<' through the next '>', else up to the next
    # '<' (excl., parsing resumes there), else one char
    gt = search(_GT, lt + 1)
    k = gt.end() if gt is not None else text.find("<", lt + 1)
    if k < 0:
        k = lt + 1
    chunk = text[lt:k]
    return k, ((DATA, unescape(chunk) if "&" in chunk else chunk),)


def _rawtext(text, name, pos, search):
    # script/style: no tags and no charrefs up to a strict '</name>';
    # unterminated rawtext swallows the rest
    m = search(_RAWTEXT_END[name], pos)
    return (m.end(), ((START, name), (END, name))) if m is not None \
        else (len(text), ((START, name),))


def _markup(text, lt, search):
    """The construct at `lt` that _TOKEN_RE leaves, by html.parser's
    rules: (next position, its tokens)."""
    c = text[lt + 1:lt + 2]
    if c.isascii() and c.isalpha():  # starttagopen is ASCII-only
        # check_for_whole_start_tag + parse_starttag, minus attr values
        j = _LOCATE_RE.match(text, lt).end()
        nxt = text[j:j + 1]
        if nxt == ">":
            endpos = j + 1
        elif nxt == "/" and text.startswith("/>", j):
            endpos = j + 2
        elif nxt in ("", "/", "=") or (nxt.isascii() and nxt.isalpha()):
            return _incomplete(text, lt, search)  # EOF mid-tag / mid-attr
        else:  # bogus junk inside tag: raw data to j, resume
            return j, ((DATA, text[lt:j]),)
        mt = _TAGFIND_RE.match(text, lt + 1)
        name = mt.group(1).lower()
        if "/" in text[mt.end():endpos - 1]:
            # a '/' among the attrs: what the attr loop leaves over
            # decides between <x/>, <x a/ b> and junk
            k = mt.end()
            while (ma := _ATTRFIND_RE.match(text, k)) is not None:
                k = ma.end()
            tail = text[k:endpos].strip()
            if tail == "/>":
                return endpos, ((EMPTY, name),)
            if tail != ">":  # junk in start tag: raw data
                return endpos, ((DATA, text[lt:endpos]),)
        if name in _RAWTEXT_END:
            return _rawtext(text, name, endpos, search)
        return endpos, ((START, name),)
    if c == "/":  # parse_endtag; '</name>' itself is a _TOKEN_RE token
        gt = search(_GT, lt + 1)
        if gt is None:
            return _incomplete(text, lt, search)
        # '</name junk>' closes name; '</>' and bogus comments are
        # swallowed: all three end at the first '>'
        nm = _TAGFIND_RE.match(text, lt + 2)
        return gt.end(), ((END, nm.group(1).lower()),) if nm else ()
    if text.startswith("![", lt + 1):
        # SGML marked section (parse_marked_section): known keywords
        # close on ']\s*]\s*>' (or ']\s*>' for MS conditionals), content
        # dropped; a bad/unknown keyword raises in html.parser, so the
        # parse ends here
        nm = _DECLNAME_RE.match(text, lt + 3)
        if nm is None or nm.end() >= len(text):
            if nm is None and lt + 3 < len(text):
                return len(text), ()  # non-name char
            return _incomplete(text, lt, search)  # keyword touches EOF
        kw = nm.group().strip().lower()
        if kw in ("temp", "cdata", "ignore", "include", "rcdata"):
            mc = search(_MARKED_CLOSE_RE, lt + 3)
        elif kw in ("if", "else", "endif"):
            mc = search(_MS_CLOSE_RE, lt + 3)
        else:
            return len(text), ()
        return (mc.end(), ()) if mc is not None else _incomplete(text, lt, search)
    if c == "!" or c == "?":  # <!doctype ...>, bogus comment, PI
        gt = search(_GT, lt)
        return (gt.end(), ()) if gt is not None else _incomplete(text, lt, search)
    return lt + 1, ((DATA, "<"),)  # bare '<' ('<3', '< ', trailing '<')


def _fast_tokens(text: str):
    """Token stream of `text`, the same as html.parser's (engine="ref"),
    generated lazily so a page's tokens never sit in memory at once."""
    search = _searcher(text)
    i, n = 0, len(text)
    try:
        while i < n:
            for m in _TOKEN_RE.finditer(text, i):
                k = m.lastindex
                if k == 1:
                    s = m[1]
                    yield DATA, unescape(s) if "&" in s else s
                elif k == 4:
                    yield EMPTY if m[4] else START, m[3].lower()
                elif k == 5:
                    yield END, m[5].lower()
                elif k != 7:
                    # a construct that skips by position or needs
                    # html.parser's rules: finditer restarts after it
                    if k == 2:
                        i, toks = _rawtext(text, m[2].lower(), m.end(), search)
                    elif k == 6:
                        c = search(_COMMENT_END, m.end())
                        i, toks = (c.end(), ()) if c is not None else \
                            _incomplete(text, m.start(), search)
                    else:
                        i, toks = _markup(text, m.start(), search)
                    yield from toks
                    break
            else:
                break
    except Exception:
        pass  # malformed beyond the tolerant rules: keep what was read
    yield EOF, ""


class _RefTokens(HTMLParser):
    """engine="ref": the stdlib html.parser, whose handlers only record
    tokens. Script/style text is dropped as the fast tokenizer skips it
    (it always sits in a skipped element)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.tokens = []

    def handle_starttag(self, tag, attrs):
        self.tokens.append((START, tag))

    def handle_startendtag(self, tag, attrs):
        self.tokens.append((EMPTY, tag))

    def handle_endtag(self, tag):
        self.tokens.append((END, tag))

    def handle_data(self, data):
        if self.cdata_elem is None:
            self.tokens.append((DATA, data))


def tokenize(text: str, engine: str = "fast"):
    """Token stream of decoded html: "fast" (a generator, production
    default) or "ref" (stdlib html.parser, the reference model)."""
    if engine == "fast":
        return _fast_tokens(text)
    p = _RefTokens()
    try:
        p.feed(text)
        p.close()
    except Exception:
        pass  # malformed beyond the tolerant parser: keep what was read
    p.tokens.append((EOF, ""))
    return p.tokens


def _close(stack: list, open_: dict, tag: str, skip: int, link: int):
    # pop to the nearest open `tag`, searching down from the top: every
    # element above it closes implicitly. Returns the skip and link
    # depths less the elements closed, so both stay stack invariants.
    i = len(stack) - 1
    while stack[i][0] != tag:
        i -= 1
    for t, _, _ in stack[i:]:
        open_[t] -= 1
        if t in SKIP_TAGS:
            skip -= 1
        elif t == "a":
            link -= 1
    del stack[i:]
    return skip, link


def segment_tokens(tokens, max_candidates: int = 1500,
                   boiler_tags=DEFAULT_CONFIG.boiler_ancestors,
                   normalized: bool = False) -> tuple[list, int]:
    """Tokens -> (blocks, n_candidates): Block records with the raw
    text, or with normalized=True the schemas.BLOCK dicts of the blocks
    whose text survives normalize_text (block_id still counts the rest).

    The whole state machine lives in locals: the open-element stack of
    (tag, boiler, block_i) — boiler: this element or an ancestor is a
    boiler tag; block_i: stack index of the nearest block element at or
    above it (0: none) — `open_` (tag -> open elements with that tag),
    and `skip`/`link`, the open SKIP_TAGS / <a> elements. Those two are
    stack invariants, kept on every push and pop: ad-hoc counting leaked
    on implicitly-closed elements (an omitted </head> dropped every
    later block, an <a> closed by its ancestor made them all links). A
    stray closer costs a dict lookup and an implicit close pops only
    what it closes, so hostile nesting stays linear in the input.
    """
    boiler_tags = frozenset(boiler_tags)
    block_tags, skip_tags, void_tags = BLOCK_TAGS, SKIP_TAGS, VOID_TAGS
    spacing, head_tags = SPACING_VOIDS, HEAD_TAGS
    ctrl, ctrl_sub = _CTRL_RE.search, _CTRL_RE.sub
    stack = [("", False, 0)]
    open_ = {}
    skip = link = 0
    parts = []          # the current text run and its link chars
    link_chars = 0
    ctx_tag, ctx_boiler = "body", False
    blocks = []
    n_cand = n_ids = 0
    for kind, val in tokens:
        if kind == DATA:
            if skip:
                # bare text directly inside <head> implies </head> (HTML5)
                if (skip != 1 or not val or val.isspace()
                        or not open_.get("head")):
                    continue
                skip, link = _close(stack, open_, "head", skip, link)
            parts.append(val)
            if link:
                link_chars += sum(map(len, val.split()))
            continue
        if kind == START:
            if val in void_tags:
                if val in spacing and not skip:
                    parts.append(" ")
                continue
            # implied </head>: ANY non-head-allowed tag ends the head (a
            # skipped head would otherwise swallow the whole document).
            # Only when head is the SOLE open skip element — content
            # nested in template/svg/iframe stays dropped.
            if skip == 1 and val not in head_tags and open_.get("head"):
                skip, link = _close(stack, open_, "head", skip, link)
            _, boiler, block_i = stack[-1]
            top = (val, boiler or val in boiler_tags,
                   len(stack) if val in block_tags else block_i)
            stack.append(top)
            open_[val] = open_.get(val, 0) + 1
            if val in skip_tags:
                skip += 1
            elif val == "a":
                link += 1
            if skip or val not in block_tags:
                continue
            new_tag, new_boiler = val, top[1]
        elif kind == END:
            if val in void_tags:
                continue
            if stack[-1][0] == val:  # well-formed close (the common case)
                open_[val] -= 1
                if val in skip_tags:
                    skip -= 1
                elif val == "a":
                    link -= 1
                del stack[-1]
            elif open_.get(val):
                skip, link = _close(stack, open_, val, skip, link)
            # a stray closer is ignored, but a block one still ends the
            # run. Gate on the POST-pop depth: an end tag that closes a
            # skip descendant (</div> over an unclosed <iframe>) still
            # ends its block here.
            if skip or val not in block_tags:
                continue
            # text after a closed block (the 'tail') belongs to the
            # nearest enclosing block element still open
            block_i = stack[-1][2]
            if block_i:
                new_tag, new_boiler, _ = stack[block_i]
            else:
                new_tag, new_boiler = "body", stack[-1][1]
        elif kind == EMPTY:  # <x/>: like a void occurrence
            if val in spacing and not skip:
                parts.append(" ")
            continue
        else:  # EOF
            new_tag, new_boiler = ctx_tag, ctx_boiler
        # a block boundary: the run becomes a block if it has text.
        # One split gives candidacy, n_text_chars and the normalized
        # text (normalize_text, inline).
        if parts:
            text = "".join(parts)
            if n_ids < max_candidates:
                words = text.split()
                if words:
                    n_cand += 1
                    if not normalized:
                        blocks.append(Block(n_ids, ctx_tag, ctx_boiler, text,
                                            sum(map(len, words)), link_chars))
                    else:
                        if ctrl(text):
                            words = ctrl_sub("", text).split()
                        if words:  # D1 analog: candidacy needs normalized text
                            t = " ".join(words)
                            n_text = len(t) - len(words) + 1
                            blocks.append({
                                "block_id": n_ids, "tag": ctx_tag,
                                "boiler": ctx_boiler, "text": t,
                                "n_text_chars": n_text,
                                "n_link_chars": link_chars if link_chars < n_text else n_text,
                            })
                    n_ids += 1
            elif text and not text.isspace():
                n_cand += 1  # past the cap only the count goes on
            parts = []
        link_chars = 0
        ctx_tag, ctx_boiler = new_tag, new_boiler
    return blocks, n_cand


def segment_html(raw: bytes | None,
                 max_candidates: int = 1500,
                 max_html_bytes: int = 20 << 20,
                 sniff_bytes: int = 2048,
                 engine: str = "fast",
                 boiler_tags: tuple = DEFAULT_CONFIG.boiler_ancestors,
                 normalized: bool = False) -> SegmentResult:
    """One document -> candidate blocks. Never raises (F8/F9 analog:
    empty/broken input still yields a result row).

    engine: "fast" (regex tokenizer, production default) or "ref"
    (stdlib html.parser, the reference model both engines must match).
    boiler_tags: tags whose subtree marks a block `boiler`.
    normalized: blocks as schemas.BLOCK dicts (see segment_tokens).
    """
    if raw is None:
        return SegmentResult([], 0, False, "null", False)
    oversized = len(raw) > max_html_bytes
    if oversized:
        raw = raw[:max_html_bytes]  # truncate guard-rail (F7/P6)
    text, charset = decode_html(raw, sniff_bytes)
    blocks, n_cand = segment_tokens(tokenize(text, engine), max_candidates,
                                    boiler_tags, normalized)
    return SegmentResult(blocks, n_cand, n_cand > max_candidates, charset,
                         oversized)
