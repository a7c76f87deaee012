"""Stage-1 core: streaming DOM segmentation of raw HTML bytes.

Pure Python, no Spark imports — this module is the "model" that the
stage-1 pandas UDF (operators/segment.py) runs per Arrow batch, the
analog of the reference's DBNet detection inference + DB postprocess
(/root/reference/src/detection/text_detector.cpp,
 /root/reference/src/detection/db_postprocess.cpp:28-130).

Design rules (north rule: byte-identical output per url, independent of
partitioning/parallelism):
  * single-pass SAX-style parse (stdlib html.parser) — O(n), no tree,
    no iteration-order ambiguity;
  * every policy (charset fallback, whitespace collapse, block
    boundaries) is fixed and documented here, used by pipeline AND
    tests;
  * each text node is assigned to exactly one block (the innermost open
    block context), so ancestor/descendant double-emission (reference
    dedupe D13/D14, geometry.cpp:184-201) cannot occur by construction.

Block model (the TextBox analog, /root/reference/include/common/types.hpp:13-53):
  block_id   0-based emission ordinal (contour index analog)
  tag        the block-level tag owning the text run
  boiler     True if the block context sits at or under a boiler tag
             (config.boiler_ancestors) — inherited down the open-element
             stack, so it costs one lookup per element
  depth      open-element depth at block start
  pos        global start-tag counter at block start — the document-order
             sort key (analog of (y, x) reading order,
             /root/reference/src/pipeline/ocr_pipeline.cpp:180-200)
  text_raw   raw accumulated character data (un-normalized)
  n_text_chars / n_link_chars   stage-2 features
"""

from __future__ import annotations

import codecs
import re
from dataclasses import dataclass
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
# C2 dedupe-consecutive analog: collapse whitespace runs (incl. the NBSP
# family) to one space. C3 blank-removal analog: strip zero-width /
# control / bidi-format chars. This function is THE canonical
# normalization -- pipeline, goldens and tests all call it; it runs only
# inside the stage-1 UDF, never re-implemented in Java regex, so there
# is a single source of truth for byte-identity (SURVEY 7.3).
_CTRL_RE = re.compile(
    "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f-\u009f"  # C0/C1 (keep \t\n\r)
    "\u200b-\u200f\u202a-\u202e\u2060-\u2064\ufeff\u00ad]"   # ZW*/bidi/WJ/BOM/SHY
)
_WS_RE = re.compile("[\\s\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]+")


def normalize_text(s: str) -> str:
    s = _CTRL_RE.sub("", s)
    s = _WS_RE.sub(" ", s)
    return s.strip()


# --- the segmenter ---

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
    depth: int
    pos: int
    text_raw: str
    n_text_chars: int
    n_link_chars: int


@dataclass
class SegmentResult:
    blocks: list          # list[Block], capped at max_candidates
    n_candidates: int     # pre-cap candidate count (for lineage; D3 log-on-truncate)
    truncated: bool
    charset: str
    oversized: bool       # html exceeded max_html_bytes guard (F7)


class _Segmenter(HTMLParser):
    def __init__(self, max_candidates: int, boiler_tags):
        super().__init__(convert_charrefs=True)
        self.max_candidates = max_candidates
        self.boiler_tags = frozenset(boiler_tags)
        # open-element stack: (tag, boiler, block_i). boiler: this
        # element or an ancestor is a boiler tag; block_i: stack index
        # of the nearest block element at or above it (0: none)
        self.stack: list = [("", False, 0)]
        # tag -> number of open elements with that tag
        self.open: dict = {}
        self.skip_depth = 0
        self.link_depth = 0
        self.pos = 0
        self.blocks: list = []
        self.n_candidates = 0
        # current run state
        self._parts: list = []
        self._link_chars = 0
        self._ctx_tag = "body"
        self._ctx_boiler = False
        self._ctx_depth = 0
        self._ctx_pos = 0

    # -- open-element stack --
    # skip_depth/link_depth are INVARIANTS of the open-element stack
    # (number of open SKIP_TAGS / <a> elements), maintained exclusively
    # by _push/_pop. Ad-hoc counting at the handler level leaked on
    # implicitly-closed elements: real crawl HTML omits </head> (legal
    # — browsers imply it), and a leaked skip_depth silently dropped
    # EVERY remaining block; an unclosed <a> popped by an ancestor's
    # end tag left link_depth high and link-density killed all later
    # blocks. Both cost amortized O(1) per element (no stack scan
    # beyond the elements a close pops), so hostile nesting stays
    # linear in the input.
    def _push(self, tag: str) -> None:
        stack = self.stack
        _, boiler, block_i = stack[-1]
        stack.append((tag, boiler or tag in self.boiler_tags,
                      len(stack) if tag in BLOCK_TAGS else block_i))
        self.open[tag] = self.open.get(tag, 0) + 1
        if tag in SKIP_TAGS:
            self.skip_depth += 1
        elif tag == "a":
            self.link_depth += 1

    def _pop(self, tag: str) -> None:
        # pop to the nearest matching open element; ignore stray
        # closers; reconcile counters for every implicitly-closed
        # element above the match
        stack = self.stack
        if stack[-1][0] == tag:  # well-formed close (the common case)
            self.open[tag] -= 1
            if tag in SKIP_TAGS:
                self.skip_depth -= 1
            elif tag == "a":
                self.link_depth -= 1
            del stack[-1]
            return
        if not self.open.get(tag):
            return  # stray closer
        i = len(stack) - 2
        while stack[i][0] != tag:
            i -= 1
        for t, _, _ in stack[i:]:
            self.open[t] -= 1
            if t in SKIP_TAGS:
                self.skip_depth -= 1
            elif t == "a":
                self.link_depth -= 1
        del stack[i:]

    # -- run/block bookkeeping --
    def _flush(self) -> None:
        if not self._parts:
            # nothing accumulated: no block can emit, just reset the
            # link counter (identical end state to the full path on
            # empty text)
            self._link_chars = 0
            return
        text = "".join(self._parts)
        if text and not text.isspace():
            self.n_candidates += 1
            if len(self.blocks) < self.max_candidates:
                self.blocks.append(Block(
                    block_id=len(self.blocks),
                    tag=self._ctx_tag,
                    boiler=self._ctx_boiler,
                    depth=self._ctx_depth,
                    pos=self._ctx_pos,
                    text_raw=text,
                    # non-ws char count at C speed; str.split() uses the
                    # same whitespace definition as str.isspace()
                    n_text_chars=sum(map(len, text.split())),
                    n_link_chars=self._link_chars,
                ))
        self._parts = []
        self._link_chars = 0

    def _new_ctx(self, tag: str) -> None:
        self._ctx_tag = tag
        self._ctx_boiler = self.stack[-1][1]
        self._ctx_depth = len(self.stack) - 1
        self._ctx_pos = self.pos

    def _reinherit_ctx(self) -> None:
        """After closing a block element, text that follows (the 'tail')
        belongs to the nearest enclosing block element still open."""
        block_i = self.stack[-1][2]
        if not block_i:
            self._new_ctx("body")
            return
        self._ctx_tag, self._ctx_boiler, _ = self.stack[block_i]
        self._ctx_depth = block_i
        self._ctx_pos = self.pos

    # -- HTMLParser hooks --
    def handle_starttag(self, tag, attrs):
        self.pos += 1
        if tag in VOID_TAGS:
            if tag in SPACING_VOIDS and not self.skip_depth:
                self._parts.append(" ")
            return
        # implied </head>: ANY non-head-allowed tag ends the head (a
        # skipped head would otherwise swallow the whole document).
        # Only when head is the SOLE open skip element — content nested
        # in template/svg/iframe stays dropped.
        if (self.skip_depth == 1 and tag not in HEAD_TAGS
                and self.open.get("head")):
            self._pop("head")
        self._push(tag)  # maintains skip_depth/link_depth
        if self.skip_depth:
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._new_ctx(tag)

    def handle_startendtag(self, tag, attrs):
        # <x/> — treat exactly like a void occurrence
        self.pos += 1
        if tag in SPACING_VOIDS and not self.skip_depth:
            self._parts.append(" ")

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        self._pop(tag)  # reconciles skip_depth/link_depth
        # gate on the POST-pop depth: an end tag that implicitly closes
        # a skip descendant (e.g. </div> over an unclosed <iframe>)
        # still ends its block here — checking before the pop merged
        # the tail text into the closed block
        if self.skip_depth:
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._reinherit_ctx()

    def handle_data(self, data):
        # bare text directly inside <head> implies </head> too (HTML5)
        if (data and self.skip_depth == 1 and not data.isspace()
                and self.open.get("head")):
            self._pop("head")
        if self.skip_depth or not data:
            return
        self._parts.append(data)
        if self.link_depth:
            self._link_chars += sum(map(len, data.split()))

    def close(self):
        super().close()
        self._flush()


# --- fast tokenizer (drives the SAME _Segmenter state machine) ---
#
# html.parser spends ~70% of segmentation time in its own goahead/
# parse_starttag/parse_endtag machinery (full attribute parsing we never
# use, per-token position bookkeeping). This tokenizer emits the same
# handler-call sequence for well-formed and commonly-malformed HTML with
# a str.find + anchored-regex loop — measured ~2.5x faster. The
# html.parser engine stays available (engine="ref") as the reference
# model, and tests/test_htmlseg_properties.py asserts block-for-block
# parity on the corpus and fuzzed inputs — the analog of the reference's
# server/mobile model pair, minus the accuracy loss
# (/root/reference/README.md:170-179).

import html as _html_mod

_RAWTEXT = ("script", "style")  # html.parser CDATA_CONTENT_ELEMENTS
# Pinned copies of html.parser's tolerant regexes (CPython 3.11) — NOT
# imported from the stdlib module: those are undocumented privates that
# security patches have reshaped before, and importing them would tie
# our parse semantics (and golden outputs) to whatever the host Python
# ships. The engine-parity property tests cross-check against the live
# html.parser and will surface any stdlib drift explicitly.
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
_ENDTAG_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
# marked-section machinery (parse_marked_section analogs)
_DECLNAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_CLOSE_RE = re.compile(r"]\s*]\s*>")
_MS_CLOSE_RE = re.compile(r"]\s*>")
_RAWTEXT_CLOSE = {t: re.compile(rf"</\s*{t}", re.IGNORECASE) for t in _RAWTEXT}
_RAWTEXT_END = {t: re.compile(rf"</\s*{t}\s*>", re.IGNORECASE) for t in _RAWTEXT}
# fast path: an attribute-less start tag '<name>' — by far the most
# common token in crawl HTML.  When this matches, _LOCATE_RE would
# consume exactly the name (no attr loop, no '/' among attrs) and
# _TAGFIND_RE would return the same name, so the two-regex slow path
# below is provably equivalent and can be skipped.
_SIMPLE_START_RE = re.compile(r"<([a-zA-Z][^\t\n\r\f />\x00]*)>")
_ASCII_ALPHA = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _fast_feed(seg: "_Segmenter", text: str) -> None:
    unescape = _html_mod.unescape
    data = seg.handle_data
    starttag = seg.handle_starttag
    endtag = seg.handle_endtag
    find = text.find
    i, n = 0, len(text)

    def incomplete(lt: int) -> int:
        # html.parser goahead rule for a construct with no terminator:
        # unescaped data from '<' through the next '>', else up to the
        # next '<' (excl., parsing resumes there), else one char
        k = find(">", lt + 1)
        if k < 0:
            k = find("<", lt + 1)
            if k < 0:
                k = lt + 1
        else:
            k += 1
        chunk = text[lt:k]
        data(unescape(chunk) if "&" in chunk else chunk)
        return k

    while i < n:
        lt = find("<", i)
        if lt < 0:
            chunk = text[i:]
            data(unescape(chunk) if "&" in chunk else chunk)
            break
        if lt > i:
            chunk = text[i:lt]
            data(unescape(chunk) if "&" in chunk else chunk)
        c = text[lt + 1:lt + 2]
        if c in _ASCII_ALPHA:  # starttagopen is ASCII-only
            ms = _SIMPLE_START_RE.match(text, lt)
            if ms is not None:
                # attribute-less '<name>': equivalent to the slow path
                # (see _SIMPLE_START_RE note), two regexes cheaper
                name = ms.group(1).lower()
                i = ms.end()
            else:
                # parse_starttag/check_for_whole_start_tag semantics via
                # the stdlib's own tolerant regexes, minus attr parsing
                m = _LOCATE_RE.match(text, lt)
                j = m.end()
                nxt = text[j:j + 1]
                if nxt == ">":
                    endpos = j + 1
                elif nxt == "/" and text.startswith("/>", j):
                    endpos = j + 2
                elif nxt == "" or nxt == "/" or nxt == "=" or (
                        nxt.isascii() and nxt.isalpha()):
                    # EOF mid-tag / mid-attr -> goahead incomplete rule
                    i = incomplete(lt)
                    continue
                else:  # bogus junk inside tag: raw data to j, resume
                    data(text[lt:j])
                    i = j
                    continue
                mt = _TAGFIND_RE.match(text, lt + 1)
                name = mt.group(1).lower()
                i = endpos
                if "/" in text[mt.end():endpos - 1]:
                    # a '/' among the attrs: parse_starttag decides
                    # between <x/>, <x a/ b> etc. by what the attr loop
                    # leaves over
                    k = mt.end()
                    while True:
                        ma = _ATTRFIND_RE.match(text, k)
                        if ma is None:
                            break
                        k = ma.end()
                    tail = text[k:endpos].strip()
                    if tail == "/>":
                        seg.handle_startendtag(name, [])
                        continue
                    if tail != ">":  # junk in start tag: raw data
                        data(text[lt:endpos])
                        continue
                # else: locate + attr loop consume identically -> '>'
            starttag(name, [])
            if name in _RAWTEXT:
                # rawtext: no tags, no charrefs until a *strict*
                # '</name>' close; a '</name junk>' stays content
                # (parse_endtag cdata_elem branch)
                scan = i
                while True:
                    mc = _RAWTEXT_CLOSE[name].search(text, scan)
                    if mc is None:
                        i = n  # unterminated rawtext swallows the rest
                        break
                    me = _RAWTEXT_END[name].match(text, mc.start())
                    if me is None:
                        scan = mc.start() + 2
                        continue
                    data(text[i:mc.start()])
                    endtag(name)
                    i = me.end()
                    break
        elif c == "/":
            m = _ENDTAG_RE.match(text, lt)
            if m is not None:  # well-formed '</name>' (the common case;
                # the regex requires '>', so no-'>' inputs fall through)
                endtag(m.group(1).lower())
                i = m.end()
                continue
            gt = find(">", lt + 1)
            if gt < 0:  # parse_endtag incomplete -> goahead rule
                i = incomplete(lt)
                continue
            nm = _TAGFIND_RE.match(text, lt + 2)
            if nm is not None:  # '</name junk>' closes name
                endtag(nm.group(1).lower())
                gt2 = find(">", nm.end())
                i = gt2 + 1 if gt2 >= 0 else n
            elif text.startswith("</>", lt):
                i = lt + 3
            else:  # bogus comment: swallowed to '>'
                i = gt + 1
        elif c == "!":
            if text.startswith("!--", lt + 1):
                e = find("-->", lt + 4)
                i = e + 3 if e >= 0 else incomplete(lt)
            elif text.startswith("![", lt + 1):
                # SGML marked section (parse_marked_section semantics):
                # known keywords close on ']\s*]\s*>' (or ']\s*>' for MS
                # conditionals), content dropped; a bad/unknown keyword
                # raises in html.parser -> the parse truncates here
                nm = _DECLNAME_RE.match(text, lt + 3)
                if nm is None:
                    if lt + 3 >= n:  # EOF right after '<![': incomplete
                        i = incomplete(lt)
                        continue
                    break  # non-name char: html.parser raises -> truncate
                if nm.end() >= n:  # keyword touches EOF: incomplete
                    i = incomplete(lt)
                    continue
                kw = nm.group().strip().lower()
                if kw in ("temp", "cdata", "ignore", "include", "rcdata"):
                    mc = _MARKED_CLOSE_RE.search(text, lt + 3)
                elif kw in ("if", "else", "endif"):
                    mc = _MS_CLOSE_RE.search(text, lt + 3)
                else:
                    break
                i = mc.end() if mc is not None else incomplete(lt)
            else:  # <!doctype ...> and friends
                gt = find(">", lt)
                i = gt + 1 if gt >= 0 else incomplete(lt)
        elif c == "?":  # processing instruction
            gt = find(">", lt)
            i = gt + 1 if gt >= 0 else incomplete(lt)
        else:  # bare '<' (incl. '<3', '< ', trailing '<'): literal data
            data("<")
            i = lt + 1


def segment_html(raw: bytes | None,
                 max_candidates: int = 1500,
                 max_html_bytes: int = 20 << 20,
                 sniff_bytes: int = 2048,
                 engine: str = "fast",
                 boiler_tags: tuple = DEFAULT_CONFIG.boiler_ancestors
                 ) -> SegmentResult:
    """One document -> candidate blocks. Never raises (F8/F9 analog:
    empty/broken input still yields a result row).

    engine: "fast" (regex tokenizer, production default) or "ref"
    (stdlib html.parser, the reference model both engines must match).
    boiler_tags: tags whose subtree marks a block `boiler`.
    """
    if raw is None:
        return SegmentResult([], 0, False, "null", False)
    oversized = len(raw) > max_html_bytes
    if oversized:
        raw = raw[:max_html_bytes]  # truncate guard-rail (F7/P6)
    text, charset = decode_html(raw, sniff_bytes)
    seg = _Segmenter(max_candidates, boiler_tags)
    try:
        if engine == "fast":
            _fast_feed(seg, text)
            seg._flush()
        else:
            seg.feed(text)
            seg.close()
    except Exception:
        # malformed beyond the tolerant parser: emit what we have
        seg._flush()
    return SegmentResult(
        blocks=seg.blocks,
        n_candidates=seg.n_candidates,
        truncated=seg.n_candidates > len(seg.blocks),
        charset=charset,
        oversized=oversized,
    )
