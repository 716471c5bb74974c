"""U1 — the Arrow-batched extraction kernel (SURVEY.md §2.9).

Web analog of the reference's tree-sitter extractor
(/root/reference/src/extractor.rs:53-301): a pure function of the page
bytes that emits typed mentions — DEF (canonical entity), REF (mention),
IMPORT (outlink), NAMESPACE (boilerplate section) — with byte-offset
identity anchors, wrapped in ``mapInPandas`` so Python only ever touches
Arrow record batches (never row-at-a-time).

Determinism contract (BASELINE.md "per-row invariant"): ``extract_text``
and ``extract_page`` are pure functions of (url, html); the extracted text
is byte-identical per url across runs/partitionings — pinned by golden
tests in tests/test_extract.py.

Grammar (regex-based; the reference's per-language tree-sitter rule files
src/rule.rs:42-252 play this role for code):
  <title>X</title>                  → DEF  (the page's canonical entity)
  <a href="U">                      → IMPORT (outlink, quote-trimmed — F12)
  <nav>/<footer>/<script>/<style>   → NAMESPACE block (and excluded from text)
  Capitalized tokens in body text   → REF  (entity mentions), possibly
                                      dot-qualified (Sol.Albedo)
Offsets are char offsets into the decoded html (the corpus is UTF-8; the
reference's byte offsets serve the same identity-anchor role,
src/symbol.rs:130-132).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTIONS_SCHEMA = (
    "url string, name string, kind string, start_byte long, end_byte long, "
    "start_row long, start_col long, end_row long, end_col long"
)

_BLOCK_RE = re.compile(
    r"<(nav|footer|script|style)\b[^>]*>.*?</\1>", re.DOTALL | re.IGNORECASE
)
_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.DOTALL | re.IGNORECASE)
_HREF_RE = re.compile(r"""<a\s[^>]*href=(["'])(.*?)\1""", re.DOTALL | re.IGNORECASE)
_TAG_RE = re.compile(r"<[^>]*>")
_HEAD_RE = re.compile(r"<head\b[^>]*>.*?</head>", re.DOTALL | re.IGNORECASE)
_ENTITY_RE = re.compile(r"\b[A-Z][A-Za-z0-9]+(?:\.[A-Z][A-Za-z0-9]+)*\b")


def extract_text(html: bytes) -> str | None:
    """Boilerplate-stripped text — pure, deterministic, byte-identical per
    input. Non-UTF-8 pages are skipped (S2 analog, ref graph.rs:279-285).
    Tags/blocks are replaced by a single space each; whitespace is NOT
    collapsed (keeps the function trivially auditable)."""
    try:
        s = html.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return None
    s = _BLOCK_RE.sub(" ", s)
    s = _HEAD_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    return s


def _row_col(s: str, pos: int) -> tuple[int, int]:
    row = s.count("\n", 0, pos)
    col = pos - (s.rfind("\n", 0, pos) + 1)
    return row, col


def _trim_to_span(raw: str, start: int, *stages):
    """Apply ``str.strip`` stages in order (None = whitespace) and return
    (trimmed, a, b) with offsets adjusted to the KEPT region — the
    package-wide offset-identity contract: every emitted (start, end)
    must slice the name out of the source byte-exactly (pinned by the
    tests' offsets-anchor asserts; the text/csv/yaml profiles already
    adjusted, the title/link sites historically did not — found by the
    all-profiles fuzz on a '<title>a\\r\\n</title>' page)."""
    t = raw
    a = start
    for chars in stages:
        a += len(t) - len(t.lstrip(chars))
        t = t.strip(chars)
    return t, a, a + len(t)


def extract_page(url: str, html: bytes) -> list[tuple]:
    """One page → mention rows. Pure; reused by the golden tests."""
    try:
        s = html.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return []
    out: list[tuple] = []
    blocked: list[tuple[int, int]] = []

    for m in _BLOCK_RE.finditer(s):
        blocked.append(m.span())
        tag = m.group(1).lower()
        if tag in ("nav", "footer"):
            r0, c0 = _row_col(s, m.start())
            r1, c1 = _row_col(s, m.end())
            out.append((url, tag, "NAMESPACE", m.start(), m.end(), r0, c0, r1, c1))

    title_span = None
    tm = _TITLE_RE.search(s)
    if tm:
        name, a, b = _trim_to_span(tm.group(1), tm.start(1), None)
        if name:
            title_span = tm.span(1)  # coverage region stays the raw span
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, b)
            out.append((url, name, "DEF", a, b, r0, c0, r1, c1))

    for hm in _HREF_RE.finditer(s):
        # F12 quote/bracket trim, offsets tracking the kept region
        link, a, b = _trim_to_span(hm.group(2), hm.start(2), "\"'<>")
        if link:
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, b)
            out.append((url, link, "IMPORT", a, b, r0, c0, r1, c1))

    head_span = None
    hm2 = _HEAD_RE.search(s)
    if hm2:
        head_span = hm2.span()

    def in_blocked(a: int, b: int) -> bool:
        if title_span and a >= title_span[0] and b <= title_span[1]:
            return True
        if head_span and a >= head_span[0] and b <= head_span[1]:
            return True
        for (x, y) in blocked:
            if a < y and b > x:
                return True
        return False

    for em in _ENTITY_RE.finditer(s):
        a, b = em.span()
        if in_blocked(a, b):
            continue
        # skip matches inside tags (attribute values, tag names)
        lt = s.rfind("<", 0, a)
        gt = s.rfind(">", 0, a)
        if lt > gt:
            continue
        r0, c0 = _row_col(s, a)
        r1, c1 = _row_col(s, b)
        out.append((url, em.group(0), "REF", a, b, r0, c0, r1, c1))
    return out


# --------------------------------------------------------------------------
# Markdown profile — second grammar behind the F1 dispatch seam (the
# reference dispatches 14 per-language rule sets by extension,
# /root/reference/src/rule.rs:42-252, chosen in graph.rs:117-146; we
# dispatch per-url inside the same Arrow kernel):
#   # Heading (first ATX)      → DEF  (the page's canonical entity)
#   [label](target)            → IMPORT (the link target)
#   ``` fenced code blocks ``` → NAMESPACE (excluded from REF scan).
#       NOTE: this is the package's ONE region-marker mention — its name
#       is the synthetic label 'code' and its offsets delimit the fence,
#       so it is exempt from the byte-identity contract every other
#       mention honors (pinned in tests: the span must still start and
#       end with the fence backticks).
#   Capitalized tokens in body → REF
# --------------------------------------------------------------------------
_MD_FENCE_RE = re.compile(r"```.*?```", re.DOTALL)
_MD_HEAD_RE = re.compile(r"^#{1,6}[ \t]+(.+?)[ \t]*$", re.MULTILINE)
_MD_LINK_RE = re.compile(r"\[([^\]\n]*)\]\(([^)\n]+)\)")


def extract_page_md(url: str, blob: bytes) -> list[tuple]:
    """One markdown page → mention rows. Pure; same output contract as
    extract_page (the html profile)."""
    try:
        s = blob.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return []
    out: list[tuple] = []
    blocked: list[tuple[int, int]] = []

    for fm in _MD_FENCE_RE.finditer(s):
        blocked.append(fm.span())
        r0, c0 = _row_col(s, fm.start())
        r1, c1 = _row_col(s, fm.end())
        out.append((url, "code", "NAMESPACE", fm.start(), fm.end(), r0, c0, r1, c1))

    title_span = None
    for hm in _MD_HEAD_RE.finditer(s):
        if any(hm.start() < y and hm.end() > x for (x, y) in blocked):
            continue
        name, a, b = _trim_to_span(hm.group(1), hm.start(1), None)
        if name:
            title_span = hm.span(1)
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, b)
            out.append((url, name, "DEF", a, b, r0, c0, r1, c1))
        break  # first heading is the page entity (title analog)

    link_spans: list[tuple[int, int]] = []
    for lm in _MD_LINK_RE.finditer(s):
        if any(lm.start() < y and lm.end() > x for (x, y) in blocked):
            continue
        link_spans.append(lm.span())
        # F12 trim, offsets tracking the kept region
        target, a, b = _trim_to_span(lm.group(2), lm.start(2), None, "\"'<>")
        if target:
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, b)
            out.append((url, target, "IMPORT", a, b, r0, c0, r1, c1))

    def covered(a: int, b: int) -> bool:
        if title_span and a >= title_span[0] and b <= title_span[1]:
            return True
        return any(a < y and b > x for (x, y) in blocked + link_spans)

    for em in _ENTITY_RE.finditer(s):
        a, b = em.span()
        if covered(a, b):
            continue
        r0, c0 = _row_col(s, a)
        r1, c1 = _row_col(s, b)
        out.append((url, em.group(0), "REF", a, b, r0, c0, r1, c1))
    return out


# --------------------------------------------------------------------------
# Plain-text profile — the third grammar, for the common-crawl reality of
# extensionless urls serving non-markup text (the reference skips files
# with no matching rule set, graph.rs:117-146; on the web "no extension"
# is the NORM, so we dispatch by content instead of dropping the page):
#   first non-empty line            → DEF  (the page's canonical entity)
#   bare http(s):// urls            → IMPORT
#   Capitalized tokens elsewhere    → REF
# --------------------------------------------------------------------------
_TXT_URL_RE = re.compile(r"\bhttps?://[^\s<>\"')\]]+")


def extract_page_txt(url: str, blob: bytes) -> list[tuple]:
    """One plain-text page → mention rows. Pure; same output contract as
    extract_page (html) and extract_page_md."""
    try:
        s = blob.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return []
    out: list[tuple] = []

    title_span = None
    pos = 0
    for line in s.split("\n"):
        stripped = line.strip()
        if stripped:
            a = pos + line.index(stripped[0])
            b = a + len(stripped)
            title_span = (a, b)
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, b)
            out.append((url, stripped, "DEF", a, b, r0, c0, r1, c1))
            break
        pos += len(line) + 1

    link_spans: list[tuple[int, int]] = []
    for lm in _TXT_URL_RE.finditer(s):
        target = lm.group(0).rstrip(".,;:")  # trailing-punct trim (F12 analog)
        a, b = lm.start(), lm.start() + len(target)
        if title_span and a >= title_span[0] and b <= title_span[1]:
            continue
        link_spans.append((a, b))
        r0, c0 = _row_col(s, a)
        r1, c1 = _row_col(s, b)
        out.append((url, target, "IMPORT", a, b, r0, c0, r1, c1))

    def covered(a: int, b: int) -> bool:
        if title_span and a >= title_span[0] and b <= title_span[1]:
            return True
        return any(a < y and b > x for (x, y) in link_spans)

    for em in _ENTITY_RE.finditer(s):
        a, b = em.span()
        if covered(a, b):
            continue
        r0, c0 = _row_col(s, a)
        r1, c1 = _row_col(s, b)
        out.append((url, em.group(0), "REF", a, b, r0, c0, r1, c1))
    return out


# --------------------------------------------------------------------------
# JSON profile — fourth grammar behind the F1 dispatch (API responses and
# JSON-LD are a real slice of any web corpus). Regex-scanned, not
# json.loads: the parse must keep byte offsets for every mention (the
# per-row identity anchor) and must not throw on the malformed JSON the
# crawl will contain.
#   "title"|"name"|"@id": "v" (first)  → DEF  (the object's entity)
#   string values matching https?://   → IMPORT
#   object keys                        → NAMESPACE (structural names,
#                                        excluded from the REF scan)
#   Capitalized tokens in other string VALUES → REF
# --------------------------------------------------------------------------
_JSON_KEY_RE = re.compile(r'"([A-Za-z_@][A-Za-z0-9_@.-]*)"\s*:')
_JSON_PAIR_RE = re.compile(r'"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"')
_JSON_DEF_KEYS = ("title", "name", "@id")


def extract_page_json(url: str, blob: bytes) -> list[tuple]:
    """One JSON page → mention rows. Pure; same output contract as the
    html/markdown/text profiles."""
    try:
        s = blob.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return []
    out: list[tuple] = []

    for km in _JSON_KEY_RE.finditer(s):
        r0, c0 = _row_col(s, km.start(1))
        r1, c1 = _row_col(s, km.end(1))
        out.append((url, km.group(1), "NAMESPACE",
                    km.start(1), km.end(1), r0, c0, r1, c1))

    def_span = None
    covered_spans: list[tuple[int, int]] = []
    ref_values: list[tuple[int, str]] = []
    for pm in _JSON_PAIR_RE.finditer(s):
        key, val = pm.group(1), pm.group(2)
        a, b = pm.span(2)
        if def_span is None and key in _JSON_DEF_KEYS and val.strip():
            name, a2, b2 = _trim_to_span(val, a, None)
            def_span = (a, b)  # coverage region stays the raw span
            r0, c0 = _row_col(s, a2)
            r1, c1 = _row_col(s, b2)
            out.append((url, name, "DEF", a2, b2, r0, c0, r1, c1))
        elif val.startswith(("http://", "https://")):
            target = val.rstrip(".,;:")  # F12 trailing-punct trim
            covered_spans.append((a, b))
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, a + len(target))
            out.append((url, target, "IMPORT", a, a + len(target), r0, c0, r1, c1))
        else:
            ref_values.append((a, val))

    for base, val in ref_values:
        for em in _ENTITY_RE.finditer(val):
            a, b = base + em.start(), base + em.end()
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, b)
            out.append((url, em.group(0), "REF", a, b, r0, c0, r1, c1))
    return out


# --------------------------------------------------------------------------
# XML/RSS profile — fifth grammar behind the F1 dispatch (feeds, sitemaps
# and API XML are the next real corpus slice after html/md/text/json; the
# reference's rule table spans 14 languages, src/rule.rs:42-252). Regex-
# scanned like the JSON profile: offsets are the identity anchor and real
# feeds are routinely malformed.
#   first <title>…</title>           → DEF  (channel/item entity)
#   <link>URL</link>, href="…" attrs → IMPORT (F12 quote trim)
#   element tag names                → NAMESPACE (structural names,
#                                      excluded from the REF scan)
#   Capitalized tokens in text content → REF
# --------------------------------------------------------------------------
# [^<]* (not lazy DOTALL .*?): a self-closing/unclosed <link> followed by
# a later real </link> must not swallow the markup in between as one
# garbage IMPORT (real feeds are routinely malformed)
_XML_LINK_RE = re.compile(r"<link[^>]*>([^<]*)</link>", re.IGNORECASE)
_XML_HREF_RE = re.compile(r"""\bhref=(["'])(.*?)\1""", re.IGNORECASE)
_XML_TAGNAME_RE = re.compile(r"<([A-Za-z_][A-Za-z0-9_.:-]*)")


def extract_page_xml(url: str, blob: bytes) -> list[tuple]:
    """One XML/RSS page → mention rows. Pure; same output contract as the
    html/markdown/text/json profiles."""
    try:
        s = blob.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return []
    out: list[tuple] = []

    for nm in _XML_TAGNAME_RE.finditer(s):
        r0, c0 = _row_col(s, nm.start(1))
        r1, c1 = _row_col(s, nm.end(1))
        out.append((url, nm.group(1), "NAMESPACE",
                    nm.start(1), nm.end(1), r0, c0, r1, c1))

    title_span = None
    tm = _TITLE_RE.search(s)
    if tm:
        name, a, b = _trim_to_span(tm.group(1), tm.start(1), None)
        if name:
            title_span = tm.span(1)  # coverage region stays the raw span
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, b)
            out.append((url, name, "DEF", a, b, r0, c0, r1, c1))

    link_spans: list[tuple[int, int]] = []
    for lm in _XML_LINK_RE.finditer(s):
        # F12 trim, offsets tracking the kept region
        target, a, b = _trim_to_span(lm.group(1), lm.start(1), None, "\"'<>")
        if target:
            link_spans.append(lm.span(1))
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, b)
            out.append((url, target, "IMPORT", a, b, r0, c0, r1, c1))
    for hm in _XML_HREF_RE.finditer(s):
        target, a, b = _trim_to_span(hm.group(2), hm.start(2), None, "\"'<>")
        if target:
            link_spans.append(hm.span(2))
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, b)
            out.append((url, target, "IMPORT", a, b, r0, c0, r1, c1))

    def covered(a: int, b: int) -> bool:
        if title_span and a >= title_span[0] and b <= title_span[1]:
            return True
        return any(a < y and b > x for (x, y) in link_spans)

    for em in _ENTITY_RE.finditer(s):
        a, b = em.span()
        if covered(a, b):
            continue
        # skip matches inside tags (attribute values, tag names)
        lt = s.rfind("<", 0, a)
        gt = s.rfind(">", 0, a)
        if lt > gt:
            continue
        r0, c0 = _row_col(s, a)
        r1, c1 = _row_col(s, b)
        out.append((url, em.group(0), "REF", a, b, r0, c0, r1, c1))
    return out


# --------------------------------------------------------------------------
# CSV/TSV profile — sixth grammar behind the F1 dispatch (data tables are
# the remaining common corpus slice after html/md/text/json/xml). Line-
# oriented, delimiter-sniffed (tab if the header line contains one, else
# comma), no quoted-cell handling — a regex-grade best-effort like the
# other profiles (real crawl CSVs are routinely malformed; offsets stay
# exact because cells are scanned in place, never re-assembled).
#   header-line cells                  → NAMESPACE (column names)
#   first cell of the first data row   → DEF (the table's lead entity)
#   http(s):// cells                   → IMPORT (F12 trailing-punct trim)
#   Capitalized tokens in data cells   → REF
# --------------------------------------------------------------------------
def extract_page_csv(url: str, blob: bytes) -> list[tuple]:
    """One CSV/TSV page → mention rows. Pure; same output contract as the
    other profiles."""
    try:
        s = blob.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return []
    out: list[tuple] = []

    def emit(name: str, kind: str, a: int, b: int) -> None:
        r0, c0 = _row_col(s, a)
        r1, c1 = _row_col(s, b)
        out.append((url, name, kind, a, b, r0, c0, r1, c1))

    delim = None
    header_done = False
    def_done = False
    pos = 0
    for line in s.split("\n"):
        if line.strip():
            if delim is None:
                delim = "\t" if "\t" in line else ","
            cell_start = pos
            is_header = not header_done
            first_cell = True
            for cell in line.split(delim):
                cs = cell.strip()
                if cs:
                    a = cell_start + (len(cell) - len(cell.lstrip()))
                    b = a + len(cs)
                    if is_header:
                        emit(cs, "NAMESPACE", a, b)
                    elif first_cell and not def_done:
                        emit(cs, "DEF", a, b)
                        def_done = True
                    elif cs.startswith(("http://", "https://")):
                        target = cs.rstrip(".,;:")  # F12 trim
                        emit(target, "IMPORT", a, a + len(target))
                    else:
                        for em in _ENTITY_RE.finditer(cs):
                            emit(em.group(0), "REF", a + em.start(), a + em.end())
                first_cell = False
                cell_start += len(cell) + 1
            header_done = True
        pos += len(line) + 1
    return out


# --------------------------------------------------------------------------
# YAML / INI-TOML profiles — seventh and eighth grammars behind the F1
# dispatch (config-ish text: front-matter, manifests, dotfiles published
# on the web; the reference's rule table spans 14 per-language sets,
# src/rule.rs:42-252). Same line-scanned shape as the CSV profile:
#   top-level keys / [section] headers   → NAMESPACE (structural names)
#   first title:/name: (title=/name=) value → DEF (the page entity)
#   http(s) values                        → IMPORT (F12 trailing trim)
#   Capitalized tokens in other values    → REF
# --------------------------------------------------------------------------
_YAML_KEY_RE = re.compile(r"^(\s*)([A-Za-z_][A-Za-z0-9_.-]*):\s?(.*)$")
_YAML_ITEM_RE = re.compile(r"^\s*-\s+(.*)$")
_INI_SECTION_RE = re.compile(r"^\s*\[([A-Za-z_][A-Za-z0-9_.:-]*)\]")
_INI_PAIR_RE = re.compile(r"^(\s*)([A-Za-z_][A-Za-z0-9_.-]*)\s*=\s*(.*)$")
_KV_DEF_KEYS = ("title", "name")
# Block-scalar introducers: |/> with optional chomp (+/-) and explicit
# indentation indicator (1-9), in either order (``|2``, ``>+1``, ``|2+``
# are all valid YAML headers) — r6 ADVICE replaced the fixed six-tuple,
# which missed every header carrying an explicit indent digit. The digit
# class is [1-9]: YAML's indentation indicator excludes 0, so a plain
# scalar value ``|0`` / ``>0`` must NOT be taken as a block introducer
# (r7 ADVICE — it would swallow the following indented lines).
_YAML_BLOCK_INTRO_RE = re.compile(r"^[|>](?:[1-9][+-]?|[+-][1-9]?)?$")


def _strip_inline_comment(val: str, markers: tuple[str, ...]) -> str:
    """Cut a trailing inline comment (`` # note`` / `` ; note``) off a
    config value before routing it, so comment prose never emits
    REF/IMPORT mentions (r5 ADVICE). Markers inside ANY quoted span are
    literal — the scan carries full quote state (r6 ADVICE; the old
    guard only skipped one LEADING quoted span, so a marker inside a
    later quoted segment silently dropped the quoted content). A quote
    opens only at a token boundary (start / after whitespace or
    ``=:([{,``) so apostrophes inside prose stay literal; an
    unterminated quote leaves the value untouched rather than guessing."""
    vs = val.lstrip()
    if vs.startswith(tuple(m.strip() for m in markers)):
        return ""  # the whole value is a comment (``key: # note``)
    q = ""
    for i, c in enumerate(val):
        if q:
            if c == q:
                q = ""
        elif c in "'\"" and (i == 0 or val[i - 1].isspace()
                             or val[i - 1] in "=:([{,"):
            q = c
        else:
            for m in markers:
                if val.startswith(m, i):
                    return val[:i]
    return val


def _emit_kv_value(out, url, s, key, val, vstart, def_done):
    """Shared DEF/IMPORT/REF routing for one key's scalar value (YAML and
    INI agree on it). Returns whether a DEF has now been emitted."""

    def emit(name, kind, a, b):
        r0, c0 = _row_col(s, a)
        r1, c1 = _row_col(s, b)
        out.append((url, name, kind, a, b, r0, c0, r1, c1))

    v = val.strip()
    if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
        inner = v[1:-1]
        # advance past the quote AND any inner padding so (start, end)
        # still slices the emitted name out of the blob byte-exactly
        vstart += 1 + (len(inner) - len(inner.lstrip()))
        v = inner.strip()  # F12 quote trim
    if not v:
        return def_done
    if not def_done and key in _KV_DEF_KEYS:
        emit(v, "DEF", vstart, vstart + len(v))
        return True
    if v.startswith(("http://", "https://")):
        target = v.rstrip(".,;:")  # F12 trailing-punct trim
        emit(target, "IMPORT", vstart, vstart + len(target))
        return def_done
    for em in _ENTITY_RE.finditer(v):
        emit(em.group(0), "REF", vstart + em.start(), vstart + em.end())
    return def_done


def extract_page_yaml(url: str, blob: bytes) -> list[tuple]:
    """One YAML page → mention rows. Pure; same output contract as the
    other profiles. Top-level (indent-0) keys are NAMESPACE rows; nested
    keys and list items contribute only their values. Inline `` #``
    comments are stripped before routing, and lines inside block scalars
    (``key: |`` / ``key: >``) are literal content, not keys — neither
    emits mentions (r5 ADVICE)."""
    try:
        s = blob.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return []
    out: list[tuple] = []
    def_done = False
    pos = 0
    block_indent = None  # inside a |/> block scalar: skip deeper lines
    for line in s.split("\n"):
        if block_indent is not None:
            if not line.strip():
                pos += len(line) + 1
                continue
            if len(line) - len(line.lstrip()) > block_indent:
                pos += len(line) + 1
                continue
            block_indent = None
        km = _YAML_KEY_RE.match(line)
        if km:
            indent, key, val = km.group(1), km.group(2), km.group(3)
            if not indent and line.strip() != "---":
                a = pos + km.start(2)
                r0, c0 = _row_col(s, a)
                r1, c1 = _row_col(s, a + len(key))
                out.append((url, key, "NAMESPACE", a, a + len(key),
                            r0, c0, r1, c1))
            val = _strip_inline_comment(val, (" #",))
            if _YAML_BLOCK_INTRO_RE.match(val.strip()):
                block_indent = len(indent)
            else:
                vstart = pos + km.start(3) + (len(val) - len(val.lstrip()))
                def_done = _emit_kv_value(
                    out, url, s, key, val, vstart, def_done)
        else:
            im = _YAML_ITEM_RE.match(line)
            if im:
                val = _strip_inline_comment(im.group(1), (" #",))
                vstart = pos + im.start(1)
                def_done = _emit_kv_value(
                    out, url, s, "", val, vstart, def_done
                )
        pos += len(line) + 1
    return out


def extract_page_ini(url: str, blob: bytes) -> list[tuple]:
    """One INI/TOML page → mention rows. Pure; same output contract as
    the other profiles. ``[section]`` headers (dotted TOML tables too)
    are NAMESPACE rows; ``;``/``#`` comment lines are skipped, and
    inline `` ; note`` / `` # note`` value comments are stripped before
    routing (full quote-state scan — r5/r6 ADVICE)."""
    try:
        s = blob.decode("utf-8")
    except (UnicodeDecodeError, AttributeError):
        return []
    out: list[tuple] = []
    def_done = False
    pos = 0
    for line in s.split("\n"):
        stripped = line.lstrip()
        if stripped.startswith((";", "#")):
            pos += len(line) + 1
            continue
        sm = _INI_SECTION_RE.match(line)
        if sm:
            a = pos + sm.start(1)
            r0, c0 = _row_col(s, a)
            r1, c1 = _row_col(s, sm.end(1) + pos)
            out.append((url, sm.group(1), "NAMESPACE", a, pos + sm.end(1),
                        r0, c0, r1, c1))
        else:
            pm = _INI_PAIR_RE.match(line)
            if pm:
                key = pm.group(2)
                val = _strip_inline_comment(pm.group(3), (" ;", " #"))
                vstart = pos + pm.start(3)
                def_done = _emit_kv_value(out, url, s, key, val, vstart, def_done)
        pos += len(line) + 1
    return out


# canonical profile name per extension; any other extension falls back to
# the html grammar (named so the fallback is countable — see
# profile_counts)
_EXT_PROFILE = {
    "csv": "csv",
    "tsv": "csv",
    "md": "md",
    "markdown": "md",
    "txt": "text",
    "text": "text",
    "json": "json",
    "jsonld": "json",
    "xml": "xml",
    "rss": "xml",
    "atom": "xml",
    "yml": "yaml",
    "yaml": "yaml",
    "ini": "ini",
    "toml": "ini",
    "cfg": "ini",
    "conf": "ini",
}

_PROFILE_FNS = {
    "csv": extract_page_csv,
    "md": extract_page_md,
    "text": extract_page_txt,
    "json": extract_page_json,
    "xml": extract_page_xml,
    "yaml": extract_page_yaml,
    "ini": extract_page_ini,
    "html": extract_page,
}


def profile_name_of(url: str, blob: bytes | None = None) -> str:
    """The grammar-profile NAME the dispatch selects for (url, blob) —
    the single source of truth behind both :func:`profile_of` (which maps
    it to a kernel) and :func:`profile_counts` (which aggregates it for
    visibility). Sniffed selections carry a ``sniff:`` prefix so a flood
    of unknown extensionless content through the text grammar is
    distinguishable from genuinely .txt-labeled pages."""
    tail = url.split("?", 1)[0].split("#", 1)[0].rsplit("/", 1)[-1]
    ext = tail.rsplit(".", 1)[-1].lower() if "." in tail else ""
    if ext:
        return _EXT_PROFILE.get(ext, "html")
    if blob is not None:
        # the page column may surface as str (string-typed corpora) or
        # any bytes-like (binary parquet, Arrow buffers) — both must
        # sniff for real, not silently tally as sniff:text (r5 ADVICE)
        if isinstance(blob, str):
            head = blob[:256].lstrip()
        else:
            try:
                head = bytes(blob[:256]).decode("utf-8", "ignore").lstrip()
            except (TypeError, ValueError):
                head = ""
        if head.startswith(("<?xml", "<rss", "<feed")):
            return "sniff:xml"
        if head.startswith("<"):
            return "sniff:html"
        if head.startswith(("{", "[")):
            return "sniff:json"
        return "sniff:text"
    return "html"


def profile_of(url: str, blob: bytes | None = None):
    """F1 extension dispatch (ref rule.rs:42-252 / graph.rs:117-146): pick
    the grammar by the url's *path* extension; html is the default profile
    for extension-bearing urls. Query strings and fragments are stripped
    first ('page.md?v=2', 'page.md#top' → md), mirroring the reference's
    path-based dispatch.

    Extensionless urls (the common-crawl norm) sniff the content when the
    blob is available: a leading '<' means markup (html profile), '{' or
    '[' means JSON, anything else gets the plain-text grammar. The sniff
    is a pure function of the first 256 bytes — deterministic per
    (url, blob)."""
    name = profile_name_of(url, blob)
    return _PROFILE_FNS[name.split(":", 1)[-1]]


def profile_counts(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) → (profile, n_pages): how many pages each
    grammar profile would claim, with sniffed selections kept distinct
    (``sniff:text`` etc.).

    This is the dispatch-visibility counter the reference gets for free
    from its per-language rule sets (ref graph.rs:117-146): an unknown
    binary-ish format silently flowing through the text grammar shows up
    here as a ``sniff:text`` spike instead of vanishing. The sniff needs
    only each page's first 256 bytes, so the blob is TRUNCATED before
    the Arrow boundary (shipping whole multi-KB pages into Python just
    to sniff heads would be a second full-corpus transfer per run);
    counts combine map-side (one Counter per Arrow batch), so the
    shuffle is #profiles × #partitions tiny rows. The counters of record
    need no second read: ``lineage.materialize_triples`` counts the
    kernel's PROFILE sentinel rows (``extract_mentions(emit_profile_rows=
    True)``) in the extraction job itself; this standalone job is their
    oracle twin."""
    import collections

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: collections.Counter = collections.Counter()
        for pdf in batches:
            for url, head in zip(pdf["url"], pdf["head"]):
                counts[profile_name_of(url, head)] += 1
        yield pd.DataFrame(
            {"profile": list(counts), "n": list(counts.values())}
        )

    return (
        pages.select("url", F.substring("html", 1, 256).alias("head"))
        .mapInPandas(run, "profile string, n long")
        .groupBy("profile")
        .agg(F.sum("n").alias("n_pages"))
    )


ALL_MENTION_COLS = (
    "url", "name", "kind", "start_byte", "end_byte",
    "start_row", "start_col", "end_row", "end_col",
)


def extract_mentions(
    pages: DataFrame,
    columns: tuple[str, ...] = ALL_MENTION_COLS,
    emit_profile_rows: bool = False,
) -> DataFrame:
    """pages(url, html, ...) → mentions via Arrow-batched mapInPandas.

    Embarrassingly parallel over page partitions — the Spark analog of the
    reference's rayon par_iter (graph.rs:217). Column pruning keeps only
    (url, html) flowing INTO Python; ``columns`` prunes the flow OUT —
    Catalyst cannot push projection through a mapInPandas boundary, so a
    caller that only needs (url, name, kind, start_byte) should say so
    (halves the Arrow transfer volume).

    Output frames are built column-wise: per-row tuple assembly allocates
    9 boxed objects per mention and dominates the kernel at scale.

    ``emit_profile_rows`` appends one sentinel row per page —
    (url, name=<profile>, kind='PROFILE', offsets=-1) — to the kernel
    output. Because these rows flow through the deterministic dataflow
    (a retried task regenerates identical rows; only one task commit
    wins), counting them downstream is exactly-once, where an
    accumulator tally would double-count a retried task. Downstream
    stages filter on kind ∈ {DEF, REF, IMPORT, ...}, so the sentinels
    drop out of every graph path untouched.
    """
    col_idx = [ALL_MENTION_COLS.index(c) for c in columns]
    schema = ", ".join(
        f"{c} string" if c in ("url", "name", "kind") else f"{c} long"
        for c in columns
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                name = profile_name_of(url, html)
                if emit_profile_rows:
                    rows.append(
                        (url, name, "PROFILE", -1, -1, -1, -1, -1, -1))
                rows.extend(_PROFILE_FNS[name.split(":", 1)[-1]](url, html))
            if rows:
                transposed = list(zip(*rows))  # C-level transpose
                yield pd.DataFrame(
                    {c: transposed[j] for c, j in zip(columns, col_idx)}
                )
            else:
                yield pd.DataFrame({c: [] for c in columns})

    return pages.select("url", "html").mapInPandas(run, schema)


def triples_of(mentions: DataFrame) -> DataFrame:
    """mentions(url, name, kind, start_byte, ...) → the extraction triples
    (subj, pred, obj, url, start_byte), the pipeline's output contract
    (the reference emits its symbols from one function too,
    extractor.rs:209-298).

    A page's DEF names are its subjects. Each distinct REF name on the
    page is a ``mentions`` object and each IMPORT target a ``links_to``
    object, anchored at its first occurrence (min start_byte); an object
    equal to its subject is dropped. Other kinds (NAMESPACE, PROFILE
    sentinels) never reach the output. The table is read twice (subject
    and object branches): a caller passing the kernel's output straight
    in should cache it first, or the kernel runs once per branch."""
    subj = mentions.filter(F.col("kind") == "DEF").select(
        "url", F.col("name").alias("subj"))
    objs = (
        mentions.filter(F.col("kind").isin("REF", "IMPORT"))
        .groupBy("url", F.col("name").alias("obj"),
                 F.when(F.col("kind") == "REF", F.lit("mentions"))
                 .otherwise(F.lit("links_to")).alias("pred"))
        .agg(F.min("start_byte").alias("start_byte"))
    )
    return (
        objs.join(subj, "url").filter(F.col("obj") != F.col("subj"))
        .select("subj", "pred", "obj", "url", "start_byte")
    )


def page_symbol_limit(mentions: DataFrame, limit: int = 4096) -> DataFrame:
    """F5: drop whole pages yielding >= limit mentions (ref graph.rs:293)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url")
    return (
        mentions.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") < limit)
        .drop("_n")
    )
