"""Pure-Python reference semantics for dbpedia/quad-processor-util.

This module reimplements, from the reference's observable behavior, the
scalar semantics the engine must reproduce:

- N-Triples/N-Quads line parsing        (ref: Quad.scala:189-265, `Quad.unapply`)
- Turtle/NT escape + unescape           (ref: utils/TurtleUtils.scala:51-140)
- lenient URI percent-decode            (ref: uri/UriDecoder.java:41-102)
- wikiEncode / cleanSpace               (ref: utils/WikiUtil.scala:26-31,56-102)
- DBpedia IRI minting                   (ref: utils/UriUtils.scala:61-138)
- N-Triples/N-Quads formatting          (ref: formatters/TerseBuilder.scala:10-82)
- 5-field quad identity                 (ref: Quad.scala:79-93,114-124)
- mention detection w/ overlap policies (ref: solr/SolrHandler.java:367-512)
- relation extraction over transcripts  (the pipeline's extraction semantics)
- union-find canonicalization oracle    (ref: solr/SolrLoader.scala:41-84,176-197)

Everything here is plain Python over plain strings so the very same functions
run (a) inside vectorized pandas UDFs on executors and (b) inside pytest as
the oracle — parity is structural, not coincidental (SURVEY.md §5, Stage 2).

NO Spark imports in this module.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
DBR = "http://dbpedia.org/resource/"
EX = "http://example.org/ontology/"

# the quad table's column order — THE one definition (this module is
# Spark-free, so both functions/nt.py and the executor-side
# plans/extract_vec.py can import it without pulling pyspark; two
# hand-copied lists could drift and silently misalign a mapInPandas
# schema — round-4 review finding)
QUAD_FIELDS = ["subject", "predicate", "obj", "datatype", "language",
               "graph", "dataset"]

# ---------------------------------------------------------------------------
# Turtle / N-Triples escaping (ref: utils/TurtleUtils.scala:100-140)
# ---------------------------------------------------------------------------

_NT_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def nt_escape(s: str, turtle: bool = False) -> str:
    """Escape a literal for N-Triples output.

    N-Triples mode (turtle=False): backslash-family escapes plus \\uXXXX /
    \\UXXXXXXXX for every char above 0x7E. Turtle mode keeps non-ASCII raw.
    (ref: TurtleUtils.scala:100-140)
    """
    out = []
    for ch in s:
        esc = _NT_ESCAPES.get(ch)
        if esc is not None:
            out.append(esc)
        elif ch < " ":
            out.append("\\u%04X" % ord(ch))
        elif not turtle and ord(ch) > 0x7E:
            cp = ord(ch)
            out.append("\\u%04X" % cp if cp <= 0xFFFF else "\\U%08X" % cp)
        else:
            out.append(ch)
    return "".join(out)


_UNESCAPE_RE = re.compile(
    r"\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|[tbnrf\"'\\])"
)


def nt_unescape(s: str) -> str:
    """Inverse of nt_escape incl. \\u / \\U hex (ref: TurtleUtils.scala:51-90)."""
    simple = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
              '"': '"', "'": "'", "\\": "\\"}

    def repl(m: re.Match) -> str:
        g = m.group(1)
        if g[0] in "uU":
            return chr(int(g[1:], 16))
        return simple[g]

    return _UNESCAPE_RE.sub(repl, s)


# ---------------------------------------------------------------------------
# Lenient percent-decode (ref: uri/UriDecoder.java:41-102)
# ---------------------------------------------------------------------------

_HEX = set("0123456789abcdefABCDEF")


def percent_decode_lenient(s: str) -> str:
    """Decode %XX UTF-8 sequences; malformed sequences pass through verbatim;
    '+' is NOT treated as space (ref: UriDecoder.java:41-102)."""
    out = bytearray()
    raw = s.encode("utf-8")
    i = 0
    n = len(raw)
    while i < n:
        b = raw[i]
        if b == 0x25 and i + 2 < n and chr(raw[i + 1]) in _HEX and chr(raw[i + 2]) in _HEX:
            out.append(int(raw[i + 1 : i + 3].decode("ascii"), 16))
            i += 3
        else:
            out.append(b)
            i += 1
    return out.decode("utf-8", errors="replace")


_IRI_RESERVED = {"3F", "23", "5B", "5D", "7D"}  # exact-case list (uppercase)


def _hex_nibble(c: str) -> int:
    """Reference hex-digit decode incl. its out-of-range behavior: chars
    that pass the `<= 'F'` guard but are not hex digits decode to -1, whose
    low nibble is 15 (ref: UriToIriDecoder.java:30-44 with assertions
    disabled, the production configuration)."""
    o = ord(c)
    if 0x30 <= o <= 0x39:
        return o - 0x30
    if 0x61 <= o <= 0x66:
        return o - 0x57
    if 0x41 <= o <= 0x46:
        return o - 0x37
    return -1


def uri_to_iri_decode(s: str) -> str:
    """URI -> IRI decode (ref: uri/UriToIriDecoder.java:47-127), faithful to
    the reference's observable behavior:

    - '+' becomes space ONLY when the first '+' is at index > 0 AND the
      string contains no '%20' (java s.indexOf('+') > 0 — a leading '+'
      disables the rule);
    - IRI-reserved sequences %3F %23 %5B %5D %7D stay encoded — matched
      case-sensitively, so lowercase '%3f' is NOT reserved;
    - the validity guard is `c1 <= 'F' and c2 <= 'F'`: lowercase hex fails
      it (sequence kept verbatim), while sub-'0' punctuation passes and
      decodes through the -1 & 0xf nibble path;
    - consecutive %-groups accumulate into one byte buffer decoded as UTF-8
      with replacement (malformed -> U+FFFD);
    - no decoding between '[' and ']' (IPv6-literal guard);
    - a truncated '%X'/'%' at end of string is emitted raw."""
    if s.find("+") > 0 and "%20" not in s:
        s = s.replace("+", " ")
    if not s or "%" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    between = False
    while i < n:
        c = s[i]
        if c == "[":
            between = True
        elif between and c == "]":
            between = False
        if c != "%" or between:
            out.append(c)
            i += 1
            continue
        bb = bytearray()
        while True:
            if i + 2 < n:
                c1, c2 = s[i + 1], s[i + 2]
                if c1 + c2 not in _IRI_RESERVED and c1 <= "F" and c2 <= "F":
                    bb.append(((_hex_nibble(c1) & 0xF) << 4)
                              | (_hex_nibble(c2) & 0xF))
                else:
                    bb.append(0x25)
                    bb.append(ord(c1) & 0xFF)
                    bb.append(ord(c2) & 0xFF)
                i += 2
            elif i + 1 < n:
                bb.append(0x25)
                bb.append(ord(s[i + 1]) & 0xFF)
                i += 1
            else:
                bb.append(0x25)
            i += 1
            if i >= n:
                break
            c = s[i]
            if c != "%":
                break
        out.append(bb.decode("utf-8", errors="replace"))
    return "".join(out)


def decode_to_fixpoint(s: str, max_iters: int = 5) -> str:
    """Repeated lenient decode until stable (ref: UriUtils.scala:133-138
    decode-until-fixpoint loop), iteration-capped."""
    for _ in range(max_iters):
        d = percent_decode_lenient(s)
        if d == s:
            return s
        s = d
    return s


# ---------------------------------------------------------------------------
# wikiEncode / cleanSpace / IRI minting
# (ref: utils/WikiUtil.scala:26-31,56-102; utils/UriUtils.scala:61-138)
# ---------------------------------------------------------------------------

_WS_UNDERSCORE_RE = re.compile(r"[\s_]+")
# chars percent-escaped by wikiEncode (ref: WikiUtil.scala:56-102 escape set)
_WIKI_ESCAPE_CHARS = set('"#%<>?[\\]^`{|}')


def clean_space(s: str) -> str:
    """Collapse whitespace/underscore runs to one space, trim
    (ref: WikiUtil.scala:26-31)."""
    return _WS_UNDERSCORE_RE.sub(" ", s).strip()


def wiki_encode(s: str) -> str:
    """Surface form -> wiki-style IRI local name: collapse space family to
    single underscores, percent-escape the reserved set as UTF-8 %XX
    (ref: WikiUtil.scala:56-102)."""
    s = clean_space(s).replace(" ", "_")
    out = []
    for ch in s:
        if ch in _WIKI_ESCAPE_CHARS or ord(ch) < 0x20:
            out.extend("%%%02X" % b for b in ch.encode("utf-8"))
        else:
            out.append(ch)
    return "".join(out)


_NO_UPPER_FIRST = set("\u00df\ufb01\ufb02")  # ß ﬁ ﬂ — ligature-safe capitalize


def capitalize_first(s: str) -> str:
    """Uppercase the first char unless it is a ligature/ß
    (ref: utils/RichString.scala:48-53)."""
    if not s or s[0] in _NO_UPPER_FIRST:
        return s
    return s[0].upper() + s[1:]


_CAMEL_SPLIT_RE = re.compile(r"[\s_]+")


def camel_case(s: str) -> str:
    """Convert to camelCase: split on whitespace/underscore runs, keep the
    first word unchanged, capitalize (ligature-safe) and concatenate the
    rest (ref: utils/RichString.scala:70-74 toCamelCase with the default
    split regex; capitalize is RichString.scala:48-53)."""
    words = [w for w in _CAMEL_SPLIT_RE.split(s) if w]
    if not words:
        return ""
    return words[0] + "".join(capitalize_first(w) for w in words[1:])


def mint_dbpedia_iri(surface: str) -> str:
    """Canonical DBpedia-style IRI from a surface form: decode-to-fixpoint,
    clean space family, capitalize first, wikiEncode
    (ref: UriUtils.scala:61-98 toDbpediaUri + WikiUtil wikiEncode)."""
    s = decode_to_fixpoint(surface)
    s = clean_space(s)
    s = capitalize_first(s)
    return DBR + wiki_encode(s)


_ABS_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://\S+$")


def is_absolute_uri(s: str) -> bool:
    """Absolute-URI test used by the bad-URI guard
    (ref: formatters/UriTripleBuilder.scala:19-30, Quad.scala:126-129)."""
    return bool(s) and bool(_ABS_URI_RE.match(s)) and ">" not in s and "<" not in s


# ---------------------------------------------------------------------------
# Quad record + 5-field identity (ref: Quad.scala:31-39,79-93)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PyQuad:
    """The reference's 7-field string record (ref: Quad.scala:31-39)."""

    subject: str
    predicate: str
    obj: str
    datatype: str | None = None
    language: str | None = None
    graph: str | None = None
    dataset: str | None = None

    def identity(self) -> tuple:
        """5-field identity — graph/dataset excluded (ref: Quad.scala:79-93,
        comment :91; hashCode :114-124)."""
        return (self.subject, self.predicate, self.obj, self.datatype, self.language)


# ---------------------------------------------------------------------------
# Line parser (ref: Quad.scala:189-265, `Quad.unapply`)
# ---------------------------------------------------------------------------

_LANG_RE = re.compile(r"[a-z][a-z0-9-]*")


class _Scanner:
    __slots__ = ("s", "i", "n")

    def __init__(self, s: str):
        self.s = s
        self.i = 0
        self.n = len(s)

    def skip_ws(self) -> None:
        while self.i < self.n and self.s[self.i] in " \t":
            self.i += 1

    def peek(self) -> str:
        return self.s[self.i] if self.i < self.n else ""

    def uri(self) -> str | None:
        # `<...>` with no `>` escaping (ref: Quad.scala:278-282)
        if self.peek() != "<":
            return None
        j = self.s.find(">", self.i + 1)
        if j < 0:
            return None
        u = self.s[self.i + 1 : j]
        self.i = j + 1
        return u

    def literal(self) -> str | None:
        # quoted literal, backslash skip-ahead (ref: Quad.scala:216-220)
        if self.peek() != '"':
            return None
        i = self.i + 1
        while i < self.n:
            c = self.s[i]
            if c == "\\":
                i += 2
                continue
            if c == '"':
                lit = self.s[self.i + 1 : i]
                self.i = i + 1
                return lit
            i += 1
        return None


def parse_nt_line(line: str) -> PyQuad | None:
    """Parse one N-Triples/N-Quads line to a PyQuad, or None for
    comment/blank/malformed (malformed = skip-with-warning, never fatal;
    ref: Quad.scala:189-265 + QuadReader.scala:178-179).

    Grammar: `<s> <p> (<o> | "lit"(@lang | ^^<dt>)?) (<g>)? .`
    Defaults: bare literal -> xsd:string (Quad.scala:224); @lang ->
    rdf:langString (Quad.scala:241); URI object -> datatype None (Quad.scala:19).
    """
    t = line.strip()
    if not t or t.startswith("#"):
        return None
    sc = _Scanner(t)
    subj = sc.uri()
    if subj is None:
        return None
    sc.skip_ws()
    pred = sc.uri()
    if pred is None:
        return None
    sc.skip_ws()
    datatype: str | None = None
    language: str | None = None
    if sc.peek() == "<":
        obj = sc.uri()
        if obj is None:
            return None
    elif sc.peek() == '"':
        raw = sc.literal()
        if raw is None:
            return None
        obj = nt_unescape(raw)
        if sc.peek() == "@":
            sc.i += 1
            m = _LANG_RE.match(sc.s, sc.i)
            if not m or m.start() != sc.i:
                return None  # bad lang tag (ref: Quad.scala:226-242)
            language = m.group(0)
            sc.i = m.end()
            datatype = RDF_LANGSTRING
        elif sc.s.startswith("^^", sc.i):
            sc.i += 2
            datatype = sc.uri()
            if datatype is None:
                return None
        else:
            datatype = XSD_STRING
    else:
        return None
    sc.skip_ws()
    graph: str | None = None
    if sc.peek() == "<":
        graph = sc.uri()  # optional 4th element (ref: Quad.scala:253-255)
        sc.skip_ws()
    if sc.peek() != ".":  # required terminal (ref: Quad.scala:257-259)
        return None
    sc.i += 1
    sc.skip_ws()
    if sc.i != sc.n:
        return None
    return PyQuad(subj, pred, obj, datatype, language, graph)


# ---------------------------------------------------------------------------
# Formatter (ref: formatters/TerseBuilder.scala:10-82, TripleFormatter.scala:8-25)
# ---------------------------------------------------------------------------


def format_nt_line(q: PyQuad, quads_mode: bool = False, turtle: bool = False) -> str:
    """Quad -> one N-Triples/N-Quads line. 3-way object dispatch (URI /
    lang literal / typed literal, ref: TripleFormatter.scala:18-20);
    xsd:string omitted on output (TerseBuilder.scala:44-48); context appended
    only in quads mode (:51-60); any bad URI comments out the whole line with
    `# ` (:23, UriTripleBuilder.scala:19-30)."""
    bad = not is_absolute_uri(q.subject) or not is_absolute_uri(q.predicate)
    if q.datatype is None:
        bad = bad or not is_absolute_uri(q.obj)
        obj = f"<{q.obj}>"
    elif q.language is not None:
        obj = f'"{nt_escape(q.obj, turtle)}"@{q.language}'
    elif q.datatype == XSD_STRING:
        obj = f'"{nt_escape(q.obj, turtle)}"'
    else:
        bad = bad or not is_absolute_uri(q.datatype)
        obj = f'"{nt_escape(q.obj, turtle)}"^^<{q.datatype}>'
    line = f"<{q.subject}> <{q.predicate}> {obj}"
    if quads_mode and q.graph:
        bad = bad or not is_absolute_uri(q.graph)
        line += f" <{q.graph}>"
    line += " ."
    return "# " + line if bad else line


# ---------------------------------------------------------------------------
# Mention detection (ref: solr/SolrHandler.java:395-512; policies enum :367-378)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Mention:
    start: int
    end: int
    surface: str
    entity_iri: str


def _alnum(ch: str) -> bool:  # the regex word-boundary class [A-Za-z0-9]
    return ("A" <= ch <= "Z") or ("a" <= ch <= "z") or ("0" <= ch <= "9")


def _forms_may_overlap(forms: list[str]) -> bool:
    """True if any two gazetteer matches could overlap in some text:
    substring containment, or a nonempty proper suffix of one form equal to
    a prefix of another (staggered overlap). O(F² · L) — gazetteers are
    small dimensions by design."""
    for a in forms:
        for b in forms:
            if a != b and a in b:
                return True
            # staggered: a's occurrence extends into b's (a starts first,
            # b extends beyond). The shared region is a length-k suffix of a
            # == prefix of b, and the word-boundary lookarounds additionally
            # require non-alnum chars at b's start boundary (inside a) and at
            # a's end boundary (inside b). Full-length k cases are the
            # containment/equality branch above.
            for k in range(1, min(len(a), len(b))):
                if (
                    a[-k:] == b[:k]
                    and not _alnum(a[-k - 1])
                    and not _alnum(b[k])
                ):
                    return True
    return False


class Gazetteer:
    """Compiled surface-form dictionary. One regex alternation (longest-first
    so the scanner is deterministic), word-boundary anchored — the vectorized
    stand-in for the reference's token-trie tagger (SolrHandler.java:395-473)."""

    def __init__(self, surface_to_iri: dict[str, str]):
        self.surface_to_iri = dict(surface_to_iri)
        forms = sorted(self.surface_to_iri, key=len, reverse=True)
        if forms:
            pat = "|".join(re.escape(f) for f in forms)
            self.rx = re.compile(r"(?<![A-Za-z0-9])(?:%s)(?![A-Za-z0-9])" % pat)
        else:
            self.rx = None
        # shorter forms that are boundary-clean prefixes of a longer form —
        # the alternation always picks the longest at a given start, so these
        # must be recovered explicitly for the ALL policy
        self._prefix_forms: dict[str, list[str]] = {}
        for long_f in forms:
            # boundary check must use the regex's ASCII class [A-Za-z0-9],
            # not Unicode str.isalnum() — e.g. 'é' is non-boundary for the
            # regex but alnum for Python, which would wrongly drop prefixes
            subs = [
                f for f in forms
                if len(f) < len(long_f)
                and long_f.startswith(f)
                and not _alnum(long_f[len(f)])
            ]
            if subs:
                self._prefix_forms[long_f] = subs
        # overlap-free gazetteers admit a single non-overlapping finditer
        # pass — the hot-path fast case. Two matches can overlap only if
        # (a) one form is a substring of another (containment), or
        # (b) a nonempty proper suffix of some form equals a prefix of
        #     another at a non-alnum junction (staggered, e.g. 'New York'
        #     vs 'York City' — the word-boundary lookarounds forbid alnum
        #     junctions, so 'aba' can never self-overlap).
        # Conservative over-flagging is safe (just takes the rescan path).
        self.has_overlaps = _forms_may_overlap(forms)
        # Static overlap-recovery tables for the batch extractor
        # (plans/extract_vec.py). A match missed by a non-overlapping scan
        # must START inside a found match of form g, at an interior offset k
        # with g[k-1] non-alnum. What can match there is a property of the
        # FORM STRING alone:
        #   - _static_emits[g]: (k, end_off, sub) matches fully determined by
        #     g's own text (the longest contained form at k plus its
        #     boundary-clean prefix recoveries; k=0 rows are g's own prefix
        #     recoveries) — emitted with zero regex work;
        #   - _probe_offsets[g]: offsets where some form extends BEYOND g
        #     (f[:len(g)-k] == g[k:], len(f) > len(g)-k) — only these need a
        #     runtime anchored rx.match against the actual text.
        self._static_emits: dict[str, list[tuple[int, int, str]]] = {}
        self._probe_offsets: dict[str, list[int]] = {}
        if self.has_overlaps:
            for g in forms:
                emits = [(0, len(sub), sub)
                         for sub in self._prefix_forms.get(g, ())]
                probes = []
                for k in range(1, len(g)):
                    if _alnum(g[k - 1]):
                        continue
                    rem = len(g) - k
                    if any(len(f) > rem and f.startswith(g[k:]) for f in forms):
                        probes.append(k)
                        continue
                    cont = [
                        f for f in forms
                        if len(f) <= rem and g.startswith(f, k)
                        and (k + len(f) == len(g) or not _alnum(g[k + len(f)]))
                    ]
                    if cont:
                        best = max(cont, key=len)
                        emits.append((k, k + len(best), best))
                        emits.extend(
                            (k, k + len(sub), sub)
                            for sub in self._prefix_forms.get(best, ())
                        )
                if emits:
                    self._static_emits[g] = emits
                if probes:
                    self._probe_offsets[g] = probes

    def find_all(self, text: str) -> list[Mention]:
        """All candidate matches incl. overlaps (policy ALL,
        SolrHandler.java:367-378). Overlapping alternatives are recovered by
        re-scanning from start+1 inside a covered span."""
        if self.rx is None:
            return []
        if not self.has_overlaps:
            # fast path: matches cannot overlap, finditer is leftmost-longest
            # and already sorted by position — identical result, one pass
            s2i = self.surface_to_iri
            return [
                Mention(m.start(), m.end(), m.group(0), s2i[m.group(0)])
                for m in self.rx.finditer(text)
            ]
        out: list[Mention] = []
        i = 0
        while True:
            m = self.rx.search(text, i)
            if not m:
                break
            out.append(Mention(m.start(), m.end(), m.group(0),
                               self.surface_to_iri[m.group(0)]))
            # shorter forms sharing this start (masked by longest-first alt)
            for sub in self._prefix_forms.get(m.group(0), ()):
                out.append(Mention(m.start(), m.start() + len(sub), sub,
                                   self.surface_to_iri[sub]))
            # re-scan inside the span to surface shorter overlapped forms
            i = m.start() + 1
        # dedupe identical spans
        seen = set()
        uniq = []
        for mn in sorted(out, key=lambda x: (x.start, -(x.end))):
            k = (mn.start, mn.end)
            if k not in seen:
                seen.add(k)
                uniq.append(mn)
        return uniq


def apply_overlap_policy(mentions: list[Mention], policy: str = "LONGEST_DOMINANT_RIGHT") -> list[Mention]:
    """Overlap resolution policies (ref enum SolrHandler.java:367-378):
    ALL keeps everything; NO_SUB drops matches strictly contained in another;
    LONGEST_DOMINANT_RIGHT greedily keeps the longest match, ties going to
    the rightmost, then suppresses everything overlapping it."""
    if not mentions:
        return mentions
    # overlap-free inputs (the fast find_all path) are already position-
    # sorted and disjoint: every policy is the identity
    if all(a.end <= b.start for a, b in zip(mentions, mentions[1:])):
        return mentions
    if policy == "ALL":
        return sorted(mentions, key=lambda m: (m.start, m.end))
    if policy == "NO_SUB":
        out = [
            m for m in mentions
            if not any(
                (o.start <= m.start and m.end <= o.end and (o.start, o.end) != (m.start, m.end))
                for o in mentions
            )
        ]
        return sorted(out, key=lambda m: (m.start, m.end))
    if policy == "LONGEST_DOMINANT_RIGHT":
        remaining = sorted(mentions, key=lambda m: (-(m.end - m.start), -m.start))
        kept: list[Mention] = []
        for m in remaining:
            if all(m.end <= k.start or m.start >= k.end for k in kept):
                kept.append(m)
        return sorted(kept, key=lambda m: (m.start, m.end))
    raise ValueError(f"unknown overlap policy: {policy}")


_CAP_RUN_RE = re.compile(r"(?<![A-Za-z0-9])[A-Z][a-z0-9]+(?: [A-Z][a-z0-9]+)*")


def find_unknown_mentions(text: str, known: list[Mention]) -> list[str]:
    """Capitalized-run spans NOT covered by a known gazetteer mention — the
    candidate surface forms handed to fuzzy entity linking (the reference
    retrieves candidates for unmatched fragments from Solr,
    solr/SolrHandler.java:296-322). Returns distinct surfaces in order."""
    out = []
    seen = set()
    for m in _CAP_RUN_RE.finditer(text):
        s, e = m.start(), m.end()
        if any(not (e <= k.start or s >= k.end) for k in known):
            continue
        if m.group(0) not in seen:
            seen.add(m.group(0))
            out.append(m.group(0))
    return out


# ---------------------------------------------------------------------------
# Relation extraction over transcript text (the pipeline's extraction stage;
# grouped-map analog of QuadMapper.mapSortedQuads, QuadMapper.scala:104-128)
# ---------------------------------------------------------------------------

# connector string between two adjacent mentions -> predicate IRI
RELATION_CONNECTORS: dict[str, str] = {
    "works at": EX + "worksAt",
    "was born in": EX + "bornIn",
    "founded": EX + "founded",
    "is located in": EX + "locatedIn",
    "acquired": EX + "acquired",
    "collaborated with": EX + "collaboratedWith",
}

_POPULATION_RE = re.compile(r" has population (\d+)")
_LABEL_RE = re.compile(r' is known as "((?:[^"\\]|\\.)*)"@([a-z][a-z0-9-]*)')


def extract_triples_from_text(
    text: str, gaz: Gazetteer, graph: str | None,
    policy: str = "LONGEST_DOMINANT_RIGHT",
    mentions: list[Mention] | None = None,
) -> list[PyQuad]:
    """Extract (subj, pred, obj) quads from one turn's text.

    1. mention detection + overlap policy;
    2. adjacent-mention pairs whose connecting text matches a relation
       connector -> object-property triple (datatype None);
    3. `<m> has population N` -> xsd:integer literal;
    4. `<m> is known as "L"@lang` -> rdf:langString literal.
    """
    if mentions is None:
        mentions = apply_overlap_policy(gaz.find_all(text), policy)
    quads: list[PyQuad] = []
    for a, b in zip(mentions, mentions[1:]):
        between = text[a.end : b.start].strip().strip(",;").strip()
        pred = RELATION_CONNECTORS.get(between)
        if pred:
            quads.append(PyQuad(a.entity_iri, pred, b.entity_iri, None, None, graph))
    for m in mentions:
        pm = _POPULATION_RE.match(text, m.end)
        if pm:
            quads.append(
                PyQuad(m.entity_iri, EX + "population", pm.group(1),
                       XSD_INTEGER, None, graph)
            )
        lm = _LABEL_RE.match(text, m.end)
        if lm:
            quads.append(
                PyQuad(m.entity_iri, EX + "label", nt_unescape(lm.group(1)),
                       RDF_LANGSTRING, lm.group(2), graph)
            )
    return quads


def extract_conversation(
    turns: list[tuple[int, str, str, str | None]],
    gaz: Gazetteer,
    conv_id: str,
    policy: str = "LONGEST_DOMINANT_RIGHT",
) -> list[PyQuad]:
    """Extract all quads for one conversation. `turns` is a list of
    (turn_idx, role, text, tool) — MUST be processed in turn_idx order
    (the reference relies on sorted-file order, QuadReader.scala:44-62;
    we sort explicitly). Tool turns additionally emit a per-turn
    toolUsed quad keyed by the turn IRI."""
    graph = f"http://example.org/conv/{conv_id}"
    quads: list[PyQuad] = []
    for turn_idx, role, text, tool in sorted(turns, key=lambda t: t[0]):
        quads.extend(extract_triples_from_text(text or "", gaz, graph, policy))
        if role == "tool" and tool:
            turn_iri = f"http://example.org/conv/{conv_id}/turn/{turn_idx}"
            quads.append(
                PyQuad(turn_iri, EX + "toolUsed", tool, XSD_STRING, None, graph)
            )
    return quads


# ---------------------------------------------------------------------------
# Canonicalization oracle (union-find over alias edges)
# (ref: redirects/sameAs maps SolrLoader.scala:41-84,176-197; the engine uses
#  iterative-join connected components — this is the test oracle)
# ---------------------------------------------------------------------------


def resolve_canonical(edges: list[tuple[str, str, str]]) -> tuple[dict[str, str], set[str]]:
    """Union-find over redirect/sameAs edges -> {iri: canonical_iri} where
    canonical = lexicographic min of the component. `disambiguation` edges
    contribute their src to the excluded set instead (anti-join analog,
    SolrLoader.scala:124-127)."""
    parent: dict[str, str] = {}
    excluded: set[str] = set()

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    for src, dst, kind in edges:
        if kind == "disambiguation":
            excluded.add(src)
            continue
        union(src, dst)
    mapping = {}
    for node in list(parent):
        mapping[node] = find(node)
    return mapping, excluded


def canonicalize_quads(
    quads: list[PyQuad], mapping: dict[str, str], excluded: set[str]
) -> list[PyQuad]:
    """Rewrite subject (and URI objects) to canonical IRIs; drop quads whose
    subject is a disambiguation source (ref: SolrLoader.scala:124-127)."""
    out = []
    for q in quads:
        subj = mapping.get(q.subject, q.subject)
        if q.subject in excluded or subj in excluded:
            continue
        obj = q.obj
        if q.datatype is None:
            obj = mapping.get(q.obj, q.obj)
            if q.obj in excluded or obj in excluded:
                continue
        out.append(PyQuad(subj, q.predicate, obj, q.datatype, q.language, q.graph, q.dataset))
    return out


def dedup_quads(quads: list[PyQuad]) -> list[PyQuad]:
    """First-seen-order dedup on the 5-field identity
    (ref: DeduplicatingDestination.scala:10-24 LinkedHashSet)."""
    seen = set()
    out = []
    for q in quads:
        k = q.identity()
        if k not in seen:
            seen.add(k)
            out.append(q)
    return out
