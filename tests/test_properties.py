"""Property-based tests (hypothesis) for the pure string kernels the
engine's parse/format/minting semantics ride on. These run the oracle
functions that the Arrow paths wrap, so every property here transfers to
the distributed operators by the shared-code construction. The one Spark
property (last section) checks canonicalize against its oracle.

Reference semantics: escape TurtleUtils.scala:51-140; parse
Quad.scala:189-265; format TerseBuilder.scala:10-82; minting
UriUtils.scala:61-138 / WikiUtil.scala:56-112; X4 UriToIriDecoder.java.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from quad_processor_util_spark.oracle import (
    XSD_STRING,
    PyQuad,
    format_nt_line,
    mint_dbpedia_iri,
    nt_escape,
    nt_unescape,
    parse_nt_line,
    percent_decode_lenient,
    uri_to_iri_decode,
    wiki_encode,
)

# surrogate-free text (lone surrogates are not encodable and cannot occur
# in data read from parquet/UTF-8 sources)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
)

_scheme = st.sampled_from(["http", "https", "urn+x"])
# URI body chars the formatter accepts verbatim (absolute, no spaces/<>)
_uri_body = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789._~%/?#[]@!$&'()*+,;=-",
    min_size=1, max_size=30,
)
_clean_uri = st.builds(lambda s, b: f"{s}://{b}", _scheme, _uri_body)
_lang = st.from_regex(r"[a-z][a-z0-9]{0,3}(-[a-z0-9]{1,4}){0,2}",
                      fullmatch=True)


@settings(max_examples=300, deadline=None)
@given(_text, st.booleans())
def test_escape_unescape_roundtrip(s, turtle):
    assert nt_unescape(nt_escape(s, turtle=turtle)) == s


@settings(max_examples=200, deadline=None)
@given(_text)
def test_nt_mode_escape_is_ascii_and_quote_safe(s):
    e = nt_escape(s, turtle=False)
    assert all(ord(c) < 0x7F for c in e)
    # a formatter embedding e between quotes can never be broken out of
    i = 0
    while i < len(e):
        if e[i] == "\\":
            i += 2
            continue
        assert e[i] != '"' and e[i] != "\\"
        i += 1


@settings(max_examples=300, deadline=None)
@given(
    _clean_uri, _clean_uri,
    st.one_of(
        st.tuples(_clean_uri, st.none(), st.none()),             # URI object
        st.tuples(_text, st.just(XSD_STRING), st.none()),        # plain lit
        st.tuples(_text, st.just("__dt__"), st.none()),          # typed lit
        st.tuples(_text,
                  st.just("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"),
                  _lang),                                        # lang lit
    ),
    st.one_of(st.none(), _clean_uri),
    _clean_uri,
)
def test_format_parse_roundtrip(s, p, obj_dt_lang, graph, dt_uri):
    obj, dt, lang = obj_dt_lang
    if dt == "__dt__":
        dt = dt_uri
        if dt == XSD_STRING:
            return  # plain-literal case covers xsd:string
    q = PyQuad(s, p, obj, dt, lang, graph)
    line = format_nt_line(q, quads_mode=True)
    assert not line.startswith("# "), line
    back = parse_nt_line(line)
    assert back == q


@settings(max_examples=200, deadline=None)
@given(_text, _clean_uri)
def test_bad_subject_comments_out_and_parser_skips(lit, p):
    # a relative/garbage subject URI must comment the line out, and the
    # parser must skip commented lines (skip-with-warning contract)
    q = PyQuad("not a uri", p, lit, XSD_STRING, None, None)
    line = format_nt_line(q)
    assert line.startswith("# ")
    assert parse_nt_line(line) is None


# ---------------------------------------------------------------------------
# parse_nt_lines' batch kernel ≡ oracle.parse_nt_line, with canonical and
# non-canonical lines in ONE batch: canonical lines must take the
# vectorized route (functions/nt._parse_canonical_batch), the rest the
# per-row oracle, and the union must equal the oracle line for line.
# ---------------------------------------------------------------------------

# exactly what the canonical route accepts: URIs without <>"\ space tab
# newline, literals without "\ newline (any other unicode allowed)
_canon_uri = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters='<>"\\ \t\n'),
    max_size=12).map(lambda u: f"<{u}>")
_canon_lit = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters='"\\\n'),
    max_size=20)

_canon_obj = st.one_of(
    _canon_uri,
    _canon_lit.map(lambda v: f'"{v}"'),
    st.tuples(_canon_lit, _lang).map(lambda t: f'"{t[0]}"@{t[1]}'),
    st.tuples(_canon_lit, _canon_uri).map(lambda t: f'"{t[0]}"^^{t[1]}'),
)
_canon_line = st.builds(
    lambda s, p, o, g: f"{s} {p} {o}" + (f" {g}" if g else "") + " .",
    _canon_uri, _canon_uri, _canon_obj, st.one_of(st.none(), _canon_uri))

# every escape family: simple, unknown, \uXXXX / \UXXXXXXXX (any valid
# non-surrogate code point, either hex case) and a doubled backslash
# before 'u' (raw text \\u0041 — NOT a unicode escape)
_code_point = st.integers(0, 0x10FFFF).filter(
    lambda c: not 0xD800 <= c <= 0xDFFF)
_escape = st.one_of(
    st.sampled_from(["\\t", "\\b", "\\n", "\\r", "\\f", '\\"', "\\'",
                     "\\\\", "\\q", "\\\\u0041"]),
    _code_point.map(lambda c: "\\u%04x" % c if c <= 0xFFFF
                    else "\\U%08X" % c),
    _code_point.filter(lambda c: c <= 0xFFFF).map(lambda c: "\\u%04X" % c),
)
_escaped_lit = st.lists(st.one_of(_escape, _canon_lit), min_size=1,
                        max_size=6).map("".join).filter(lambda v: "\\" in v)
_edge_ws = st.text(alphabet="\f\xa0\t \x0b\x1c\u2028", min_size=1,
                   max_size=3)
_other_line = st.one_of(
    # escaped literal in every object position
    st.builds(lambda s, v, suf: f'{s} <http://p> "{v}"{suf} .',
              _canon_uri, _escaped_lit,
              st.sampled_from(["", "@en", "^^<http://ex.org/dt>"])),
    # a canonical line behind exotic edge whitespace (stripped by the
    # oracle) or with tab / zero / doubled separators
    st.builds(lambda a, ln, b: a + ln + b, _edge_ws, _canon_line, _edge_ws),
    st.builds(lambda ln, sep: ln.replace("> <", ">" + sep + "<", 1),
              _canon_line, st.sampled_from(["\t", "", "  ", "\f"])),
    # comments, blank lines, truncated lines, arbitrary text
    _text.map(lambda t: "#" + t),
    st.text(alphabet=" \t\f\xa0", max_size=3),
    _canon_line.map(lambda ln: ln[:-2]),
    _text,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_canon_line, min_size=1, max_size=8),
       st.lists(_other_line, min_size=1, max_size=8), st.randoms())
def test_parse_batch_matches_oracle_on_mixed_batches(canon, other, rnd):
    import pandas as pd

    from quad_processor_util_spark.functions.nt import (
        _parse_batch, _parse_canonical_batch,
    )

    lines = canon + other
    rnd.shuffle(lines)
    _, leftovers = _parse_canonical_batch(pd.Series(lines, dtype=object))
    assert not set(canon) & set(leftovers)  # canonical -> vectorized route
    cols = ["subject", "predicate", "obj", "datatype", "language", "graph"]
    key = lambda t: tuple((v is not None, v or "") for v in t)  # noqa: E731
    # the mixed batch, and the canonical lines alone (one findall per batch)
    for batch in (lines, canon):
        got = sorted((tuple(None if pd.isna(v) else v for v in r)
                      for r in _parse_batch(pd.Series(batch, dtype=object))
                      [cols].itertuples(index=False)), key=key)
        want = sorted(((q.subject, q.predicate, q.obj, q.datatype,
                        q.language, q.graph)
                       for q in map(parse_nt_line, batch) if q), key=key)
        assert got == want


_RESERVED_CHARS = set("?#[]}")


@settings(max_examples=300, deadline=None)
@given(_text)
def test_uri_to_iri_agrees_with_lenient_decode_on_full_encoding(s):
    # fully %XX-encode s (uppercase hex, every byte): both decoders must
    # reconstruct s exactly — unless a byte is IRI-reserved (kept encoded
    # by X4) or the string triggers the '+' rule
    if any(c in _RESERVED_CHARS for c in s) or "+" in s:
        return
    enc = "".join("%%%02X" % b for b in s.encode("utf-8"))
    assert percent_decode_lenient(enc) == s
    assert uri_to_iri_decode(enc) == s


@settings(max_examples=300, deadline=None)
@given(_text)
def test_mint_output_shape(s):
    iri = mint_dbpedia_iri(s)
    assert iri.startswith("http://dbpedia.org/resource/")
    local = iri[len("http://dbpedia.org/resource/"):]
    # wikiEncode contract: no whitespace, no raw reserved chars, no
    # control chars in the minted local name
    assert not any(c.isspace() for c in local)
    assert not any(c in '"#<>?[\\]^`{|}' for c in local)
    assert not any(ord(c) < 0x20 for c in local)


@settings(max_examples=300, deadline=None)
@given(_text)
def test_wiki_encode_decodes_back_to_clean_space_form(s):
    # wikiEncode is reversible up to the space-family collapse: lenient
    # percent-decode + underscore->space recovers clean_space(s)
    from quad_processor_util_spark.oracle import clean_space

    enc = wiki_encode(s)
    dec = percent_decode_lenient(enc).replace("_", " ")
    assert dec == clean_space(s)


# ---------------------------------------------------------------------------
# BPE encode kernel ≡ the doubled-separator replace spec the SQL oracle
# replays (operators/bpe._encode_word vs __spark_entry__'s bpe_encode
# oracle construction). Python str.replace is leftmost non-overlapping
# all-occurrences — the same semantics as DuckDB's replace().
# ---------------------------------------------------------------------------

_bpe_word = st.text(alphabet="abc", min_size=0, max_size=12)
_bpe_sym = st.text(alphabet="abc", min_size=1, max_size=3)
_bpe_merges = st.lists(st.tuples(_bpe_sym, _bpe_sym), max_size=6)


def _spec_encode(w, merges):
    """The oracle's construction: doubled-separator string, one replace
    per merge, split, drop separators."""
    rep = "  " + "  ".join(list(w)) + "  " if w else "  "
    for l, r in merges:
        rep = rep.replace(f" {l}  {r} ", f" {l}{r} ")
    return [t for t in rep.split("  ") if t]


@settings(max_examples=500, deadline=None)
@given(_bpe_word, _bpe_merges)
def test_bpe_kernel_matches_oracle_replace_spec(w, merges):
    from quad_processor_util_spark.operators.bpe import (
        _encode_word, _normalize_merges,
    )

    norm = _normalize_merges(merges) if merges else []
    got = _encode_word(w, norm)
    assert got == _spec_encode(w, merges)
    # token conservation: concatenating tokens restores the word
    assert "".join(got) == w


# ---------------------------------------------------------------------------
# canonicalize ≡ oracle.canonicalize_quads as MULTISETS: a random
# functional mapping, excluded IRIs drawn from the same pool (so they hit
# mapping nodes, canonicals and unmapped IRIs alike), URI and literal
# objects, duplicate quads and duplicate excluded rows. Every example runs
# canonicalize's Catalyst dimension over both input kinds: local relations
# (canonical_mapping's driver route) and RDD-backed frames.
# ---------------------------------------------------------------------------

_iri = st.sampled_from([f"e:{i}" for i in range(8)])
_canon_quad = st.tuples(_iri, _iri, st.sampled_from([None, XSD_STRING]))


@settings(max_examples=20, deadline=None)
@given(
    st.dictionaries(_iri, _iri, max_size=6),
    st.lists(_iri, max_size=5),
    st.lists(_canon_quad, min_size=1, max_size=12),
)
def test_canonicalize_matches_oracle_multiset(spark, canon_frames, mapping,
                                              excluded, quads):
    from collections import Counter
    from dataclasses import astuple

    from quad_processor_util_spark.oracle import canonicalize_quads
    from quad_processor_util_spark.plans.pipeline import canonicalize

    pq = [PyQuad(s, "e:p", o, dt, None, "g") for s, o, dt in quads]
    exp = Counter(astuple(q) for q in
                  canonicalize_quads(pq, mapping, set(excluded)))
    qdf = spark.createDataFrame(
        [astuple(q) for q in pq],
        "subject string, predicate string, obj string, datatype string, "
        "language string, graph string, dataset string")
    for route, (mdf, xdf) in canon_frames(list(mapping.items()),
                                          excluded).items():
        got = Counter(tuple(r) for r in canonicalize(qdf, mdf, xdf).collect())
        assert got == exp, route


# ---------------------------------------------------------------------------
# extract_vec.canonicalize_batch (the extraction kernel's canonicalization)
# ≡ oracle.canonicalize_quads row for row, without Spark: NULL subjects,
# objects and datatypes, literal objects equal to mapped or excluded IRIs,
# and excluded canonicals (mapping values drawn from the excluded pool).
# ---------------------------------------------------------------------------

_nullable_iri = st.one_of(st.none(), _iri)


@settings(max_examples=300, deadline=None)
@given(
    st.dictionaries(_iri, _iri, max_size=6),
    st.lists(_iri, max_size=5),
    st.lists(st.tuples(_nullable_iri, _nullable_iri,
                       st.sampled_from([None, XSD_STRING])),
             min_size=1, max_size=12),
)
def test_canonicalize_batch_matches_oracle(mapping, excluded, quads):
    from dataclasses import astuple

    import pyarrow as pa

    from quad_processor_util_spark.oracle import QUAD_FIELDS, canonicalize_quads
    from quad_processor_util_spark.plans.extract_vec import (
        canonical_dimension,
        canonicalize_batch,
    )

    pq = [PyQuad(s, "e:p", o, dt, None, "g") for s, o, dt in quads]
    want = [astuple(q) for q in canonicalize_quads(pq, mapping, set(excluded))]
    rb = pa.RecordBatch.from_arrays(
        [pa.array(list(c), pa.string()) for c in zip(*map(astuple, pq))],
        QUAD_FIELDS)
    got = canonicalize_batch(rb, canonical_dimension(mapping.items(),
                                                     excluded))
    assert [tuple(r.values()) for r in got.to_pylist()] == want
