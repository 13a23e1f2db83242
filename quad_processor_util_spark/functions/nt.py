"""N-Triples/N-Quads parse + format on Spark.

One parse path: `parse_nt_lines` runs Arrow batches through mapInPandas.
Canonical single-space lines parse with one vectorized regex per batch;
every other line (escapes, exotic whitespace, comments, malformed) goes
through the pure-Python oracle `oracle.parse_nt_line`, so the output is
byte-exact N-Triples semantics incl. \\uXXXX / \\UXXXXXXXX escapes.

Two format paths:

- **JVM path** (`format_nt_expr`): built-in Catalyst expressions
  (concat / when / regexp_replace), whole-stage-codegen'd, zero Python.
  Turtle-mode escaping (non-ASCII kept raw, ref: TurtleUtils.scala:100-140
  turtle branch).
- **exact path** (`format_nt_exact`): Arrow-batched pandas over the same
  oracle function the tests use (oracle.format_nt_line), for byte-exact
  N-Triples-mode output incl. \\uXXXX escapes.

Reference: parser Quad.scala:189-265; formatter TerseBuilder.scala:10-82.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..oracle import (
    QUAD_FIELDS, XSD_STRING, PyQuad, format_nt_line, parse_nt_line,
)
from ..session import worker_kernel

# Python's \s / str.isspace() set spelled out for JAVA regex character
# classes. Java's \s is ASCII-only ([ \t\n\x0B\f\r]) and even (?U)\s
# (Unicode White_Space) EXCLUDES \x1c-\x1f which Python includes — so any
# JVM path mirroring the oracle's Python whitespace semantics must use this
# explicit class, not \s (round-4 review finding: U+00A0 inside a URI made
# format_nt_expr and format_nt_exact disagree on the bad-URI guard).
PY_WS_CLASS = (r"\x09-\x0d\x1c-\x1f \x85\xa0  - "
               r"    　")
QUAD_SCHEMA = StructType([StructField(f, StringType(), True) for f in QUAD_FIELDS])
# 5-field identity — graph/dataset excluded (ref: Quad.scala:79-93)
QUAD_IDENTITY = ["subject", "predicate", "obj", "datatype", "language"]


# ---------------------------------------------------------------------------
# parse: mapInPandas over a `line` column
# ---------------------------------------------------------------------------


# Canonical-NT fast-path pattern: EXACTLY single-space separated, no
# backslash anywhere, URIs without <>"\ or spaces, literal without "\ .
# For any line matching this, oracle.parse_nt_line provably returns the
# captured groups verbatim (no unescaping can apply — no backslash; no
# whitespace skipping can differ — separators are exact), so the whole
# batch parses with ONE C-level regex extract. Everything else (comments,
# escapes, exotic whitespace, malformed) takes the per-row oracle.
_CANON_U = r'[^<>"\\ \t\n]*'
# URI-object / datatype / graph groups capture WITH their brackets so a
# participating-but-empty URI ('<>' -> 2 chars) is distinguishable from a
# non-participating group ('' in findall) — the branch decides datatype
_CANON_NT_RE = (
    rf"^<({_CANON_U})> <({_CANON_U})> "
    rf'(?:(<{_CANON_U}>)|"([^"\\\n]*)"(?:@([a-z][a-z0-9-]*)|\^\^(<{_CANON_U}>))?)'
    rf"(?: (<{_CANON_U}>))? \.$"
)
_CANON_RX_M = re.compile(_CANON_NT_RE, re.M)
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


def _quads_from_canonical_groups(g) -> pd.DataFrame:
    """7 parallel group tuples (findall conventions: '' = not matched;
    bracketed groups include <>) -> quad frame."""
    import numpy as np

    subj, pred, uobj, lit, lang, dt, graph = (
        np.asarray(x, dtype=object) for x in g
    )
    is_uri = np.array([v != "" for v in uobj])
    strip = np.vectorize(lambda v: v[1:-1] if v else None, otypes=[object])
    obj = np.where(is_uri, strip(uobj), lit)
    has_lang = np.array([v != "" for v in lang])
    has_dt = np.array([v != "" for v in dt])
    datatype = np.where(
        is_uri, None,
        np.where(has_lang, _RDF_LANGSTRING,
                 np.where(has_dt, strip(dt), XSD_STRING)),
    )
    return pd.DataFrame({
        "subject": subj,
        "predicate": pred,
        "obj": obj,
        "datatype": datatype,
        "language": np.where(has_lang, lang, None),
        "graph": strip(graph),
        "dataset": pd.Series([None] * len(subj), dtype=object),
    }, columns=QUAD_FIELDS)


def _parse_canonical_batch(lines: pd.Series) -> tuple[pd.DataFrame, pd.Series]:
    """Vectorized parse of canonical lines -> (quad frame, leftover lines)."""
    s = lines.dropna().astype(str)
    vals = s.tolist()
    if not vals:
        return pd.DataFrame(columns=QUAD_FIELDS), s
    mega = "\n".join(vals)
    # all-canonical fast route: no backslash anywhere, no embedded newlines,
    # and every joined line matches — then ONE findall gives all groups at
    # C speed (each line matches at most once, so counts prove totality)
    if "\\" not in mega and mega.count("\n") == len(vals) - 1:
        hits = _CANON_RX_M.findall(mega)
        if len(hits) == len(vals):
            return _quads_from_canonical_groups(list(zip(*hits))), s.iloc[0:0]
    # mixed batch: per-line extract splits canonical rows from leftovers
    ext = s.str.extract(_CANON_NT_RE)
    hit = ext[0].notna()
    leftovers = s[~hit]
    e = ext[hit]
    if not len(e):
        return pd.DataFrame(columns=QUAD_FIELDS), leftovers
    groups = [e[i].fillna("").tolist() for i in range(7)]
    # subject can be legitimately '' (<<>> impossible; '<> ...' gives '') —
    # fillna('') is safe because extract only keeps matched rows here
    return _quads_from_canonical_groups(groups), leftovers


def _parse_batch(lines: pd.Series) -> pd.DataFrame:
    """One Arrow batch of raw lines -> quad frame: canonical lines through
    the vectorized route, the rest per-row through the oracle parser."""
    fast, leftovers = _parse_canonical_batch(lines)
    rows = []
    for line in leftovers:
        q = parse_nt_line(line)
        if q is not None:
            rows.append((q.subject, q.predicate, q.obj, q.datatype,
                         q.language, q.graph, q.dataset))
    slow = pd.DataFrame(rows, columns=QUAD_FIELDS)
    return pd.concat([fast, slow], ignore_index=True) if len(slow) else fast


def parse_nt_lines(lines_df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse a DataFrame of raw N-Triples/N-Quads lines into the quad table.

    Comments/blank/malformed lines are skipped (skip-with-warning semantics,
    QuadReader.scala:178-179 — counts observable as input minus output).
    Runs as mapInPandas (Arrow batches) and reads its source once; a
    too-coarse source (a single-file dump scans as one split) is first
    re-spread across the shuffle width by _ensure_parallelism, as the
    shingle and BPE kernels are, so it does not parse on one core.
    Canonical single-space lines — the overwhelming bulk of real NT
    dumps — parse with one vectorized regex extract per batch, the rest
    per-row through the exact oracle parser. Semantics are identical
    either way (tests cover both routes). A surrogate or out-of-range
    \\u/\\U escape fails the job: it decodes to no valid UTF-8 string."""
    from ..operators.dedup import _ensure_parallelism

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _parse_batch(pdf[line_col])

    return _ensure_parallelism(lines_df.select(line_col)).mapInPandas(
        worker_kernel(_parse), QUAD_SCHEMA)


# ---------------------------------------------------------------------------
# format: JVM expression path (turtle-mode escaping) + exact pandas path
# ---------------------------------------------------------------------------


# control chars the turtle escape must \\uXXXX (everything < 0x20 except
# \n \r \t, which have short escapes)
_CTRL_CODEPOINTS = [*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20)]
_CTRL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"


def _escape_expr(col: Column) -> Column:
    """Turtle-mode literal escape with built-ins: \\ " \n \r \t, and
    \\uXXXX for the remaining control chars — matching oracle.nt_escape's
    turtle branch exactly (TurtleUtils.scala:100-140; non-ASCII kept raw).
    The 26-replace control chain only runs on rows that actually contain a
    control char (rlike-guarded branch) — clean literals pay 5 replaces."""
    c = F.regexp_replace(col, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", "\\\\n")
    c = F.regexp_replace(c, "\r", "\\\\r")
    c = F.regexp_replace(c, "\t", "\\\\t")
    ctrl = c
    for cp in _CTRL_CODEPOINTS:
        ctrl = F.regexp_replace(ctrl, "\\x%02X" % cp, "\\\\u%04X" % cp)
    return F.when(col.rlike(_CTRL_CLASS), ctrl).otherwise(c)


def _uri_ok(c: Column) -> Column:
    """Absolute-URI guard. [^\\s<>] matches oracle.is_absolute_uri
    exactly: a URI containing '<'/'>' is BAD (would corrupt the line
    syntax) and must comment out."""
    return c.rlike("^[A-Za-z][A-Za-z0-9+.-]*://[^<>" + PY_WS_CLASS + "]+$")


def format_nt_expr(quads: DataFrame, quads_mode: bool = False) -> DataFrame:
    """Quad table -> one `line` column, entirely in Catalyst expressions.

    Dispatch (TripleFormatter.scala:18-20): URI object when datatype is null;
    lang literal; typed literal with xsd:string omitted
    (TerseBuilder.scala:44-48). Bad URIs comment the line out with `# `
    (TerseBuilder.scala:23). Graph appended only in quads mode (:51-60).
    """
    s, p, o, dt, lang, gr = (F.col(x) for x in
                             ["subject", "predicate", "obj", "datatype", "language", "graph"])
    obj_part = (
        F.when(dt.isNull(), F.concat(F.lit("<"), o, F.lit(">")))
        .when(lang.isNotNull(),
              F.concat(F.lit('"'), _escape_expr(o), F.lit('"@'), lang))
        .when(dt == XSD_STRING, F.concat(F.lit('"'), _escape_expr(o), F.lit('"')))
        .otherwise(F.concat(F.lit('"'), _escape_expr(o), F.lit('"^^<'), dt, F.lit(">")))
    )
    line = F.concat(F.lit("<"), s, F.lit("> <"), p, F.lit("> "), obj_part)
    # empty-string graph counts as ABSENT, matching the oracle's falsy check
    # (format_nt_line: `quads_mode and q.graph`)
    has_graph = gr.isNotNull() & (gr != "")
    if quads_mode:
        line = F.when(has_graph, F.concat(line, F.lit(" <"), gr, F.lit(">"))).otherwise(line)
    line = F.concat(line, F.lit(" ."))
    bad = (
        ~_uri_ok(s) | ~_uri_ok(p)
        | (dt.isNull() & ~_uri_ok(o))
        | (dt.isNotNull() & lang.isNull() & (dt != XSD_STRING) & ~_uri_ok(dt))
    )
    if quads_mode:
        bad = bad | (has_graph & ~_uri_ok(gr))
    return quads.select(
        F.when(bad, F.concat(F.lit("# "), line)).otherwise(line).alias("line")
    )


# clean-row predicates for the vectorized exact-format route:
# a URI the oracle accepts verbatim (absolute, no angle brackets) ...
_CLEAN_URI_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^\s<>]+$"
# ... and a literal needing NO escaping at all: printable ASCII minus
# '"' (0x22) and '\' (0x5C) — everything outside this set takes the
# per-row oracle (escape-family, control chars, non-ASCII \uXXXX)
_CLEAN_LIT_RE = r"^[\x20-\x21\x23-\x5B\x5D-\x7E]*$"


def _format_clean_batch(pdf: pd.DataFrame, quads_mode: bool):
    """-> (lines ndarray aligned to pdf rows with None where not clean)."""
    import numpy as np

    s = pdf["subject"].astype(str)
    p = pdf["predicate"].astype(str)
    o = pdf["obj"].astype(str)
    dt = pdf["datatype"]
    lang = pdf["language"]
    gr = pdf["graph"]
    uri_ok = lambda c: c.str.match(_CLEAN_URI_RE, na=False)  # noqa: E731
    # mutually exclusive, in the ORACLE'S dispatch order (format_nt_line:
    # datatype-null URI first, then language, then plain, then typed)
    b_uri = dt.isna()
    b_lang = ~b_uri & lang.notna()
    b_plain = ~b_uri & ~b_lang & dt.eq(XSD_STRING)
    b_typed = ~b_uri & ~b_lang & dt.notna() & ~dt.eq(XSD_STRING)
    lit_ok = o.str.match(_CLEAN_LIT_RE, na=False)
    clean = (
        uri_ok(s) & uri_ok(p)
        & (
            (b_uri & uri_ok(o))
            | ((b_lang | b_plain) & lit_ok)
            | (b_typed & lit_ok & uri_ok(dt.astype(str)))
        )
    )
    if quads_mode:
        has_g = gr.notna() & gr.ne("")
        clean = clean & (~has_g | uri_ok(gr.astype(str)))
    if not clean.any():
        return np.full(len(pdf), None, dtype=object)
    obj_part = np.where(
        b_uri, "<" + o + ">",
        np.where(b_lang, '"' + o + '"@' + lang.astype(str),
                 np.where(b_plain, '"' + o + '"',
                          '"' + o + '"^^<' + dt.astype(str) + ">")),
    )
    lines = "<" + s + "> <" + p + "> " + pd.Series(obj_part, index=pdf.index)
    if quads_mode:
        lines = lines + np.where(gr.notna() & gr.ne(""),
                                 " <" + gr.astype(str) + ">", "")
    lines = lines + " ."
    return np.where(clean, lines, None)


def format_nt_exact(quads: DataFrame, quads_mode: bool = False) -> DataFrame:
    """Byte-exact N-Triples formatting (incl. \\uXXXX non-ASCII escapes).
    Clean rows — valid absolute URIs, literals with nothing to escape —
    format vectorized (pandas string ops, provably identical to the
    oracle: no escape can apply and no `# ` marking can trigger); rows
    needing escapes or bad-URI commenting take the per-row oracle
    function. Output order matches input order (the sorted-write path
    depends on it)."""

    def _fmt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            res = _format_clean_batch(pdf, quads_mode)
            miss = np.nonzero(res == None)[0]  # noqa: E711 (elementwise)
            if len(miss):
                res[miss] = [
                    format_nt_line(
                        PyQuad(r.subject, r.predicate, r.obj,
                               None if pd.isna(r.datatype) else r.datatype,
                               None if pd.isna(r.language) else r.language,
                               None if pd.isna(r.graph) else r.graph),
                        quads_mode=quads_mode,
                    )
                    for r in pdf.iloc[miss].itertuples()
                ]
            yield pd.DataFrame({"line": res})

    return quads.mapInPandas(worker_kernel(_fmt),
                             StructType([StructField("line", StringType())]))


def format_rdf_json(quads: DataFrame) -> DataFrame:
    """Quad -> RDF/JSON-ish line via to_json (formatters/RDFJSONBuilder.scala:
    8-104 semantics: object kind dispatched to uri / literal+lang / literal+
    datatype; JSON escaping is native to to_json — the reference's manual
    control-char quoting, RDFJSONBuilder.scala:73-102, is built in).
    -> DataFrame(json STRING)."""
    s, p, o, dt, lang = (F.col(x) for x in
                         ["subject", "predicate", "obj", "datatype", "language"])
    value = F.struct(
        s.alias("subject"),
        p.alias("predicate"),
        F.struct(
            o.alias("value"),
            F.when(dt.isNull(), F.lit("uri")).otherwise(F.lit("literal")).alias("type"),
            lang.alias("lang"),
            F.when(lang.isNull() & dt.isNotNull() & (dt != XSD_STRING), dt)
            .alias("datatype"),
        ).alias("object"),
    )
    return quads.select(F.to_json(value, {"ignoreNullFields": "true"}).alias("json"))


def dedup_quads_df(quads: DataFrame) -> DataFrame:
    """Global dedup on the 5-field identity (ref: Quad.scala:79-93;
    DeduplicatingDestination.scala:10-24 — Spark's shuffle dedup is the
    global, stronger form)."""
    return quads.dropDuplicates(QUAD_IDENTITY)


# ---------------------------------------------------------------------------
# TriX serialization (ref: formatters/TriXBuilder.scala:28-60,
# TriXFormatter.scala:10-21, utils/XmlUtils.scala escape table)
# ---------------------------------------------------------------------------

TRIX_HEADER = '<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/" >\n'
TRIX_FOOTER = "</TriX>\n"


def xml_escape_expr(col: Column) -> Column:
    """The reference's XML escape table (XmlUtils.scala): & < > " to
    entities; control chars below 0x20 REMOVED except \\n \\r \\t (kept
    raw). Chars >= 0x40 pass through untouched."""
    c = F.regexp_replace(col, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    c = F.regexp_replace(c, ">", "&gt;")
    c = F.regexp_replace(c, '"', "&quot;")
    return F.regexp_replace(c, r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")


def format_trix(quads: DataFrame, quads_mode: bool = False) -> DataFrame:
    """Quad table -> one TriX <graph><triple>…</triple></graph> fragment
    per quad (column `trix`), pure Catalyst. Wrap output between
    TRIX_HEADER/TRIX_FOOTER when writing a document.

    Faithful to TriXBuilder.scala:28-60: 2-space-per-depth indentation, the
    context <uri> emitted in quads mode even when the graph is null (the
    reference's parseUri(null) yields the literal 'BAD URI: null' text,
    UriTripleBuilder.scala:19-30), xsd:string NOT omitted (the omission is
    TerseBuilder-specific). Simplification: URI validity uses the same
    absolute-URI guard as the N-Triples path instead of java.net.URI's
    parser (whose exact error strings are JVM-internal)."""

    def uri_el(col: Column, indent: str) -> Column:
        val = (
            F.when(col.isNull(), F.lit("BAD URI: null"))
            .when(_uri_ok(col), col)
            .otherwise(F.concat(F.lit("BAD URI: not absolute: "), col))
        )
        return F.concat(F.lit(indent + "<uri>"), xml_escape_expr(val),
                        F.lit("</uri>\n"))

    s, p, o, dt, lang, gr = (F.col(x) for x in
                             ["subject", "predicate", "obj", "datatype",
                              "language", "graph"])
    dt_val = (
        F.when(_uri_ok(dt), dt)
        .otherwise(F.concat(F.lit("BAD URI: not absolute: "), dt))
    )
    obj_el = (
        F.when(dt.isNull(), uri_el(o, "      "))
        .when(lang.isNotNull(), F.concat(
            F.lit('      <plainLiteral xml:lang="'), lang, F.lit('">'),
            xml_escape_expr(o), F.lit("</plainLiteral>\n")))
        .otherwise(F.concat(
            F.lit('      <typedLiteral datatype="'),
            xml_escape_expr(dt_val), F.lit('">'),
            xml_escape_expr(o), F.lit("</typedLiteral>\n")))
    )
    parts = [F.lit("  <graph>\n")]
    if quads_mode:
        parts.append(uri_el(gr, "    "))
    parts += [
        F.lit("    <triple>\n"),
        uri_el(s, "      "),
        uri_el(p, "      "),
        obj_el,
        F.lit("    </triple>\n"),
        F.lit("  </graph>\n"),
    ]
    return quads.select(F.concat(*parts).alias("trix"))
