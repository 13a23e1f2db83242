"""URI / IRI scalar functions as Arrow-vectorized pandas UDFs.

Each wraps the corresponding pure-Python oracle function so Spark-side and
test-side semantics are the same code (SURVEY.md Stage 2 parity stance).

Reference: IRI minting (wikiEncode inside) utils/UriUtils.scala:61-138,
utils/WikiUtil.scala:56-102; lenient decode uri/UriDecoder.java:41-102.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..oracle import (
    mint_dbpedia_iri,
    percent_decode_lenient,
    uri_to_iri_decode,
)


@pandas_udf(StringType())
def mint_iri_udf(s: pd.Series) -> pd.Series:
    """Surface form -> canonical DBpedia-style IRI (UriUtils.scala:61-98)."""
    return s.map(lambda x: mint_dbpedia_iri(x) if isinstance(x, str) else None)


@pandas_udf(StringType())
def percent_decode_udf(s: pd.Series) -> pd.Series:
    """Lenient %XX decode (UriDecoder.java:41-102)."""
    return s.map(lambda x: percent_decode_lenient(x) if isinstance(x, str) else None)


@pandas_udf(StringType())
def uri_to_iri_udf(s: pd.Series) -> pd.Series:
    """URI -> IRI decode keeping the IRI-reserved set encoded, bracket-aware,
    with the reference's exact-case/validity quirks
    (UriToIriDecoder.java:47-127)."""
    return s.map(lambda x: uri_to_iri_decode(x) if isinstance(x, str) else None)


# ---------------------------------------------------------------------------
# namespace registry (ref: utils/RdfNamespace.scala:45-56,73-106,138-141)
# ---------------------------------------------------------------------------

NAMESPACES: dict[str, str] = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "dct": "http://purl.org/dc/terms/",
    "dbo": "http://dbpedia.org/ontology/",
    "dbr": "http://dbpedia.org/resource/",
    "dbp": "http://dbpedia.org/property/",
    "ex": "http://example.org/ontology/",
    "conv": "http://example.org/conv/",
}


def full_uri(prefixed: str, namespaces: dict[str, str] | None = None) -> str:
    """Expand `foaf:name` -> full IRI (RdfNamespace.fullUri,
    utils/RdfNamespace.scala:138-141). Unknown prefix -> returned unchanged."""
    ns = namespaces or NAMESPACES
    if ":" in prefixed and not prefixed.startswith("http"):
        pfx, local = prefixed.split(":", 1)
        if pfx in ns:
            return ns[pfx] + local
    return prefixed


def prefixed_name(col: Column, namespaces: dict[str, str] | None = None) -> Column:
    """IRI -> `prefix-localName` (the DumpSplitter dataset naming,
    scripts/DumpSplitter.scala:49-57) as a Catalyst expression chain over the
    registry; unregistered namespaces fall back to the bare local name."""
    ns = namespaces or NAMESPACES
    expr = None
    # longest namespace first so dbo: wins over a shorter shared base
    for pfx, base in sorted(ns.items(), key=lambda kv: -len(kv[1])):
        cond = col.startswith(base)
        val = F.concat(F.lit(pfx + "-"), F.substring(col, len(base) + 1, 10_000))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(local_name(col))


def local_name(col: Column) -> Column:
    """IRI -> local name after the last '/', '#' or ':' — the namespace-split
    used for predicate file naming (ref: utils/RdfNamespace.scala:45-56,
    scripts/DumpSplitter.scala:49-57). Pure Catalyst."""
    return F.regexp_extract(col, r"([^/#:]+)$", 1)


def safe_partition_value(col: Column) -> Column:
    """Sanitize a predicate IRI into a filesystem-safe partition value
    (the `<nsPrefix>-<localName>` naming of DumpSplitter.scala:49-57)."""
    return F.regexp_replace(local_name(col), r"[^A-Za-z0-9_.-]", "_")


def camel_case_expr(col: Column) -> Column:
    """camelCase as a pure Catalyst expression: split on whitespace/
    underscore runs, first word unchanged, remaining words get their first
    char uppercased with the REST UNTOUCHED (initcap would lowercase it) —
    ref: utils/RichString.scala:70-74 toCamelCase. JVM upper() is applied to
    a single leading char; for the ligature edge cases (ß/ﬁ/ﬂ first chars)
    use oracle.camel_case via a pandas UDF instead."""
    # explicit whitespace class == RE2's \s (see functions.text.WS_RE):
    # the camelcase_mint oracle splits on RE2 '[\s_]+', and Java's \s
    # would additionally match \x0B (round-5 review finding)
    words = F.filter(F.split(col, "[ \t\n\f\r_]+"), lambda w: w != "")
    tail = F.aggregate(
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        F.lit(""),
        lambda acc, w: F.concat(
            acc,
            F.upper(w.substr(F.lit(1), F.lit(1))),
            w.substr(F.lit(2), F.length(w)),
        ),
    )
    return F.when(F.size(words) == 0, F.lit("")).otherwise(
        F.concat(F.element_at(words, 1), tail)
    )


def tool_predicate(col: Column, base: str = "http://example.org/ontology/") -> Column:
    """Mint a predicate IRI from a tool name: `sql_runner` ->
    ex:sqlRunner (the SURVEY §2 X10 mapping — camelCased predicate minting
    from tool names)."""
    return F.concat(F.lit(base), camel_case_expr(col))
