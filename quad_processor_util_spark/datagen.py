"""Deterministic synthetic data for the KG pipeline (FIXTURES.md schemas).

Everything is reproducible from one integer seed; no external data
(north rule). Generates, as pandas DataFrames:

- ``transcripts(conv_id, turn_idx, role, text, tool, ts)`` — the BASELINE.json
  input_hint shape; Zipf-ish conversation lengths (hot groups), rows emitted
  in SHUFFLED order so stable re-ordering is actually exercised.
- ``entity_catalog(entity_iri, surface_form, form_weight, entity_type)`` —
  gazetteer with overlapping/ambiguous forms (the CodePointComparatorTest
  family: Boston / Boston NOW / Boston.com).
- ``alias_edges(src_iri, dst_iri, edge_kind)`` — redirect chains to depth 5,
  a small cycle, sameAs edges, disambiguation sources, with head-entity skew.
- ``quad_lines(line)`` — raw N-Triples/N-Quads text for parser parity
  (mirrors Quad.unapply's surface, Quad.scala:189-265).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .oracle import DBR, Gazetteer, mint_dbpedia_iri

# ---------------------------------------------------------------------------
# Entity universe
# ---------------------------------------------------------------------------

_PEOPLE = [
    "Ada Lovelace", "Alan Turing", "Grace Hopper", "Edsger Dijkstra",
    "Barbara Liskov", "Donald Knuth", "John McCarthy", "Margaret Hamilton",
]
_ORGS = [
    "Analytical Engines Ltd", "Turing Institute", "Hopper Labs",
    "Dijkstra Foundation", "Liskov Systems", "Knuth Press",
]
_CITIES = [
    "London", "Cambridge", "Boston", "Amsterdam", "Zurich", "Helsinki",
    "New York City", "San Francisco",
]
_TOOLS = ["search", "calculator", "code_interpreter", "web_browser", "sql_runner"]


def build_entity_catalog() -> pd.DataFrame:
    rows = []

    def add(name: str, etype: str, aliases: list[str], weight: float = 1.0):
        iri = mint_dbpedia_iri(name)
        rows.append((iri, name, weight, etype))
        for a in aliases:
            rows.append((iri, a, weight * 0.5, etype))

    for p in _PEOPLE:
        last = p.split()[-1]
        add(p, "person", [last] if last not in {"City"} else [])
    for o in _ORGS:
        add(o, "org", [])
    for c in _CITIES:
        add(c, "city", [])
    # ambiguous / overlapping family (SURVEY §2 CodePointComparatorTest family)
    rows.append((mint_dbpedia_iri("Boston NOW"), "Boston NOW", 0.3, "org"))
    rows.append((mint_dbpedia_iri("Boston.com"), "Boston.com", 0.3, "org"))
    rows.append((mint_dbpedia_iri("New York City"), "New York", 0.4, "city"))
    df = pd.DataFrame(rows, columns=["entity_iri", "surface_form", "form_weight", "entity_type"])
    return df.drop_duplicates(["entity_iri", "surface_form"]).reset_index(drop=True)


def build_gazetteer(catalog: pd.DataFrame) -> Gazetteer:
    """surface -> IRI; on duplicate surface forms the max-weight row wins
    (deterministic tie-break by IRI) — the linking prior (SolrLoader.scala:153-154)."""
    best = (
        catalog.sort_values(["surface_form", "form_weight", "entity_iri"],
                            ascending=[True, False, True])
        .drop_duplicates("surface_form")
    )
    return Gazetteer(dict(zip(best["surface_form"], best["entity_iri"])))


def build_alias_edges(seed: int = 42) -> pd.DataFrame:
    """Redirect chains (depth<=5), one small cycle, sameAs, disambiguation
    sources; head-entity skew: a few canonical IRIs get >=20% of edges."""
    rng = np.random.default_rng(seed)
    rows = []
    # alias chains into the real entities: Alias_{k}_{i} -> ... -> canonical
    canon = [mint_dbpedia_iri(n) for n in _PEOPLE + _ORGS + _CITIES]
    hot = canon[:3]  # head-entity skew targets
    for i in range(240):
        target = hot[i % 3] if i < 120 else canon[int(rng.integers(0, len(canon)))]
        depth = int(rng.integers(1, 6))
        prev = target
        for d in range(depth):
            node = f"{DBR}Alias_{i}_{d}"
            rows.append((node, prev, "redirect" if d % 2 == 0 else "sameAs"))
            prev = node
    # a small cycle (CC must converge anyway)
    rows.append((f"{DBR}CycleA", f"{DBR}CycleB", "sameAs"))
    rows.append((f"{DBR}CycleB", f"{DBR}CycleC", "sameAs"))
    rows.append((f"{DBR}CycleC", f"{DBR}CycleA", "sameAs"))
    # disambiguation sources (anti-joined out, SolrLoader.scala:124-127)
    for n in ["Mercury", "Phoenix", "Paris_TX"]:
        rows.append((DBR + n, canon[0], "disambiguation"))
    return pd.DataFrame(rows, columns=["src_iri", "dst_iri", "edge_kind"])


# ---------------------------------------------------------------------------
# Transcripts
# ---------------------------------------------------------------------------

_NOISE = [
    "Let me check the docs for that.",
    "Here is the summary you asked for — café résumé naïve.",
    'She said "hello" and left a \\ backslash.',
    "Totally unrelated chit-chat about the weather.",
    "Numbers like 42 and 3.14 appear here.",
]


def _make_text(rng: np.random.Generator, names: list[str], cities: list[str],
               orgs: list[str]) -> str:
    """One templated sentence; ~60% carry a relation, rest noise."""
    r = rng.random()
    a = names[int(rng.integers(0, len(names)))]
    b = orgs[int(rng.integers(0, len(orgs)))]
    c = cities[int(rng.integers(0, len(cities)))]
    if r < 0.15:
        return f"{a} works at {b}."
    if r < 0.28:
        return f"{a} was born in {c}."
    if r < 0.38:
        return f"{a} founded {b}."
    if r < 0.46:
        return f"{b} is located in {c}."
    if r < 0.52:
        pop = int(rng.integers(1000, 9_000_000))
        return f"{c} has population {pop}."
    if r < 0.58:
        lang = ["en", "es", "de", "pt-br"][int(rng.integers(0, 4))]
        return f'{a} is known as "The {a.split()[0]}"@{lang}.'
    if r < 0.64:
        d = names[int(rng.integers(0, len(names)))]
        return f"{a} collaborated with {d}."
    return _NOISE[int(rng.integers(0, len(_NOISE)))]


def build_transcripts(n_convs: int = 200, seed: int = 42) -> pd.DataFrame:
    """Deterministic transcripts table. Zipf-distributed lengths in [1, 200];
    rows returned in shuffled order (stable-ordering is exercised)."""
    rng = np.random.default_rng(seed)
    lengths = np.minimum(1 + (rng.zipf(1.6, n_convs) % 200), 200)
    names, cities, orgs = _PEOPLE, _CITIES, _ORGS
    recs = []
    base_ts = np.datetime64("2026-01-01T00:00:00")
    for ci in range(n_convs):
        conv = f"conv-{ci:08d}"
        t = base_ts + np.timedelta64(int(rng.integers(0, 86400 * 30)), "s")
        for ti in range(int(lengths[ci])):
            roll = rng.random()
            if roll < 0.45:
                role, tool = "user", None
            elif roll < 0.85:
                role, tool = "assistant", None
            else:
                role, tool = "tool", _TOOLS[int(rng.integers(0, len(_TOOLS)))]
            text = _make_text(rng, names, cities, orgs)
            t = t + np.timedelta64(int(rng.integers(1, 120)), "s")
            recs.append((conv, ti, role, text, tool, t))
    df = pd.DataFrame(recs, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # Spark's parquet reader rejects TIMESTAMP(NANOS) — write micros
    df["ts"] = df["ts"].astype("datetime64[us]")
    # shuffled emit order (FIXTURES.md §1)
    perm = np.random.default_rng(seed + 1).permutation(len(df))
    return df.iloc[perm].reset_index(drop=True)


# ---------------------------------------------------------------------------
# Raw quad lines (parser parity fixture, FIXTURES.md §2)
# ---------------------------------------------------------------------------


def build_quad_lines() -> pd.DataFrame:
    good = [
        "<http://ex.org/s1> <http://ex.org/p> <http://ex.org/o1> .",
        '<http://ex.org/s1> <http://ex.org/p> "plain lit" .',
        '<http://ex.org/s2> <http://ex.org/p> "olá mundo"@pt-br .',
        '<http://ex.org/s2> <http://ex.org/p> "3.14"^^<http://www.w3.org/2001/XMLSchema#double> .',
        "<http://ex.org/s3> <http://ex.org/p> <http://ex.org/o2> <http://ex.org/g1> .",
        '\t <http://ex.org/s4> <http://ex.org/p> "tabs ok" .  ',
        '<http://ex.org/s5> <http://ex.org/p> "esc \\" quote and \\\\ backslash" .',
        '<http://ex.org/s6> <http://ex.org/p> "astral \\U0001F600 and bmp \\u00E9" .',
        '<http://ex.org/s7> <http://ex.org/p> "lit in graph"@en <http://ex.org/g2> .',
    ]
    skipped = [
        "# a comment line",
        "",
        "   ",
        "<http://ex.org/bad> <http://ex.org/p> <http://ex.org/o>",  # missing .
        "<http://ex.org/unclosed <http://ex.org/p> <http://ex.org/o> .",  # unclosed >
        '<http://ex.org/s> <http://ex.org/p> "x"@EN .',  # bad lang tag (uppercase)
        "not a triple at all",
    ]
    return pd.DataFrame({"line": good + skipped})
