"""Output checks: a per-row oracle on a seeded sample, and an
order-independent fingerprint of the full output.

Every timed job ends in ONE aggregate (:func:`check_aggregate`) that returns
the row count, the fingerprint, the complete output rows of the sampled
conversations (or documents) and the identity hashes of the output rows
that belong to the oracle's expected set. :func:`verify_kg` and
:func:`verify_clusters` compare that result with the oracle, so each timed
job is checked at the cost of one aggregate the job needed anyway (its
count).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quad_processor_util_spark.oracle import (
    EX,
    Gazetteer,
    PyQuad,
    apply_overlap_policy,
    canonicalize_quads,
    dedup_quads,
    extract_conversation,
    find_unknown_mentions,
    resolve_canonical,
)

IDENTITY = ["subject", "predicate", "obj", "datatype", "language"]
QUAD_COLS = IDENTITY + ["graph"]
CONV_PREFIX = "http://example.org/conv/"


def check_aggregate(df: DataFrame, key_cols: list[str], sample_col: str,
                    sample_values: list, expected_hashes: list[int],
                    row_cols: list[str]) -> dict:
    """Run the job's final aggregate and return it as a dict.

    fp is the sum of xxhash64 over key_cols (order-independent; decimal so
    the sum cannot overflow), `sample` holds row_cols of every row whose
    sample_col is in sample_values, `hit` the key hashes that are in
    expected_hashes."""
    h = F.xxhash64(*key_cols)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("fp"),
        F.collect_list(F.when(F.col(sample_col).isin(sample_values),
                              F.struct(*row_cols))).alias("sample"),
        F.collect_set(F.when(h.isin(expected_hashes), h)).alias("hit"),
    )
    row = agg.collect()[0]
    return {"n": int(row["n"]), "fp": str(row["fp"] or 0),
            "sample": [tuple(r) for r in row["sample"]],
            "hit": set(row["hit"])}


def identity_hashes(spark, identities: set[tuple]) -> list[int]:
    """Spark's xxhash64 of each identity tuple (the same function the
    aggregate applies to output rows)."""
    if not identities:
        return []
    df = spark.createDataFrame(sorted(identities, key=repr),
                               ", ".join(f"{c} string" for c in IDENTITY))
    return [r[0] for r in df.select(F.xxhash64(*IDENTITY)).collect()]


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def _trigrams(s: str) -> set[str]:
    s = s.strip(" ").lower()
    k = len(s) - 2
    return {s[i:i + 3] for i in range(k)} if k > 0 else {s}


def link_reference(surfaces: set[str], catalog: list[tuple],
                   min_jaccard: float = 0.4) -> dict[str, str]:
    """Per-row reference for operators.linking.link_surface_forms:
    char-trigram Jaccard against every distinct catalog form, score =
    jaccard x form_weight, best score wins, ties to the smallest IRI."""
    forms = {f: _trigrams(f) for f in {r[1] for r in catalog}}
    by_form: dict[str, list[tuple]] = defaultdict(list)
    for iri, form, weight, _ in catalog:
        by_form[form].append((iri, weight))
    out = {}
    for s in surfaces:
        g = _trigrams(s)
        best = None
        for form, fg in forms.items():
            inter = len(g & fg)
            if not inter:
                continue
            jac = inter / (len(g) + len(fg) - inter)
            if jac < min_jaccard:
                continue
            for iri, weight in by_form[form]:
                key = (-(jac * weight), iri)
                if best is None or key < best:
                    best = key
        if best is not None:
            out[s] = best[1]
    return out


def kg_oracle(turns_by_conv: dict[str, list[tuple]], gaz: dict[str, str],
              edges: list[tuple] | None, catalog: list[tuple] | None,
              dedup: bool) -> dict[str, list[tuple]]:
    """Expected output rows per sampled graph IRI: extract_conversation
    (+ fuzzy-link quads when a catalog is given) -> canonicalize_quads
    (when alias edges are given) -> dedup_quads (when dedup)."""
    g = Gazetteer(gaz)
    mapping, excluded = resolve_canonical(edges) if edges is not None else ({}, set())
    surfaces = set()
    per_conv: dict[str, tuple[list, list]] = {}
    for conv, turns in turns_by_conv.items():
        quads = extract_conversation(turns, g, conv)
        unknown = []
        if catalog is not None:
            for turn_idx, _, text, _ in sorted(turns, key=lambda t: t[0]):
                ms = apply_overlap_policy(g.find_all(text or ""))
                for s in find_unknown_mentions(text or "", ms):
                    unknown.append((turn_idx, s))
                    surfaces.add(s)
        per_conv[conv] = (quads, unknown)
    links = link_reference(surfaces, catalog) if catalog is not None else {}
    out = {}
    for conv, (quads, unknown) in per_conv.items():
        graph = CONV_PREFIX + conv
        quads = list(quads) + [
            PyQuad(f"{graph}/turn/{ti}", EX + "mentions", links[s], None, None, graph)
            for ti, s in unknown if s in links]
        if edges is not None:
            quads = canonicalize_quads(quads, mapping, excluded)
        if dedup:
            quads = dedup_quads(quads)
        out[graph] = [(q.subject, q.predicate, q.obj, q.datatype, q.language,
                       q.graph) for q in quads]
    return out


# ---------------------------------------------------------------------------
# Verification
# ---------------------------------------------------------------------------


def verify_kg(res: dict, expected: dict[str, list[tuple]],
              expected_hashes: list[int], exact_multiset: bool) -> list[str]:
    """Problems found in a KG aggregate result (empty list = correct).

    exact_multiset: the output of the sampled graphs must equal the oracle
    row for row (no global dedup ran). Otherwise each sampled-graph row must
    be an oracle identity of its graph (global dedup keeps any one graph of
    a repeated identity) and every oracle identity must occur in the output.
    """
    problems = []
    got: dict[str, list[tuple]] = defaultdict(list)
    for r in res["sample"]:
        got[r[5]].append(r)
    for graph, rows in expected.items():
        if exact_multiset:
            if Counter(got.get(graph, [])) != Counter(rows):
                problems.append(f"{graph}: rows differ from the oracle")
        else:
            allowed = {r[:5] for r in rows}
            extra = [r for r in got.get(graph, []) if r[:5] not in allowed]
            if extra:
                problems.append(f"{graph}: {len(extra)} rows not in the oracle, "
                                f"e.g. {extra[0]}")
    if not exact_multiset:
        missing = set(expected_hashes) - res["hit"]
        if missing:
            problems.append(f"{len(missing)} oracle identities missing from output")
    return problems


def verify_clusters(res: dict, n_docs: int, family: np.ndarray,
                    tight: np.ndarray, min_recall: float = 0.9) -> list[str]:
    """Problems in a near-dup cluster result: every document labelled once;
    a sampled document's cluster id is itself or a smaller member of its
    planted family (precision); at least min_recall of the sampled
    documents of tight families are clustered with their family minimum.
    LSH is probabilistic: with 36 hashes in 6 bands a pair at Jaccard 0.8
    is missed ~14% of the time, and ~2-4% of tight-family members end up
    outside their family's cluster, so recall is a floor, not exact. Loose
    families sit near the threshold and are checked for precision only."""
    problems = []
    if res["n"] != n_docs:
        problems.append(f"{res['n']} rows for {n_docs} documents")
    fam_min: dict[int, int] = {}
    for d, f in enumerate(family.tolist()):
        fam_min[f] = min(fam_min.get(f, d), d)
    fam_size = Counter(family.tolist())
    dup, found = 0, 0
    for doc_id, cluster_id in res["sample"]:
        if cluster_id > doc_id or family[cluster_id] != family[doc_id]:
            problems.append(f"doc {doc_id} in foreign cluster {cluster_id}")
        if tight[doc_id] and fam_size[family[doc_id]] > 1:
            dup += 1
            found += cluster_id == fam_min[family[doc_id]]
    if dup and found < min_recall * dup:
        problems.append(f"recall {found}/{dup} below {min_recall}")
    return problems
