"""Seeded, numpy-vectorized input generators for the benchmark workloads.

Every table is a pure function of (workload spec, seed): the same seed gives
byte-identical parquet files. No per-row Python loops over turns or
documents; strings are assembled column-wise with pyarrow compute kernels.

The generators deliberately do not reuse the package's ``datagen`` module:
its per-row transcript builder costs ~23 us/turn and may change under later
commits, which would move the benchmark's inputs together with the code.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DBR = "http://dbpedia.org/resource/"
TOOLS = np.array(["search", "calculator", "code_interpreter", "web_browser",
                  "sql_runner"], dtype=object)
NOISE = np.array([
    "Let me check the docs for that.",
    "Here is the summary you asked for.",
    "Totally unrelated chit-chat about the weather.",
    "Numbers like 42 and 3.14 appear here.",
], dtype=object)
LANGS = np.array(["en", "es", "de", "pt-br"], dtype=object)

_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "ch", "dr", "gr", "kr", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
_CODAS = ["", "n", "r", "l", "s", "th", "nd", "rk", "x"]


def _syllables() -> np.ndarray:
    return np.array([o + v + c for o in _ONSETS for v in _VOWELS
                     for c in _CODAS], dtype=object)


def _words(rng: np.random.Generator, n: int, n_syl: tuple[int, int],
           capital: bool) -> np.ndarray:
    """n distinct synthetic words of n_syl[0]..n_syl[1] syllables."""
    syl = _syllables()
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(n_syl[0], n_syl[1] + 1))
        w = "".join(syl[rng.integers(0, len(syl), k)])
        if capital:
            w = w.capitalize()
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def _join(*parts) -> pa.Array:
    """Element-wise concatenation of arrays and scalar strings."""
    cols = [p if isinstance(p, str) else pa.array(p, pa.string())
            for p in parts]
    return pc.binary_join_element_wise(*cols, "")


def _mint(names: np.ndarray) -> np.ndarray:
    return np.array([DBR + s.replace(" ", "_") for s in names], dtype=object)


# ---------------------------------------------------------------------------
# Entity universe and gazetteer
# ---------------------------------------------------------------------------


def entity_catalog(rng: np.random.Generator, n_people: int, n_orgs: int,
                   n_cities: int) -> dict:
    """People 'First Last' plus their surname as a half-weight alias (the
    surname is contained in the full name, so the gazetteer has overlaps),
    organisations named after a surname ('Last Labs' also contains the
    surname), and cities. Returns the catalog table and the name arrays."""
    firsts = _words(rng, max(8, n_people // 4), (2, 2), capital=True)
    lasts = _words(rng, n_people + n_cities, (2, 3), capital=True)
    people = np.array([f"{firsts[i % len(firsts)]} {lasts[i]}"
                       for i in range(n_people)], dtype=object)
    suffixes = np.array(["Labs", "Institute", "Systems", "Press", "Foundation"],
                        dtype=object)
    orgs = np.array([f"{lasts[i % n_people]} {suffixes[i % len(suffixes)]}"
                     for i in range(n_orgs)], dtype=object)
    cities = np.array([w + "ton" for w in lasts[n_people:n_people + n_cities]],
                      dtype=object)
    people_iri, org_iri, city_iri = _mint(people), _mint(orgs), _mint(cities)
    surnames = np.array([p.split(" ")[1] for p in people], dtype=object)
    catalog = pa.table({
        "entity_iri": np.concatenate([people_iri, people_iri, org_iri, city_iri]),
        "surface_form": np.concatenate([people, surnames, orgs, cities]),
        "form_weight": np.concatenate([
            np.ones(n_people), np.full(n_people, 0.5),
            np.ones(n_orgs), np.ones(n_cities)]),
        "entity_type": np.concatenate([
            np.full(2 * n_people, "person", dtype=object),
            np.full(n_orgs, "org", dtype=object),
            np.full(n_cities, "city", dtype=object)]),
    })
    return {"catalog": catalog, "people": people, "orgs": orgs,
            "cities": cities, "people_iri": people_iri, "org_iri": org_iri,
            "city_iri": city_iri}


# ---------------------------------------------------------------------------
# Transcripts
# ---------------------------------------------------------------------------


def _conv_lengths(rng: np.random.Generator, n_turns: int, max_len: int,
                  zipf_a: float) -> np.ndarray:
    """Zipf conversation lengths in [1, max_len] summing to exactly n_turns."""
    lens = np.clip(rng.zipf(zipf_a, n_turns), 1, max_len)
    cut = int(np.searchsorted(np.cumsum(lens), n_turns))
    lens = lens[:cut + 1].copy()
    lens[-1] -= int(lens.sum()) - n_turns
    return lens[lens > 0]


def _sentences(rng: np.random.Generator, n: int, ent: dict,
               typo_share: float) -> pa.Array:
    """n templated sentences: relation templates over the entity universe,
    population and label literals, noise, and (typo_share of rows)
    capitalised misspelt person names for the fuzzy-linking stage."""
    people, orgs, cities = ent["people"], ent["orgs"], ent["cities"]
    ai = rng.integers(0, len(people), n)
    a = people[ai]
    d = people[rng.integers(0, len(people), n)]
    b = orgs[rng.integers(0, len(orgs), n)]
    c = cities[rng.integers(0, len(cities), n)]
    pop = rng.integers(1000, 9_000_000, n).astype(str).astype(object)
    lang = LANGS[rng.integers(0, len(LANGS), n)]
    first = np.array([p.split(" ")[0] for p in people], dtype=object)[
        rng.integers(0, len(people), n)]
    noise = NOISE[rng.integers(0, len(NOISE), n)]
    # misspelt names, three per person (one interior surname letter
    # dropped), built over the entity dimension and indexed per row
    typos = np.array([[p[:len(p) - k - 1] + p[len(p) - k:] for k in (1, 2, 3)]
                      for p in people], dtype=object)
    typo = typos[ai, rng.integers(0, 3, n)]
    variants = [
        _join(a, " works at ", b, "."),
        _join(a, " was born in ", c, "."),
        _join(a, " founded ", b, "."),
        _join(b, " is located in ", c, "."),
        _join(c, " has population ", pop, "."),
        _join(a, ' is known as "The ', first, '"@', lang, "."),
        _join(a, " collaborated with ", d, "."),
        pa.array(noise, pa.string()),
        _join("I met ", typo, " yesterday."),
    ]
    base = np.array([0.15, 0.13, 0.10, 0.08, 0.06, 0.06, 0.06, 0.36, 0.0])
    base = base * (1.0 - typo_share) / base.sum()
    base[-1] = typo_share
    choice = rng.choice(len(variants), size=n, p=base)
    return pc.choose(pa.array(choice, pa.int8()), *variants)


def transcripts(rng: np.random.Generator, ent: dict, n_turns: int,
                sentences_per_turn: int = 1, tool_share: float = 0.15,
                typo_share: float = 0.0, shuffled: bool = True) -> pa.Table:
    """(conv_id, turn_idx, role, text, tool, ts) with exactly n_turns rows in
    conversations of Zipf(1.6) length, capped at 200 turns.
    shuffled=True emits rows in random order (stable ordering is exercised);
    otherwise rows are sorted by (conv_id, turn_idx), the bucketed layout."""
    lens = _conv_lengths(rng, n_turns, 200, 1.6)
    conv_ix = np.repeat(np.arange(len(lens)), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    turn_idx = (np.arange(n_turns) - starts).astype(np.int32)
    conv_id = _join("conv-", pc.utf8_lpad(
        pa.array(conv_ix.astype(str).astype(object), pa.string()), 8, "0"))
    text = _sentences(rng, n_turns, ent, typo_share)
    for _ in range(sentences_per_turn - 1):
        text = _join(text, " ", _sentences(rng, n_turns, ent, typo_share))
    roll = rng.random(n_turns)
    role = np.where(roll < 1.0 - tool_share,
                    np.where(roll < 0.45, "user", "assistant"), "tool")
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), n_turns)],
                    None)
    t0 = np.datetime64("2026-01-01T00:00:00", "us")
    ts = t0 + np.cumsum(rng.integers(1, 120, n_turns)).astype("timedelta64[s]")
    table = pa.table({
        "conv_id": conv_id,
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(role.astype(object), pa.string()),
        "text": text,
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts.astype("datetime64[us]")),
    })
    if shuffled:
        table = table.take(pa.array(rng.permutation(n_turns)))
    return table


# ---------------------------------------------------------------------------
# Alias graphs
# ---------------------------------------------------------------------------


def alias_graph(rng: np.random.Generator, targets: np.ndarray, n_chains: int,
                max_depth: int, disambiguation: np.ndarray
                ) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """Redirect/sameAs chains of depth 1..max_depth into `targets`, with half
    of the chains landing on the first three targets (head-entity skew),
    one 3-cycle, and disambiguation edges from `disambiguation`.
    Returns the edge table and, per chain, its deepest alias IRI and its
    target."""
    depth = rng.integers(1, max_depth + 1, n_chains)
    hot = rng.random(n_chains) < 0.5
    tgt = np.where(hot, targets[rng.integers(0, min(3, len(targets)), n_chains)],
                   targets[rng.integers(0, len(targets), n_chains)])
    chain = np.repeat(np.arange(n_chains), depth)
    level = np.arange(int(depth.sum())) - np.repeat(np.cumsum(depth) - depth, depth)
    node = _join(DBR + "Alias_", chain.astype(str).astype(object), "_",
                 level.astype(str).astype(object))
    node_np = np.asarray(node.to_pylist(), dtype=object)
    # level 0 points at the target, level k at level k-1 of the same chain
    prev = np.empty(len(node_np), dtype=object)
    first = level == 0
    prev[first] = tgt[chain[first]]
    prev[~first] = node_np[np.flatnonzero(~first) - 1]
    kind = np.where(level % 2 == 0, "redirect", "sameAs").astype(object)
    src = [node_np, np.array([DBR + "CycleA", DBR + "CycleB", DBR + "CycleC"],
                             dtype=object)]
    dst = [prev, np.array([DBR + "CycleB", DBR + "CycleC", DBR + "CycleA"],
                          dtype=object)]
    kinds = [kind, np.full(3, "sameAs", dtype=object)]
    src.append(disambiguation)
    dst.append(targets[rng.integers(0, len(targets), len(disambiguation))])
    kinds.append(np.full(len(disambiguation), "disambiguation", dtype=object))
    edges = pa.table({
        "src_iri": pa.array(np.concatenate(src), pa.string()),
        "dst_iri": pa.array(np.concatenate(dst), pa.string()),
        "edge_kind": pa.array(np.concatenate(kinds), pa.string()),
    })
    deepest = node_np[np.cumsum(depth) - 1]
    return edges, deepest, tgt


# ---------------------------------------------------------------------------
# Documents with planted near-duplicate clusters
# ---------------------------------------------------------------------------


def documents(rng: np.random.Generator, n_docs: int, doc_words: int,
              dup_share: float, family_size: int
              ) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """(doc_id, text): base documents over a 4,000-word vocabulary plus
    planted near-duplicate families. A family is a base document and
    family_size - 1 variants. In a tight family each variant has 1 word
    replaced (Jaccard ~0.9 to the base, ~0.8 between variants). In a loose
    family (30% of families) it has 5 (Jaccard ~0.6: LSH proposes some of
    these pairs and verification rejects most).
    Returns the table and, per document, its family id (base documents
    are their own family) and whether that family is tight."""
    vocab, edits, loose_edits = 4000, 1, 5
    words = _words(rng, vocab, (1, 3), capital=False)
    n_fam = int(n_docs * dup_share) // family_size
    n_base = n_docs - n_fam * (family_size - 1)
    # a quarter of the words come from 40 common ones, so unrelated
    # documents share some shingles and LSH verification has work to reject
    common = rng.random((n_base, doc_words)) < 0.25
    ix = np.where(common, rng.integers(0, 40, (n_base, doc_words)),
                  rng.integers(0, vocab, (n_base, doc_words)))
    fam_of_variant = np.repeat(np.arange(n_fam), family_size - 1)
    fam_tight = np.ones(n_base, dtype=bool)
    fam_tight[:n_fam] = rng.random(n_fam) >= 0.3
    var = ix[fam_of_variant].copy()
    n_edits = np.where(fam_tight[fam_of_variant], edits, loose_edits)
    for k in range(max(edits, loose_edits)):
        rows = np.flatnonzero(n_edits > k)
        pos = rng.integers(0, doc_words, len(rows))
        var[rows, pos] = rng.integers(0, vocab, len(rows))
    all_ix = np.concatenate([ix, var])
    family = np.concatenate([np.arange(n_base), fam_of_variant])
    perm = rng.permutation(n_docs)
    all_ix, family = all_ix[perm], family[perm]
    flat = pa.array(words[all_ix.ravel()], pa.string())
    offsets = pa.array(np.arange(0, n_docs * doc_words + 1, doc_words,
                                 dtype=np.int32))
    text = pc.binary_join(pa.ListArray.from_arrays(offsets, flat), " ")
    table = pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                      "text": text})
    return table, family, fam_tight[family]


# ---------------------------------------------------------------------------
# Parquet layout
# ---------------------------------------------------------------------------


def write_parquet(table: pa.Table, path: str, files: int = 1,
                  split_col: str | None = None) -> str:
    """Write `table` as a directory of `files` parquet files, one row group
    each. With split_col the files cut only where split_col changes, so a
    sorted table keeps every group (a conversation) inside one file and one
    scan partition — the bucketed layout extract_quads(assume_bucketed=True)
    trusts."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    cuts = np.linspace(0, n, files + 1).astype(int)
    if split_col is not None:
        keys = np.asarray(table.column(split_col).to_pylist(), dtype=object)
        change = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        ends = change[np.minimum(np.searchsorted(change, cuts[1:-1]),
                                 len(change) - 1)]
        cuts = np.unique(np.concatenate([[0], ends, [n]]))
    for i, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=max(1, hi - lo))
    return path
