"""Vectorized extraction (plans/extract_vec.extract_batch_arrow, the body
of the extraction mapInArrow closure) must be byte-identical — rows,
values, and per-row order — to the per-row oracle path
(_extract_batch_rows), across policies, overlap shapes, and the fixture
transcripts. Linked extraction is the kernel's placeholders rewritten by
link_placeholder_batch, checked against the oracle's placeholders mapped
through SurfaceLinker.best here."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from quad_processor_util_spark.datagen import (
    build_entity_catalog,
    build_gazetteer,
    build_transcripts,
)
from quad_processor_util_spark.operators.linking import (
    SurfaceLinker,
    catalog_rows,
)
from quad_processor_util_spark.oracle import (
    EX,
    QUAD_FIELDS,
    XSD_STRING,
    Gazetteer,
)
from quad_processor_util_spark.plans.extract_vec import (
    _extract_batch_rows,
    extract_batch_arrow,
    link_placeholder_batch,
)

# The columns extract_quads hands the closure, typed as Spark sends them
TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
])


def _frame(texts, roles=None, tools=None):
    n = len(texts)
    return pd.DataFrame(
        {
            "conv_id": [f"c{i % 3}" for i in range(n)],
            "turn_idx": np.arange(n, dtype="int32"),
            "role": roles or ["user"] * n,
            "text": texts,
            "tool": tools or [None] * n,
            "ts": pd.Timestamp("2026-01-01"),
        }
    )


ADVERSARIAL_TEXTS = [
    "Ada Lovelace works at Turing Institute.",
    "Alan Turing Institute is a staggered overlap trap.",  # staggered forms
    "New York City has population 8000000.",
    "Boston NOW covered Boston.com and Boston.",
    'Grace Hopper is known as "The Grace"@en.',
    'Edsger Dijkstra is known as "esc \\" quote"@pt-br.',
    "York City York City New York City",  # repeated + shared tokens
    "",  # empty
    None,  # null text
    "no mentions at all, just chit-chat",
    "Ada Lovelace, founded Analytical Engines Ltd.",  # comma-stripped connector
    "Turing Institute is located in Cambridge.",
    "London has population 9000000. Cambridge has population 123456.",
    "Unknown Capitalized Run and Another Unknown thing.",
    "Ada Lovelace collaborated with Alan Turing.",
    "Helsinki",  # bare mention, nothing else
    "Knuth Press Knuth Press",  # adjacent same mentions, no connector
]


@pytest.fixture(scope="module")
def gaz():
    return build_gazetteer(build_entity_catalog())


def _linker():
    """The entity catalog plus forms close to the unknown capitalized runs
    of the test texts (and one that several texts share)."""
    rows = catalog_rows(build_entity_catalog(), "test")
    rows += [("http://e/unknown", "Unknown Capitalised Run", 1.0),
             ("http://e/another", "Another Unknown", 0.5),
             ("http://e/now", "NOW", 1.0),
             ("http://e/city", "City", 1.0),
             ("http://e/cafe", "Café", 1.0)]
    return SurfaceLinker(rows)


def _to_batch(pdf, schema=TRANSCRIPT_SCHEMA, offset=0):
    """pandas frame -> Arrow RecordBatch with the Spark transcript schema.
    offset > 0 builds the batch as a slice of a longer one, so every
    column starts at a nonzero array offset."""
    src = pd.concat([pdf.iloc[:offset], pdf]) if offset else pdf
    rb = pa.RecordBatch.from_pandas(src[schema.names], schema=schema,
                                    preserve_index=False)
    return rb.slice(offset)


def _link_rows(pdf, linker):
    """The per-row reference for linking: each placeholder row mapped
    through linker.best in place, or dropped when it does not link."""
    rows = []
    for r in pdf.to_dict("records"):
        if r["predicate"] == EX + "mentionSurface":
            pick = linker.best(r["obj"])
            if pick is None:
                continue
            r.update(predicate=EX + "mentions", obj=pick[0], datatype=None,
                     language=None)
        rows.append(r)
    return pd.DataFrame(rows, columns=QUAD_FIELDS)


def _check_parity(pdf, gaz, policy="LONGEST_DOMINANT_RIGHT", emit_unknown=False,
                  schema=TRANSCRIPT_SCHEMA, offset=0, linker=None):
    """extract_batch_arrow vs the per-row oracle, column by column; returns
    the oracle's frame. With a linker, the route extract_quads(catalog=)
    runs: placeholders from the kernel, then link_placeholder_batch."""
    rb = _to_batch(pdf, schema, offset)
    if linker is None:
        exp = _extract_batch_rows(pdf, gaz, policy, emit_unknown)
        got = extract_batch_arrow(rb, gaz, policy, emit_unknown)
    else:
        exp = _link_rows(_extract_batch_rows(pdf, gaz, policy, True), linker)
        got = extract_batch_arrow(rb, gaz, policy, True)
        if got is not None:
            got = link_placeholder_batch(got, linker)
    if got is None:
        assert len(exp) == 0
        return exp
    assert got.schema.names == exp.columns.tolist()
    assert got.num_rows == len(exp), f"{got.num_rows} vs {len(exp)}"
    for c in exp.columns:
        a = got.column(c).to_pylist()
        b = exp[c].tolist()
        assert a == b, f"column {c}: first diff at " + str(
            next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        )
    return exp


@pytest.mark.parametrize("policy", ["LONGEST_DOMINANT_RIGHT", "ALL", "NO_SUB"])
@pytest.mark.parametrize("emit_unknown", [False, True])
def test_adversarial_parity(gaz, policy, emit_unknown):
    roles = ["tool" if i % 5 == 0 else "user" for i in range(len(ADVERSARIAL_TEXTS))]
    tools = ["search" if i % 5 == 0 else None for i in range(len(ADVERSARIAL_TEXTS))]
    pdf = _frame(ADVERSARIAL_TEXTS, roles, tools)
    _check_parity(pdf, gaz, policy, emit_unknown)


@pytest.mark.parametrize("emit_unknown", [False, True])
def test_fixture_transcripts_parity(gaz, emit_unknown):
    pdf = build_transcripts(n_convs=80, seed=7)
    _check_parity(pdf, gaz, emit_unknown=emit_unknown)


def test_empty_batch(gaz):
    exp = _check_parity(_frame([]), gaz)
    assert len(exp) == 0
    assert exp.columns.tolist() == list(QUAD_FIELDS)


def test_nul_separator_fallback(gaz):
    """Texts containing \\x00 (the mega-string's row separator) take the
    one vectorized route and still match the per-row oracle."""
    pdf = _frame(["Ada Lovelace works at Hopper Labs.", "weird\x00byte Ada Lovelace"])
    _check_parity(pdf, gaz)


def test_staggered_overlap_detected():
    """ADVICE regression: 'New York' vs 'York City' are staggered (suffix of
    one is a prefix of the other) — must take the overlap-aware path and
    find BOTH candidate mentions in 'New York City'."""
    g = Gazetteer({"New York": "http://e/NY", "York City": "http://e/YC"})
    assert g.has_overlaps
    found = {(m.start, m.end, m.surface) for m in g.find_all("New York City")}
    assert (0, 8, "New York") in found
    assert (4, 13, "York City") in found
    pdf = _frame(["in New York City today", "York City New York, New York City"])
    for policy in ["LONGEST_DOMINANT_RIGHT", "ALL", "NO_SUB"]:
        _check_parity(pdf, g, policy)


def test_self_overlapping_form():
    # 'a b a' can overlap itself in 'a b a b a' (junctions are spaces, so the
    # word-boundary lookarounds admit both occurrences)
    g = Gazetteer({"a b a": "http://e/aba"})
    assert g.has_overlaps
    _check_parity(_frame(["a b a b a", "x a b a"]), g)
    # 'aba' canNOT self-overlap: the junction char is alnum, which the
    # boundary lookarounds reject — stays on the fast path
    assert not Gazetteer({"aba": "http://e/aba"}).has_overlaps


def test_overlap_free_gazetteer_fast_path():
    g = Gazetteer({"alpha": "http://e/a", "beta": "http://e/b"})
    assert not g.has_overlaps
    _check_parity(_frame(["alpha met beta", "beta beta alpha"]), g)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _WORDS = ["Ada", "Ada Lovelace", "Lovelace", "New York", "York City",
              "New York City", "Boston", "Boston NOW", "works", "at",
              "has", "population", "is", "known", "as", "the", "42",
              "café", '"x"@en', ",", ".", "a b a"]

    @st.composite
    def _texts(draw):
        n = draw(st.integers(1, 12))
        return " ".join(draw(st.sampled_from(_WORDS)) for _ in range(n))

    _GAZ_FORMS = st.sets(
        st.sampled_from(["Ada", "Ada Lovelace", "Lovelace", "New York",
                         "York City", "New York City", "Boston",
                         "Boston NOW", "a b a", "42"]),
        min_size=1, max_size=8,
    )

    @given(forms=_GAZ_FORMS,
           texts=st.lists(_texts(), min_size=1, max_size=8),
           policy=st.sampled_from(["LONGEST_DOMINANT_RIGHT", "ALL", "NO_SUB"]),
           emit_unknown=st.booleans())
    @settings(max_examples=150, deadline=None)
    def test_property_parity(forms, texts, policy, emit_unknown):
        g = Gazetteer({f: f"http://e/{i}" for i, f in enumerate(sorted(forms))})
        _check_parity(_frame(texts), g, policy, emit_unknown)

    @st.composite
    def _hostile_text(draw):
        """Words, NUL bytes and arbitrary unicode; sometimes NULL, and
        sometimes repeated past 10 kB."""
        kind = draw(st.sampled_from(["words", "null", "long"]))
        if kind == "null":
            return None
        parts = draw(st.lists(
            st.one_of(st.sampled_from(_WORDS + [
                "\x00", "Ada\x00Lovelace", "\x00Ada", "Lovelace\x00",
                "works at\x00"]),
                      st.text(max_size=12)),
            min_size=1, max_size=10))
        text = " ".join(parts)
        if kind == "long":
            text = (text + " ") * (10_240 // (len(text) + 1) + 1)
        return text

    @st.composite
    def _hostile_batch(draw):
        texts = draw(st.lists(_hostile_text(), min_size=1, max_size=6))
        if draw(st.booleans()):  # every text unique: no template reuse
            texts = [f"{t or ''} Boston {i}" for i, t in enumerate(texts)]
        n = len(texts)
        tools = draw(st.lists(st.sampled_from([None, "", "sql_runner"]),
                              min_size=n, max_size=n))
        return pd.DataFrame({
            "conv_id": [f"c{i % 2}" for i in range(n)],
            "turn_idx": pd.Series(
                draw(st.lists(st.one_of(st.none(), st.integers(0, 99)),
                              min_size=n, max_size=n)), dtype=object),
            "role": ["tool" if t is not None else "user" for t in tools],
            "text": texts,
            "tool": tools,
        })

    @given(forms=_GAZ_FORMS, pdf=_hostile_batch(),
           policy=st.sampled_from(["LONGEST_DOMINANT_RIGHT", "ALL", "NO_SUB"]),
           emit_unknown=st.booleans())
    @settings(max_examples=60, deadline=None)
    def test_adversarial_property_parity(forms, pdf, policy, emit_unknown):
        """NUL bytes in text, NULL turn_idx and tool, >10 kB texts and
        all-unique batches: the Arrow kernel still matches the per-row
        oracle row for row."""
        g = Gazetteer({f: f"http://e/{i}" for i, f in enumerate(sorted(forms))})
        schema = TRANSCRIPT_SCHEMA.set(1, pa.field("turn_idx", pa.int64()))
        _check_parity(pdf, g, policy, emit_unknown, schema=schema)

    @given(forms=_GAZ_FORMS, pdf=_hostile_batch(),
           policy=st.sampled_from(["LONGEST_DOMINANT_RIGHT", "ALL", "NO_SUB"]))
    @settings(max_examples=60, deadline=None)
    def test_linked_property_parity(forms, pdf, policy):
        """The same hostile batches with the kernel's placeholders linked
        by link_placeholder_batch (texts with \\x00 included) against
        the per-row oracle's placeholders mapped through the same
        SurfaceLinker."""
        g = Gazetteer({f: f"http://e/{i}" for i, f in enumerate(sorted(forms))})
        schema = TRANSCRIPT_SCHEMA.set(1, pa.field("turn_idx", pa.int64()))
        _check_parity(pdf, g, policy, schema=schema, linker=_linker())
except ImportError:  # pragma: no cover
    pass


def test_empty_gazetteer():
    g = Gazetteer({})
    pdf = _frame(["Some Text here", "more"], roles=["tool", "user"],
                 tools=["sql_runner", None])
    _check_parity(pdf, g, emit_unknown=True)


@pytest.mark.parametrize("policy", ["LONGEST_DOMINANT_RIGHT", "ALL", "NO_SUB"])
@pytest.mark.parametrize("emit_unknown", [False, True])
def test_template_memo_repeated_texts_parity(gaz, policy, emit_unknown):
    """Round-6 template path: heavy text repetition (the flagship shape —
    few distinct texts across many rows) must expand per-row quads
    bit-identically, including row-dependent turn IRIs (unknown
    placeholders), graphs, and interleaved tool quads."""
    base = [
        "Ada Lovelace works at Turing Institute.",
        "Unknown Capitalized Run and Another Unknown thing.",
        "London has population 9000000. Cambridge has population 123456.",
        'Grace Hopper is known as "The Grace"@en.',
        "no mentions here",
    ]
    texts = [base[i % len(base)] for i in range(137)]
    roles = ["tool" if i % 7 == 3 else "user" for i in range(len(texts))]
    tools = ["calc" if i % 7 == 3 else None for i in range(len(texts))]
    pdf = _frame(texts, roles, tools)
    _check_parity(pdf, gaz, policy, emit_unknown)


@pytest.mark.parametrize("policy", ["LONGEST_DOMINANT_RIGHT", "ALL", "NO_SUB"])
@pytest.mark.parametrize("emit_unknown", [False, True])
def test_arrow_batch_parity(gaz, policy, emit_unknown):
    """Adversarial texts with interleaved tool rows and null texts, in a
    batch sliced out of a longer one (nonzero array offsets, as Arrow
    slicing produces) — the takes and dictionary encoding must honour the
    offsets."""
    roles = ["tool" if i % 5 == 0 else "user"
             for i in range(len(ADVERSARIAL_TEXTS))]
    tools = ["search" if i % 5 == 0 else None
             for i in range(len(ADVERSARIAL_TEXTS))]
    pdf = _frame(ADVERSARIAL_TEXTS, roles, tools)
    _check_parity(pdf, gaz, policy, emit_unknown, offset=3)


def test_arrow_batch_parity_repeated_and_nul(gaz):
    base = ["Ada Lovelace works at Turing Institute.", None,
            "Unknown Capitalized Run here.", ""]
    texts = [base[i % len(base)] for i in range(97)]
    pdf = _frame(texts)
    _check_parity(pdf, gaz, emit_unknown=True)
    # \x00 text takes the per-row fallback inside the arrow route too
    pdf2 = _frame(["weird\x00byte Ada Lovelace", "Ada Lovelace works at Hopper Labs."])
    _check_parity(pdf2, gaz)


def test_arrow_batch_empty(gaz):
    assert extract_batch_arrow(_to_batch(_frame([])), gaz) is None


def test_null_turn_idx_renders_none_on_all_paths(gaz):
    """Round-6 review finding: NULL turn_idx must render '.../turn/None'
    identically on the per-row and arrow paths (float NaN used to print
    'nan', and arrow nulled the whole subject) — including the arrow
    route's \\x00 per-row fallback, where a NULL must not turn the other
    rows' indices into floats ('3.0')."""
    schema = TRANSCRIPT_SCHEMA.set(1, pa.field("turn_idx", pa.int64()))
    pdf = _frame(["Unknown Capitalized Run here.", "Boston"],
                 roles=["tool", "user"], tools=["calc", None])
    pdf["turn_idx"] = pd.Series([None, 3], dtype=object)
    exp = _check_parity(pdf, gaz, emit_unknown=True, schema=schema)
    assert any(s.endswith("/turn/None") for s in exp["subject"])
    nul = pdf.assign(text=["Unknown\x00Run here.", "Boston"],
                     role="tool", tool="calc")
    exp = _check_parity(nul, gaz, emit_unknown=True, schema=schema)
    assert exp["subject"].str.endswith("/turn/3").any()


@pytest.mark.parametrize("policy", ["LONGEST_DOMINANT_RIGHT", "ALL", "NO_SUB"])
def test_linked_parity(gaz, policy):
    """Placeholders linked by link_placeholder_batch: each linked surface
    becomes a turn-IRI ex:mentions quad in the placeholder's place, the
    rest drop — same rows and order as the per-row oracle's placeholders
    mapped through the linker, on repeated texts in a sliced batch and
    through the \\x00 per-row fallback."""
    texts = ADVERSARIAL_TEXTS + ["I met Grace Hoper and Bostn.",
                                 "Unknown Capitalized Run again, Zzyzx."]
    texts = [texts[i % len(texts)] for i in range(3 * len(texts))]
    roles = ["tool" if i % 5 == 0 else "user" for i in range(len(texts))]
    tools = ["search" if i % 5 == 0 else None for i in range(len(texts))]
    pdf = _frame(texts, roles, tools)
    lk = _linker()
    exp = _check_parity(pdf, gaz, policy, offset=3, linker=lk)
    linked = exp[exp["predicate"] == EX + "mentions"]
    assert set(linked["obj"]) >= {"http://e/unknown", "http://e/another",
                                  "http://dbpedia.org/resource/Grace_Hopper"}
    assert linked["subject"].str.contains("/turn/").all()
    assert linked["datatype"].isna().all()
    assert not (exp["predicate"] == EX + "mentionSurface").any()
    nul = pdf.assign(text=[t if i % 4 else "Grace\x00Hoper met Grace Hoper"
                           for i, t in enumerate(texts)])
    exp = _check_parity(nul, gaz, policy, linker=lk)
    assert (exp["predicate"] == EX + "mentions").any()


def _quads(rows):
    """A quad RecordBatch from (subject, predicate, obj, datatype) rows;
    language NULL, graph and dataset fixed."""
    cols = list(zip(*rows)) if rows else [(), (), (), ()]
    n = len(rows)
    return pa.RecordBatch.from_arrays(
        [pa.array(list(c), pa.string()) for c in cols]
        + [pa.nulls(n, pa.string()), pa.array(["g"] * n, pa.string()),
           pa.nulls(n, pa.string())], QUAD_FIELDS)


_SURF = EX + "mentionSurface"


def test_link_placeholder_batch_rewrites_in_order():
    """Placeholders become (turn IRI, ex:mentions, IRI, NULL, NULL) in
    their place, surfaces that do not link drop, and every other row
    passes through unchanged and in order."""
    lk = _linker()
    rb = _quads([
        ("t/0", EX + "worksAt", "http://e/x", None),
        ("t/0", _SURF, "Unknown Capitalized Run", XSD_STRING),
        ("t/1", _SURF, "Zzyzx", XSD_STRING),
        ("t/1", EX + "toolUsed", "calc", XSD_STRING),
        ("t/2", _SURF, "Unknown Capitalized Run", XSD_STRING),
        ("t/2", _SURF, "Another Unknown", XSD_STRING),
    ])
    assert lk.best("Zzyzx") is None
    got = link_placeholder_batch(rb, lk).to_pylist()
    passed = rb.to_pylist()
    assert got == [
        passed[0],
        {**passed[1], "predicate": EX + "mentions",
         "obj": "http://e/unknown", "datatype": None},
        passed[3],
        {**passed[4], "predicate": EX + "mentions",
         "obj": "http://e/unknown", "datatype": None},
        {**passed[5], "predicate": EX + "mentions",
         "obj": "http://e/another", "datatype": None},
    ]
    assert all(r["language"] is None for r in got)


def test_link_placeholder_batch_without_placeholders_is_unchanged():
    rb = _quads([("t/0", EX + "worksAt", "http://e/x", None),
                 ("t/0", EX + "toolUsed", "calc", XSD_STRING)])
    assert link_placeholder_batch(rb, _linker()) is rb


def test_link_placeholder_batch_all_dropped_is_empty():
    rb = _quads([("t/0", _SURF, "Zzyzx", XSD_STRING),
                 ("t/1", _SURF, "Qwvxj", XSD_STRING)])
    out = link_placeholder_batch(rb, _linker())
    assert out.num_rows == 0
    assert out.schema.names == list(QUAD_FIELDS)
