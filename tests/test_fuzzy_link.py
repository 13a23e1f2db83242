"""Fuzzy linking: the SurfaceLinker scorer against a brute-force
reference, driver-side catalog validation, and unknown-mention placeholders
-> linked entity quads."""

import itertools

import pandas as pd
import pytest

from quad_processor_util_spark.datagen import build_entity_catalog, build_gazetteer
from quad_processor_util_spark.operators.linking import link_surface_forms
from quad_processor_util_spark.oracle import Gazetteer, find_unknown_mentions
from quad_processor_util_spark.plans.pipeline import (
    extract_quads,
    link_unknown_mentions,
)


class TestFindUnknownMentions:
    def test_excludes_known_spans(self):
        gaz = Gazetteer({"Ada Lovelace": "http://x/Ada"})
        ms = gaz.find_all("Ada Lovelace met Grace Hoper in Bostn")
        unknown = find_unknown_mentions("Ada Lovelace met Grace Hoper in Bostn", ms)
        assert unknown == ["Grace Hoper", "Bostn"]

    def test_dedup_and_boundaries(self):
        unknown = find_unknown_mentions("Bostn and Bostn again, lowercase ok", [])
        assert unknown == ["Bostn"]


class TestPipelineFuzzyLink:
    def test_misspelled_entities_get_linked(self, spark):
        catalog = build_entity_catalog()
        gaz = build_gazetteer(catalog)
        pdf = pd.DataFrame({
            "conv_id": ["c1", "c1"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["user", "user"],
            "text": [
                "Ada Lovelace works at Hopper Labs.",  # fully known
                "I met Grace Hoper yesterday.",        # misspelled -> fuzzy
            ],
            "tool": [None, None],
            "ts": pd.to_datetime(["2026-01-01", "2026-01-01"]).astype("datetime64[us]"),
        })
        tr = spark.createDataFrame(pdf)
        quads = extract_quads(tr, gaz.surface_to_iri, emit_unknown=True)
        linked = link_unknown_mentions(quads, spark.createDataFrame(catalog))
        rows = linked.collect()
        # the known relation survives untouched
        assert any(r.predicate.endswith("worksAt") for r in rows)
        # the misspelled mention resolves to Grace_Hopper as an object quad
        mention_rows = [r for r in rows if r.predicate.endswith("/mentions")]
        assert len(mention_rows) == 1
        m = mention_rows[0]
        assert m.obj.endswith("Grace_Hopper")
        assert m.subject == "http://example.org/conv/c1/turn/1"
        assert m.datatype is None
        # no placeholder quads leak through
        assert not any(r.predicate.endswith("mentionSurface") for r in rows)


def _brute_force_link(surface, rows, min_jaccard=0.4):
    """Reference for SurfaceLinker: every catalog row scored on its own,
    jaccard from the set union, best (score, then smallest IRI) wins."""
    def grams(s):
        s = s.strip(" ").lower()
        return ({s[i:i + 3] for i in range(len(s) - 2)} if len(s) >= 3
                else {s})

    g = grams(surface)
    scored = []
    for iri, form, weight in rows:
        f = grams(form)
        jac = len(g & f) / len(g | f)
        if g & f and jac >= min_jaccard:
            scored.append((-(jac * weight), iri))
    if not scored:
        return None
    score, iri = min(scored)
    return iri, -score


class TestSurfaceLinker:
    def test_threshold_boundary_and_below(self):
        from quad_processor_util_spark.operators.linking import SurfaceLinker

        # bos/ost/stn vs bos/ost/sto/ton: 2 / (3 + 4 - 2) = 0.4 exactly
        lk = SurfaceLinker([("http://e/boston", "Boston", 1.0)])
        assert lk.best("Bostn") == ("http://e/boston", 0.4)
        # bos/ost/sta/tan: 2 / (4 + 4 - 2) = 1/3, below the threshold
        assert lk.best("Bostan") is None
        assert SurfaceLinker([("http://e/boston", "Boston", 1.0)],
                             min_jaccard=0.3).best("Bostan") == \
            ("http://e/boston", 1 / 3)

    def test_shared_form_ties_and_short_forms(self):
        from quad_processor_util_spark.operators.linking import SurfaceLinker

        rows = [("http://e/2", "Paris", 0.5), ("http://e/1", "Paris", 0.5),
                ("http://e/3", "Paris", 0.2), ("http://e/4", "Al", 1.0)]
        lk = SurfaceLinker(rows)
        # a shared form is counted once: jaccard 1.0, not inflated
        assert lk.best("paris ") == ("http://e/1", 0.5)
        # forms shorter than 3 characters are one gram: exact match only
        assert lk.best("AL") == ("http://e/4", 1.0)
        assert lk.best("Alp") is None
        assert lk.best(None) is None


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # ASCII, accented, German sharp s, dotted capital I (lowercases to two
    # code points), Greek sigma
    _ALPHA = "abAB é ÉßİΣσ"
    _FORM = st.text(alphabet=_ALPHA, max_size=7)
    _ROWS = st.lists(
        st.tuples(st.sampled_from([f"http://e/{i}" for i in range(4)]),
                  _FORM,
                  st.sampled_from([0.0, 0.25, 0.5, 1.0, 2.0])),
        min_size=1, max_size=10)

    @given(rows=_ROWS, surfaces=st.lists(_FORM, min_size=1, max_size=10),
           min_jaccard=st.sampled_from([0.4, 0.2, 1.0]))
    @settings(max_examples=300, deadline=None)
    def test_surface_linker_matches_brute_force(rows, surfaces, min_jaccard):
        """Shared and ambiguous forms (4 IRIs over random forms), forms
        shorter than 3 characters, non-ASCII case folding, equal-score ties
        (few distinct weights) and the exact-threshold boundary."""
        from quad_processor_util_spark.operators.linking import SurfaceLinker

        lk = SurfaceLinker(rows, min_jaccard)
        # surfaces drawn both freshly and from the forms themselves
        for s in surfaces + [f for _, f, _ in rows]:
            assert lk.best(s) == _brute_force_link(s, rows, min_jaccard), s
except ImportError:  # pragma: no cover
    pass


_CATALOG_CASES = {
    "missing_column": pd.DataFrame({"entity_iri": ["http://e/1"],
                                    "surface_form": ["Ada"]}),
    "null_entity_iri": pd.DataFrame({"entity_iri": [None],
                                     "surface_form": ["Ada"],
                                     "form_weight": [1.0]}),
    "null_form_weight": pd.DataFrame({"entity_iri": ["http://e/1"],
                                      "surface_form": ["Ada"],
                                      "form_weight": [None]}),
}
_GROUPS = itertools.count()
_CATALOG_ERRORS = {"missing_column": "lacks column",
                   "null_entity_iri": "NULL", "null_form_weight": "NULL"}


class TestDriverRejections:
    """Bad catalogs fail with ValueError when the DataFrame is built, on
    the driver. A missing column, and anything wrong with a pandas or
    local-relation catalog, costs no Spark job; a NULL row in a catalog
    that must be read (parquet here) costs exactly the one job that
    collects it."""

    @staticmethod
    def _jobs(spark, call, match):
        """Job ids run by call(), which must raise ValueError(match)."""
        sc = spark.sparkContext
        group = f"linking-rejection-{next(_GROUPS)}"
        sc.setJobGroup(group, "bad linking arguments")
        try:
            with pytest.raises(ValueError, match=match):
                call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    @staticmethod
    def _callers(spark, catalog):
        tr = spark.createDataFrame(
            [("c1", 0, "user", "I met Grace Hoper.", None)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string")
        quads = extract_quads(tr, {"Ada": "http://e/1"}, emit_unknown=True)
        mentions = spark.createDataFrame([("Grace Hoper",)], "surface string")
        return {
            "extract_quads": lambda: extract_quads(
                tr, {"Ada": "http://e/1"}, catalog=catalog),
            "link_unknown_mentions": lambda c: link_unknown_mentions(quads, c),
            "link_surface_forms": lambda c: link_surface_forms(mentions, c),
        }

    def _check(self, spark, tmp_path, case, read_jobs):
        catalog = _CATALOG_CASES[case]
        match = _CATALOG_ERRORS[case]
        types = {"entity_iri": "string", "surface_form": "string",
                 "form_weight": "double"}
        local = spark.createDataFrame(
            catalog.astype(object),
            ", ".join(f"{c} {types[c]}" for c in catalog.columns))
        path = str(tmp_path / case)
        local.write.parquet(path)
        read = spark.read.parquet(path)
        callers = self._callers(spark, catalog)
        assert self._jobs(spark, callers.pop("extract_quads"), match) == []
        for name, link in callers.items():
            assert self._jobs(spark, lambda: link(local), match) == [], name
            assert len(self._jobs(spark, lambda: link(read), match)) == \
                read_jobs, name

    def test_missing_catalog_column(self, spark, tmp_path):
        self._check(spark, tmp_path, "missing_column", read_jobs=0)

    def test_null_entity_iri(self, spark, tmp_path):
        self._check(spark, tmp_path, "null_entity_iri", read_jobs=1)

    def test_null_form_weight(self, spark, tmp_path):
        self._check(spark, tmp_path, "null_form_weight", read_jobs=1)

    def test_emit_unknown_with_catalog(self, spark):
        tr = spark.createDataFrame(
            [("c1", 0, "user", "I met Grace Hoper.", None)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string")
        assert self._jobs(spark, lambda: extract_quads(
            tr, {"Ada": "http://e/1"}, emit_unknown=True,
            catalog=build_entity_catalog()), "exclusive") == []

    def test_emit_unknown_with_canonical(self, spark):
        """Placeholders linked after extraction would bypass the kernel's
        canonicalization, so the combination fails on the driver."""
        tr = spark.createDataFrame(
            [("c1", 0, "user", "I met Grace Hoper.", None)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string")
        assert self._jobs(spark, lambda: extract_quads(
            tr, {"Ada": "http://e/1"}, emit_unknown=True,
            canonical=({"http://e/2": "http://e/1"}, set())),
            "exclusive") == []

    def test_null_surface_form_never_links(self, spark):
        catalog = pd.DataFrame({
            "entity_iri": ["http://e/1", "http://e/2"],
            "surface_form": [None, "Grace Hopper"],
            "form_weight": [5.0, 1.0]})
        mentions = spark.createDataFrame([("Grace Hoper",)], "surface string")
        got = link_surface_forms(mentions, spark.createDataFrame(catalog))
        assert [(r.surface, r.entity_iri) for r in got.collect()] == \
            [("Grace Hoper", "http://e/2")]
