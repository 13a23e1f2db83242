"""Round-4 regressions: \\uXXXX parse route, NaN-aware sortedness,
tolerant size-conf parsing, repartition-aware parallelism guard, scoped
cache release for composed pipelines."""

from __future__ import annotations

import pandas as pd
import pytest


class TestHybridUnicodeParse:
    def test_unicode_escaped_lines_agree_across_paths(self, nt_parse_checked):
        lines = [
            # raw non-ASCII and \uXXXX / \UXXXXXXXX in every literal
            # position, mixed with clean lines so one batch takes both the
            # canonical and the per-row route
            '<http://s> <http://p> "caf\u00e9" .',
            r'<http://s> <http://p> "caf\u00e9 esc" .',
            r'<http://s> <http://p> "astral \U0001F600 x" .',
            r'<http://s> <http://p> "mix\tAb" .',
            r'<http://s> <http://p> "mix\t\u0041b esc" .',
            '<http://s> <http://p> "u-lang\u00fc"@de .',
            r'<http://s> <http://p> "u-lang\u00fc esc"@de .',
            '<http://s> <http://p> "u-dt\u00df"^^<http://ex.org/dt> .',
            r'<http://s> <http://p> "u-dt\u00df esc"^^<http://ex.org/dt> .',
            '<http://s> <http://p> "clean" .',
            "<http://s> <http://p> <http://o> <http://g> .",
            # backslash-escaped backslash before u: NOT a unicode escape —
            # must come back as backslash + 'u0041' literally, not 'A'
            r'<http://s> <http://p> "not\\u0041esc" .',
        ]
        objs = {r[2] for r in nt_parse_checked(lines)}
        assert "café" in objs and "café esc" in objs
        assert "u-langü esc" in objs and "mix\tAb esc" in objs
        assert "astral \U0001F600 x" in objs
        assert "mix\tAb" in objs
        assert "not\\u0041esc" in objs


class TestNaNSortedness:
    def test_nan_last_double_column_is_sorted(self, spark):
        from quad_processor_util_spark.operators.sort import (
            is_globally_sorted,
        )

        # Spark's own sort puts NaN LAST (greater than any real); the check
        # must agree instead of bucketing NaN with nulls-first (r3 advice)
        df = spark.createDataFrame(
            [(1.0,), (2.5,), (float("nan"),)], "v double"
        )
        assert is_globally_sorted(df.orderBy("v").coalesce(1), "v") is True
        # NaN ahead of the reals is NOT Spark-sorted
        df2 = spark.createDataFrame(
            [(float("nan"),), (1.0,), (2.5,)], "v double"
        )
        assert is_globally_sorted(df2.coalesce(1), "v") is False

    def test_assert_sorted_nan_last(self, spark):
        from quad_processor_util_spark.operators.grouping import assert_sorted

        df = spark.createDataFrame(
            [("a", 1.0), ("a", float("nan")), ("b", 0.5)],
            "k string, v double",
        )
        assert assert_sorted(df.coalesce(1), "k", "v") == 0


class TestParallelismGuard:
    def test_explicit_repartition_not_reshuffled(self, spark, tmp_path):
        from quad_processor_util_spark.operators.dedup import (
            _ensure_parallelism,
        )

        p = str(tmp_path / "tiny.parquet")
        spark.range(100).selectExpr(
            "cast(id as string) doc_id", "repeat('x', 10) text"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        # raw tiny scan: guard re-spreads it
        spread = _ensure_parallelism(df)
        assert spread is not df
        # caller already repartitioned: guard must trust that and not add a
        # second shuffle (r3 advice — redundant-exchange fix)
        pre = df.repartition(8)
        assert _ensure_parallelism(pre) is pre


class TestScopedCacheRelease:
    def test_cache_registry_collects_and_unpersists(self, spark):
        """link_unknown_mentions persists nothing: `cache_registry` stays
        empty, the CacheManager stays empty throughout, and two runs give
        equal results."""
        from quad_processor_util_spark.oracle import EX
        from quad_processor_util_spark.plans.pipeline import (
            link_unknown_mentions,
        )

        quads = spark.createDataFrame(
            [
                ("http://t/1", EX + "mentionSurface", "acme corp",
                 None, None, "http://g", None),
                ("http://t/1", EX + "role", "assistant",
                 "http://www.w3.org/2001/XMLSchema#string", None,
                 "http://g", None),
            ],
            "subject string, predicate string, obj string, datatype string,"
            " language string, graph string, dataset string",
        )
        catalog = spark.createDataFrame(
            [("acme corp", "http://e/acme", 1.0)],
            "surface_form string, entity_iri string, form_weight double",
        )
        spark.catalog.clearCache()  # other tests may have left entries
        cache = spark._jsparkSession.sharedState().cacheManager()
        results = []
        for _ in range(2):
            reg: list = []
            out = link_unknown_mentions(quads, catalog, cache_registry=reg)
            assert cache.isEmpty()
            results.append(sorted(map(tuple, out.collect())))
            assert reg == [] and cache.isEmpty()
        assert results[0] == results[1] == [
            ("http://t/1", EX + "mentions", "http://e/acme", None, None,
             "http://g", None),
            ("http://t/1", EX + "role", "assistant",
             "http://www.w3.org/2001/XMLSchema#string", None, "http://g",
             None)]


class _FakeGroupState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class TestReviewFixes:
    def test_sessionize_late_trigger_does_not_regress_watermark(self):
        """A LATE trigger (max ts older than stored last_ts) must keep the
        high-water mark: {1000} then late {100} then {1550} with gap 600 —
        1550-1000=550 < gap, so NO new session (r4 review finding: the old
        code reset last_ts to 100 and over-counted)."""
        import pandas as pd

        from quad_processor_util_spark.streaming.ingest import (
            _sessionize_update,
        )

        st = _FakeGroupState()

        def push(ts_seconds):
            pdf = pd.DataFrame(
                {"ts": [pd.Timestamp(t, unit="s") for t in ts_seconds]})
            return list(_sessionize_update(("c",), iter([pdf]), st,
                                           gap=600.0))[0]

        push([1000])
        push([100])           # late data: no new session, watermark stays
        out = push([1550])
        assert st.get[0] == 1550.0
        assert out.n_sessions.iloc[0] == 1  # one session: 100/1000/1550 merged
        assert out.n_turns.iloc[0] == 3

    def test_format_paths_agree_on_unicode_whitespace_uri(self, spark):
        """U+00A0 inside a URI: Python \\S rejects it (bad URI, line
        commented out); the JVM guard previously used Java's ASCII \\s and
        emitted an invalid uncommented line (r4 review finding)."""
        from quad_processor_util_spark.functions.nt import (
            format_nt_exact, format_nt_expr,
        )

        rows = [("http://ex.org/a b", "http://p/x", "http://o/y",
                 None, None, None, None),
                ("http://ex.org/ok", "http://p/x", "http://o/y",
                 None, None, None, None)]
        schema = ("subject string, predicate string, obj string, "
                  "datatype string, language string, graph string, "
                  "dataset string")
        df = spark.createDataFrame(rows, schema)
        jvm = sorted(r.line for r in format_nt_expr(df).collect())
        exact = sorted(r.line for r in format_nt_exact(df).collect())
        assert jvm == exact
        assert sum(1 for x in jvm if x.startswith("# ")) == 1

    def test_parse_paths_agree_on_exotic_edge_whitespace(
            self, nt_parse_checked):
        """\\f / U+00A0 at line EDGES are stripped by the oracle
        (line.strip()); interior exotic whitespace stays malformed
        (r4 review finding)."""
        lines = [
            "\f<http://s> <http://p> <http://o> .",
            "<http://s> <http://p> <http://o2> .\xa0 ",
            "\u2028<http://s> <http://p> <http://o3> .\f",
            "<http://s>\f<http://p> <http://o4> .",   # interior: malformed
        ]
        assert len(nt_parse_checked(lines)) == 3

    def test_fallback_row_path_handles_int_conv_id(self):
        """The per-row oracle must coerce conv_id to str like the
        vectorized path's string cast (r4 review finding)."""
        import numpy as np
        import pandas as pd

        from quad_processor_util_spark.oracle import Gazetteer
        from quad_processor_util_spark.plans.extract_vec import (
            _extract_batch_rows,
        )

        pdf = pd.DataFrame({
            "conv_id": np.array([7], dtype="int64"),
            "turn_idx": np.array([0], dtype="int32"),
            "role": ["user"],
            "text": ["Ada Lovelace works at Turing Institute.\x00"],
            "tool": [None],
        })
        gaz = Gazetteer({"Ada Lovelace": "http://e/ada",
                         "Turing Institute": "http://e/ti"})
        out = _extract_batch_rows(pdf, gaz, "LONGEST_DOMINANT_RIGHT", False)
        assert len(out) >= 1
        assert out["graph"].iloc[0] == "http://example.org/conv/7"
