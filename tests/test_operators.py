"""Operator tests: joins (salted == plain), connected components vs
union-find oracle, grouping/star-view, sortedness assertion."""

from unittest import mock

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from quad_processor_util_spark.datagen import build_alias_edges
from quad_processor_util_spark.operators import cc
from quad_processor_util_spark.operators.cc import canonical_mapping, connected_components
from quad_processor_util_spark.operators.grouping import (
    assert_sorted,
    grouped_apply,
    run_boundary_groups,
    sorted_group_scan,
    star_view,
)
from quad_processor_util_spark.operators.joins import salted_join
from quad_processor_util_spark.oracle import resolve_canonical


class TestJoins:
    def test_salted_equals_plain(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        plain = (
            orders.join(customer, orders.o_custkey == customer.c_custkey)
            .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
        )
        fact = orders.withColumnRenamed("o_custkey", "k")
        dim = customer.withColumnRenamed("c_custkey", "k")
        salted = (
            salted_join(fact, dim, "k", salt_buckets=4)
            .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


class TestConnectedComponents:
    def test_matches_union_find(self, spark):
        edges_pdf = build_alias_edges(42)
        edges = spark.createDataFrame(edges_pdf)
        mapping, excluded = canonical_mapping(edges)
        got = {r.node: r.canonical for r in mapping.collect()}
        exp_map, exp_excl = resolve_canonical(
            list(zip(edges_pdf["src_iri"], edges_pdf["dst_iri"], edges_pdf["edge_kind"]))
        )
        # compare on common domain: every CC node label must equal the oracle's
        for node, canon in got.items():
            assert exp_map.get(node, node) == canon, node
        assert {r.iri for r in excluded.collect()} == exp_excl

    @staticmethod
    def _parquet_edges(spark, tmp_path):
        """build_alias_edges(42) plus NULL-endpoint and NULL-kind rows, as
        one parquet file."""
        pdf = pd.concat([build_alias_edges(42), pd.DataFrame({
            "src_iri": [None, "e:y", None, "e:n1", "e:n2"],
            "dst_iri": ["e:x", None, "e:z", "e:n2", "e:n3"],
            "edge_kind": ["redirect", None, "disambiguation", None, "sameAs"],
        })], ignore_index=True)
        path = str(tmp_path / "edges.parquet")
        pdf.to_parquet(path, index=False)
        return pdf, spark.read.parquet(path)

    @staticmethod
    def _oracle(pdf):
        return resolve_canonical([
            (s, d, k) for s, d, k in zip(pdf["src_iri"], pdf["dst_iri"],
                                         pdf["edge_kind"])
            if k == "disambiguation" or (s is not None and d is not None)])

    def test_small_parquet_graph_is_one_job_and_local(self, spark, spark_jobs,
                                                      tmp_path):
        """A driver-sized graph read from parquet costs canonical_mapping one
        job (the bounded edge collect) and comes back as local relations
        holding the union-find oracle's mapping and excluded set (a NULL
        disambiguation source included; NULL endpoints never unioned)."""
        pdf, edges = self._parquet_edges(spark, tmp_path)
        (mapping, excluded), jobs, _ = spark_jobs(
            lambda: canonical_mapping(edges))
        assert len(jobs) == 1
        assert mapping.isLocal() and excluded.isLocal()
        exp_map, exp_excl = self._oracle(pdf)
        assert {r.node: r.canonical for r in mapping.collect()} == exp_map
        assert {r.iri for r in excluded.collect()} == exp_excl
        assert None in exp_excl and "e:y" not in exp_map

    def test_distributed_path_probes_edges_once(self, spark, spark_jobs,
                                                tmp_path, monkeypatch):
        """Above the driver bound canonical_mapping runs the distributed CC
        loop with the same result, and the bounded collect is its only
        probe of the edges (the distributed loop does not probe again)."""
        pdf, edges = self._parquet_edges(spark, tmp_path)
        monkeypatch.setattr(cc, "DRIVER_EDGES", 50)
        (mapping, excluded), _, plans = spark_jobs(
            lambda: canonical_mapping(edges))
        assert not mapping.isLocal() and not excluded.isLocal()
        assert sum("CollectLimit" in p for _, p in plans) == 1, plans
        exp_map, exp_excl = self._oracle(pdf)
        assert {r.node: r.canonical for r in mapping.collect()} == exp_map
        assert {r.iri for r in excluded.collect()} == exp_excl

    def test_cycle_converges(self, spark):
        pdf = pd.DataFrame({
            "src_iri": ["a", "b", "c"], "dst_iri": ["b", "c", "a"],
        })
        out = connected_components(spark.createDataFrame(pdf))
        labels = {r.node: r.canonical for r in out.collect()}
        assert set(labels.values()) == {"a"}

    def test_small_parquet_graph_is_one_collect_and_local(self, spark,
                                                          spark_jobs,
                                                          tmp_path):
        """A driver-sized graph read from parquet costs connected_components
        one job, a bounded collect with no shuffle or aggregate, and comes
        back as a local relation holding the union-find oracle's mapping
        (edges with a NULL endpoint dropped, edge_kind ignored)."""
        pdf, edges = self._parquet_edges(spark, tmp_path)
        out, jobs, plans = spark_jobs(lambda: connected_components(edges))
        assert out.isLocal()
        assert len(jobs) == 1 and len(plans) == 1, plans
        assert "Exchange" not in plans[0][1], plans
        assert "HashAggregate" not in plans[0][1], plans
        exp, _ = resolve_canonical([
            (s, d, "sameAs") for s, d in zip(pdf["src_iri"], pdf["dst_iri"])
            if s is not None and d is not None])
        assert {r.node: r.canonical for r in out.collect()} == exp


_KEYS = {
    "string": st.text(alphabet="abzAZé_ ß", max_size=3),
    "bigint": st.integers(-(1 << 63), (1 << 63) - 1),
}


@pytest.mark.parametrize("key_type", sorted(_KEYS))
@settings(max_examples=5, deadline=None)
@given(data=st.data())
def test_connected_components_matches_union_find(spark, key_type, data):
    """On random graphs (duplicate edges, self loops, NULL endpoints,
    negative ids) both routes give the union-find oracle's components, in
    the edge columns' own type."""
    pool = data.draw(st.lists(_KEYS[key_type], min_size=1, max_size=12,
                              unique=True))
    node = st.one_of(st.sampled_from(pool), st.none())
    rows = data.draw(st.lists(st.tuples(node, node), max_size=25))
    edges = spark.createDataFrame(
        rows, f"src_iri {key_type}, dst_iri {key_type}")
    pairs = [(a, b, "sameAs") for a, b in rows
             if a is not None and b is not None]
    exp, _ = resolve_canonical(pairs)
    for bound in (cc.DRIVER_EDGES, 0):
        with mock.patch.object(cc, "DRIVER_EDGES", bound):
            out = connected_components(edges)
        assert out.isLocal() == (len(pairs) <= bound)
        assert [(f.name, f.dataType) for f in out.schema] \
            == [("node", edges.schema[0].dataType),
                ("canonical", edges.schema[0].dataType)]
        assert {r.node: r.canonical for r in out.collect()} == exp, bound


class TestGrouping:
    def test_sorted_group_scan_runs_are_contiguous_and_sorted(self, spark, sf_dir):
        events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(5000)
        out = sorted_group_scan(events, "user_id", "ts")

        def check(it):
            for pdf in it:
                # within a batch, user_id runs are contiguous & ts sorted per run
                prev_user, prev_ts, seen = None, None, set()
                for r in pdf.itertuples():
                    if r.user_id != prev_user:
                        assert r.user_id not in seen, "non-contiguous run"
                        seen.add(r.user_id)
                        prev_user, prev_ts = r.user_id, r.ts
                    else:
                        assert r.ts >= prev_ts
                        prev_ts = r.ts
                yield pdf[["event_id"]]

        n = out.mapInPandas(check, "event_id long").count()
        assert n == 5000

    def test_grouped_apply_order(self, spark, fixtures_dir):
        tr = spark.read.parquet(f"{fixtures_dir}/transcripts.parquet")

        def first_text(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame({
                "conv_id": [pdf["conv_id"].iloc[0]],
                "first_turn": [int(pdf["turn_idx"].iloc[0])],
            })

        out = grouped_apply(tr, "conv_id", first_text,
                            "conv_id string, first_turn int", order="turn_idx")
        rows = out.collect()
        assert all(r.first_turn == 0 for r in rows)
        assert len(rows) == tr.select("conv_id").distinct().count()

    def test_run_boundary_groups_sees_whole_groups(self, spark, fixtures_dir):
        tr = spark.read.parquet(f"{fixtures_dir}/transcripts.parquet")

        def agg(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame({
                "conv_id": [pdf["conv_id"].iloc[0]],
                "n": [len(pdf)],
                "ordered": [bool((pdf["turn_idx"].diff().dropna() > 0).all())],
            })

        out = run_boundary_groups(tr, "conv_id", agg,
                                  "conv_id string, n long, ordered boolean",
                                  order="turn_idx")
        got = {r.conv_id: (r.n, r.ordered) for r in out.collect()}
        exp = {r.conv_id: r["count"] for r in tr.groupBy("conv_id").count().collect()}
        assert {k: v[0] for k, v in got.items()} == exp
        assert all(v[1] for v in got.values())

    def test_star_view(self, spark):
        pdf = pd.DataFrame({
            "subject": ["s1"] * 4 + ["s2"],
            "predicate": [
                "http://www.w3.org/2000/01/rdf-schema#label",
                "http://www.w3.org/2000/01/rdf-schema#label",
                "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                "http://example.org/ontology/sameAs",
                "http://www.w3.org/2000/01/rdf-schema#label",
            ],
            "obj": ["Alpha", "Beta", "http://t/T1", "http://same/x", "Gamma"],
            "datatype": [None] * 5, "language": [None] * 5,
            "graph": [None] * 5, "dataset": [None] * 5,
        })
        sv = star_view(spark.createDataFrame(pdf)).orderBy("subject").collect()
        s1 = sv[0]
        assert s1.label == "Alpha" and s1.altLabels == ["Beta"]
        assert s1.types == ["http://t/T1"] and s1.sameAs == ["http://same/x"]
        assert sv[1].label == "Gamma" and sv[1].altLabels == []

    def test_assert_sorted(self, spark, fixtures_dir):
        tr = spark.read.parquet(f"{fixtures_dir}/transcripts.parquet")
        # the fixture is emitted in SHUFFLED order by design (datagen) —
        # the physical check must SEE that (the old window-based
        # assert_sorted returned 0 on any input and asserted 0 here)
        assert assert_sorted(tr.coalesce(1), "conv_id", "turn_idx") > 0
        assert assert_sorted(
            sorted_group_scan(tr, "conv_id", "turn_idx"),
            "conv_id", "turn_idx",
        ) == 0
