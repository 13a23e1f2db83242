"""Quad sort (code-point order parity), IN-list filter, namespace registry,
RDF-JSON formatter, composite sinks, multi-snapshot union, flat map,
metrics observation."""

import pandas as pd
from pyspark.sql import functions as F

from quad_processor_util_spark.functions.nt import format_rdf_json
from quad_processor_util_spark.functions.uri import full_uri, prefixed_name
from quad_processor_util_spark.operators.mapping import quad_flat_map
from quad_processor_util_spark.operators.quadfilter import (
    QuadFilterParams,
    quad_filter,
    title_filter,
)
from quad_processor_util_spark.operators.sort import (
    is_globally_sorted,
    prefix_histogram,
    sort_quads,
)
from quad_processor_util_spark.oracle import PyQuad
from quad_processor_util_spark.plans.metrics import observed_counts
from quad_processor_util_spark.sources.io import read_snapshots_union, write_composite


def _quads_df(spark, subjects):
    pdf = pd.DataFrame({
        "subject": subjects,
        "predicate": ["http://p"] * len(subjects),
        "obj": ["http://o"] * len(subjects),
        "datatype": [None] * len(subjects),
        "language": [None] * len(subjects),
        "graph": [None] * len(subjects),
        "dataset": [None] * len(subjects),
    })
    return spark.createDataFrame(pdf)


class TestSort:
    def test_code_point_order_parity(self, spark):
        """Spark UTF8 binary order == reference code-point order
        (CodePointComparator.scala:19-43), including astral-plane chars where
        Java UTF-16 compareTo would disagree."""
        vals = ["x", "\U00010000x", "Boston", "Boston NOW", "Boston.com",
                "a", "a&b", "a.b", ""]
        df = _quads_df(spark, vals)
        got = [r.subject for r in sort_quads(df, num_partitions=3).select("subject").collect()]
        # python sorted() is code-point order — the reference semantics
        assert got == sorted(vals)
        # and NOT Java UTF-16 order for the astral pair:
        assert got.index("x") < got.index("\U00010000x")

    def test_globally_sorted_check(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("event_type").alias("subject"))
        assert not is_globally_sorted(ev.repartition(4), "subject")
        s = ev.repartitionByRange(4, "subject").sortWithinPartitions("subject")
        assert is_globally_sorted(s, "subject")

    def test_prefix_histogram(self, spark):
        df = _quads_df(spark, ["aa"] * 80 + ["ab"] * 10 + ["b"] * 10)
        h = {r.prefix: r.n for r in prefix_histogram(df, "subject").collect()}
        assert h == {"a": 90, "b": 10}


class TestQuadFilter:
    def test_in_list_semantics(self, spark):
        pdf = pd.DataFrame({
            "subject": ["s1", "s2", "s1"],
            "predicate": ["p1", "p1", "p2"],
            "obj": ["o"] * 3,
            "datatype": [None] * 3, "language": [None] * 3,
            "graph": [None, "g1", "g2"], "dataset": ["d", "d", "e"],
        })
        df = spark.createDataFrame(pdf)
        out = quad_filter(df, QuadFilterParams(predicates=["p1"], graphs=["g1"]))
        rows = [(r.subject, r.graph) for r in out.collect()]
        # null graph passes the graph check (FilterDestination.scala:60-64)
        assert sorted(rows) == [("s1", None), ("s2", "g1")]
        out2 = quad_filter(df, QuadFilterParams(dataset="e"))
        assert [r.predicate for r in out2.collect()] == ["p2"]

    def test_title_filter(self, spark):
        df = _quads_df(spark, [
            "http://dbpedia.org/resource/File:Logo.png",
            "http://dbpedia.org/resource/Template:Infobox",
            "http://dbpedia.org/resource/Category:Scientists",
            "http://dbpedia.org/resource/Ada_Lovelace",
        ])
        got = [r.subject for r in title_filter(df).collect()]
        assert got == [
            "http://dbpedia.org/resource/Scientists",
            "http://dbpedia.org/resource/Ada_Lovelace",
        ]


class TestNamespaces:
    def test_full_uri(self):
        assert full_uri("foaf:name") == "http://xmlns.com/foaf/0.1/name"
        assert full_uri("http://x/y") == "http://x/y"

    def test_prefixed_name_expr(self, spark):
        df = _quads_df(spark, ["x"]).select(
            prefixed_name(F.lit("http://dbpedia.org/ontology/birthPlace")).alias("a"),
            prefixed_name(F.lit("http://unknown.example/path/leaf")).alias("b"),
        )
        r = df.collect()[0]
        assert r.a == "dbo-birthPlace"
        assert r.b == "leaf"


class TestRdfJson:
    def test_dispatch(self, spark):
        import json

        pdf = pd.DataFrame({
            "subject": ["s"] * 3, "predicate": ["p"] * 3,
            "obj": ["http://o", "lit", "olá"],
            "datatype": [None, "http://www.w3.org/2001/XMLSchema#string",
                         "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"],
            "language": [None, None, "pt"],
            "graph": [None] * 3, "dataset": [None] * 3,
        })
        rows = [json.loads(r.json) for r in
                format_rdf_json(spark.createDataFrame(pdf)).collect()]
        assert rows[0]["object"]["type"] == "uri"
        assert rows[1]["object"] == {"value": "lit", "type": "literal"}
        assert rows[2]["object"]["lang"] == "pt"


class TestIoAndMapping:
    def test_snapshots_union(self, spark, tmp_path):
        a = _quads_df(spark, ["s1", "s2"])
        b = _quads_df(spark, ["s3"])
        pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
        a.write.parquet(pa); b.write.parquet(pb)
        u = read_snapshots_union(spark, [pa, pb])
        assert u.count() == 3

    def test_write_composite_single_scan(self, spark, tmp_path):
        df = _quads_df(spark, ["s1", "s2"])
        outs = [str(tmp_path / "o1"), str(tmp_path / "o2")]
        write_composite(df, [
            lambda d, p=p: d.write.mode("overwrite").parquet(p) for p in outs
        ])
        assert spark.read.parquet(outs[0]).count() == 2
        assert spark.read.parquet(outs[1]).count() == 2

    def test_quad_flat_map(self, spark):
        df = _quads_df(spark, ["s1", "s2"])

        def expand(q: PyQuad):
            return [q, PyQuad(q.subject, q.predicate + "/inv", q.obj,
                              q.datatype, q.language, q.graph)]

        out = quad_flat_map(df, expand)
        assert out.count() == 4
        assert out.where(F.col("predicate").endswith("/inv")).count() == 2


class TestWriteSortedNt:
    def test_sorted_nt_dump_roundtrip(self, spark, tmp_path):
        import glob

        from quad_processor_util_spark.oracle import parse_nt_line
        from quad_processor_util_spark.sources.io import write_sorted_nt

        subjects = [f"http://ex.org/s{i:04d}" for i in range(500)]
        import random
        random.Random(7).shuffle(subjects)
        df = _quads_df(spark, subjects)
        out = str(tmp_path / "nt_out")
        write_sorted_nt(df, out, num_partitions=4)
        # read part files in name order -> globally sorted subjects
        lines = []
        for p in sorted(glob.glob(f"{out}/part-*")):
            with open(p) as f:
                lines.extend(ln.rstrip("\n") for ln in f if ln.strip())
        parsed = [parse_nt_line(ln) for ln in lines]
        assert all(q is not None for q in parsed)
        subs = [q.subject for q in parsed]
        assert subs == sorted(subjects)


class TestMetrics:
    def test_observed_counts(self, spark):
        df = _quads_df(spark, ["s1", "s2", "s3"])
        out, obs = observed_counts(df)
        assert out.count() == 3
        assert obs.get["rows"] == 3
