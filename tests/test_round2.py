"""Round-2 regression tests: log-round connected components on deep chains,
non-convergence raising, salted_join join-type guard, canonicalize exclusion
parity with the python oracle, camelCase minting, jaccard df-cap size
universe, and the pipeline_e2e composition."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from quad_processor_util_spark.operators import cc
from quad_processor_util_spark.operators.cc import connected_components
from quad_processor_util_spark.operators.dedup import ngram_jaccard_pairs
from quad_processor_util_spark.operators.joins import salted_join
from quad_processor_util_spark.oracle import (
    PyQuad,
    camel_case,
    canonicalize_quads,
)
from quad_processor_util_spark.plans.pipeline import canonicalize


def _chain_edges(spark, n):
    rows = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n)]
    return spark.createDataFrame(rows, "src_iri string, dst_iri string")


class TestConnectedComponents:
    def test_deep_chain_converges_in_log_rounds(self, spark, monkeypatch):
        """A 100-hop redirect chain must resolve with the default max_iter
        on the DISTRIBUTED path (pointer jumping: ~log2(100) ≈ 7 rounds,
        not 100)."""
        monkeypatch.setattr(cc, "DRIVER_EDGES", 0)
        out = connected_components(_chain_edges(spark, 100)).collect()
        assert len(out) == 101
        assert all(r.canonical == "n0000" for r in out)

    def test_raises_instead_of_wrong_labels(self, spark, monkeypatch):
        """Exhausting max_iter must raise, never return partial labels."""
        monkeypatch.setattr(cc, "DRIVER_EDGES", 0)
        with pytest.raises(RuntimeError, match="no fixpoint"):
            connected_components(_chain_edges(spark, 12), max_iter=1)

    def test_cycle_and_tie_break(self, spark, monkeypatch):
        edges = spark.createDataFrame(
            [("b", "c"), ("c", "a"), ("a", "b"), ("x", "y")],
            "src_iri string, dst_iri string",
        )
        exp = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
        for bound in (0, 100_000):  # distributed and driver route agree
            monkeypatch.setattr(cc, "DRIVER_EDGES", bound)
            got = {
                r.node: r.canonical
                for r in connected_components(edges).collect()
            }
            assert got == exp, f"DRIVER_EDGES={bound}"

    def test_driver_and_distributed_paths_agree(self, spark, monkeypatch):
        import random

        rnd = random.Random(11)
        rows = [
            (f"v{rnd.randrange(60):03d}", f"v{rnd.randrange(60):03d}")
            for _ in range(80)
        ]
        edges = spark.createDataFrame(rows, "src_iri string, dst_iri string")
        fast = {
            r.node: r.canonical
            for r in connected_components(edges).collect()
        }
        monkeypatch.setattr(cc, "DRIVER_EDGES", 0)
        dist = {
            r.node: r.canonical
            for r in connected_components(edges).collect()
        }
        assert fast == dist


class TestSaltedJoinGuard:
    def test_unsupported_how_raises(self, spark):
        df = spark.range(4).withColumnRenamed("id", "k")
        for how in ["right", "full", "outer", "right_outer", "full_outer"]:
            with pytest.raises(ValueError, match="salted_join"):
                salted_join(df, df, "k", how=how)

    def test_left_matches_plain_join(self, spark):
        fact = spark.createDataFrame(
            [(1, "a"), (2, "b"), (9, "z")], "k int, v string"
        )
        dim = spark.createDataFrame([(1, "X"), (2, "Y")], "k int, w string")
        got = sorted(
            tuple(r) for r in salted_join(fact, dim, "k", how="left").collect()
        )
        exp = sorted(tuple(r) for r in fact.join(dim, "k", "left").collect())
        assert got == exp


def _kernel_canonicalize(rows, mapping_rows, excluded) -> Counter:
    """extract_vec.canonicalize_batch over 7-field quad rows, with the
    dimension canonical_dimension builds from the same inputs."""
    import pyarrow as pa

    from quad_processor_util_spark.oracle import QUAD_FIELDS
    from quad_processor_util_spark.plans.extract_vec import (
        canonical_dimension,
        canonicalize_batch,
    )

    rb = pa.RecordBatch.from_arrays(
        [pa.array(list(c), pa.string()) for c in zip(*rows)], QUAD_FIELDS)
    out = canonicalize_batch(rb, canonical_dimension(mapping_rows, excluded))
    return Counter(tuple(r.values()) for r in out.to_pylist())


class TestCanonicalizeParity:
    def test_exclusion_semantics_match_oracle(self, spark, canon_frames):
        quads = [
            # subject rewritten via mapping
            PyQuad("e:alias1", "e:p", "e:obj1", None, None, "g"),
            # ORIGINAL subject excluded -> dropped even though canonical isn't
            PyQuad("e:badsrc", "e:p", "e:obj1", None, None, "g"),
            # canonical subject excluded -> dropped
            PyQuad("e:alias2", "e:p", "e:obj1", None, None, "g"),
            # URI object excluded -> dropped
            PyQuad("e:s1", "e:p", "e:badobj", None, None, "g"),
            # LITERAL object equal to an excluded IRI -> KEPT (datatype set)
            PyQuad("e:s2", "e:p", "e:badobj",
                   "http://www.w3.org/2001/XMLSchema#string", None, "g"),
            # URI object whose CANONICAL is excluded -> dropped
            PyQuad("e:s3", "e:p", "e:alias3", None, None, "g"),
            # plain survivor with object rewrite, twice: duplicates survive
            # canonicalize (dedup is a later stage)
            PyQuad("e:s4", "e:p", "e:alias1", None, None, "g"),
            PyQuad("e:s4", "e:p", "e:alias1", None, None, "g"),
        ]
        mapping = {"e:alias1": "e:canon1", "e:alias2": "e:badcanon",
                   "e:alias3": "e:badobj", "e:badsrc": "e:okcanon"}
        excluded = {"e:badsrc", "e:badcanon", "e:badobj"}

        exp = Counter(
            (q.subject, q.predicate, q.obj, q.datatype, q.language)
            for q in canonicalize_quads(quads, mapping, excluded)
        )

        qdf = spark.createDataFrame(
            [(q.subject, q.predicate, q.obj, q.datatype, q.language, q.graph,
              q.dataset) for q in quads],
            "subject string, predicate string, obj string, datatype string, "
            "language string, graph string, dataset string",
        )
        # duplicated excluded rows must not duplicate quads either; both
        # dimension routes (local-relation and RDD-backed inputs)
        routes = canon_frames(list(mapping.items()), sorted(excluded) * 2)
        for route, (mdf, xdf) in routes.items():
            got = Counter(
                (r.subject, r.predicate, r.obj, r.datatype, r.language)
                for r in canonicalize(qdf, mdf, xdf).collect()
            )
            assert got == exp, route
            assert ("e:s2", "e:p", "e:badobj",
                    "http://www.w3.org/2001/XMLSchema#string", None) in got
        # the extraction kernel's canonicalization, on the same inputs
        kernel = _kernel_canonicalize(
            [(q.subject, q.predicate, q.obj, q.datatype, q.language, q.graph,
              q.dataset) for q in quads],
            list(mapping.items()), sorted(excluded) * 2)
        assert Counter(k[:5] for k in kernel.elements()) == exp

    def test_dimension_routes_agree_on_irregular_inputs(self, spark,
                                                        canon_frames):
        """Inputs canonical_mapping never returns: a mapping node twice with
        two canonicals (the larger wins), a NULL canonical, a NULL excluded
        IRI. canonicalize's Catalyst dimension (over local-relation and
        RDD-backed inputs) and the extraction kernel's
        extract_vec.canonical_dimension give the same rows."""
        rows = [(s, "e:p", o, None, None, "g", None) for s, o in [
            ("e:twice", "e:nullc"), ("e:nullc", "e:twice"),
            ("e:s", "e:x"), ("e:s", "e:y"), ("e:y", "e:s")]]
        qdf = spark.createDataFrame(
            rows,
            "subject string, predicate string, obj string, datatype string, "
            "language string, graph string, dataset string")
        mapping_rows = [("e:twice", "e:a"), ("e:twice", "e:b"),
                        ("e:nullc", None), ("e:y", "e:x"), ("e:y", None)]
        excluded = ["e:x", None, "e:x"]
        routes = canon_frames(mapping_rows, excluded)
        got = {route: Counter(tuple(r) for r in
                              canonicalize(qdf, mdf, xdf).collect())
               for route, (mdf, xdf) in routes.items()}
        got["kernel"] = _kernel_canonicalize(rows, mapping_rows, excluded)
        assert got["local"] == got["rdd"] == got["kernel"]
        assert got["local"] == Counter([
            ("e:b", "e:p", "e:nullc", None, None, "g", None),
            ("e:nullc", "e:p", "e:b", None, None, "g", None)])

    def test_plan_probes_one_dimension_per_column(self, spark, canon_frames):
        """The corpus is probed by exactly two broadcast hash joins (subject,
        obj) against ONE broadcast dimension: the obj probe reuses the
        subject probe's broadcast exchange. Holds for local-relation and
        RDD-backed inputs alike: both build the dimension in Catalyst (its
        aggregate is in the plan)."""
        import re

        qdf = spark.createDataFrame(
            [("e:a", "e:p", "e:b", None, None, "g", None),
             ("e:s", "e:p", "lit", "xsd", None, "g", None)],
            "subject string, predicate string, obj string, datatype string, "
            "language string, graph string, dataset string")
        routes = canon_frames([("e:a", "e:c"), ("e:b", "e:x")], ["e:x"])
        for route, (mdf, xdf) in routes.items():
            out = canonicalize(qdf, mdf, xdf)
            out.collect()
            plan = out._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==", 1)[0]
            probes = re.findall(r"BroadcastHashJoin \[(subject|obj)#\d+\]",
                                plan)
            assert sorted(probes) == ["obj", "subject"], (route, plan)
            reused = re.findall(
                r"ReusedExchange \[[^\]]*\], BroadcastExchange", plan)
            assert len(reused) == 1, (route, plan)
            assert "Aggregate" in plan, (route, plan)


class TestCamelCase:
    CASES = ["sql_runner", "code_interpreter", "web browser tool",
             "single", "a_b_c_d", "x", "trailing_", "_leading"]

    def test_oracle_vs_expr_parity(self, spark):
        from quad_processor_util_spark.functions.uri import camel_case_expr

        df = spark.createDataFrame([(c,) for c in self.CASES], "raw string")
        got = {r.raw: r.camel
               for r in df.select("raw", camel_case_expr(F.col("raw"))
                                  .alias("camel")).collect()}
        for c in self.CASES:
            assert got[c] == camel_case(c), c

    def test_reference_semantics(self):
        assert camel_case("sql_runner") == "sqlRunner"
        assert camel_case("web browser tool") == "webBrowserTool"
        assert camel_case("single") == "single"
        # first word unchanged — including its case
        assert camel_case("Already_cased") == "AlreadyCased"
        # ligature-safe capitalize: ß never uppercased (RichString.scala:48-53)
        assert camel_case("a ßword") == "aßword"


class TestJaccardCapUniverse:
    def test_sizes_use_post_cap_universe(self, spark):
        """With a df-cap that removes a hot shingle, jaccard must be computed
        over the filtered shingle universe on BOTH sides of the ratio."""
        texts = [
            (0, "common alpha beta gamma delta"),
            (1, "common alpha beta gamma epsilon"),
            (2, "common zeta eta theta iota"),
            (3, "common zeta eta theta kappa"),
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        # 3-gram shingles; every doc shares no full 3-gram with the others
        # except within pairs (0,1) and (2,3). Cap at df>=4 removes nothing
        # here; use shingle_n=1 (tokens) so 'common' (df=4) gets capped.
        pairs = ngram_jaccard_pairs(df, shingle_n=1, threshold=0.5,
                                    max_shingle_df=3).collect()
        got = {(r.id_a, r.id_b): round(r.jaccard, 6) for r in pairs}
        # post-cap universes: {alpha,beta,gamma,delta} vs {...epsilon}:
        # inter=3, union=5 -> 0.6 (with 'common' in sizes it would be 3/7)
        assert got == {(0, 1): 0.6, (2, 3): 0.6}


def _naive_jaccard_pairs(df, threshold, shingle_n=3, max_shingle_df=1000,
                         text_col="text", id_col="doc_id"):
    """Reference for ngram_jaccard_pairs: the quadratic inverted-index
    self-join over the same df-capped shingle rows, no prefix filter."""
    from quad_processor_util_spark.operators.dedup import word_shingle_rows

    sh = word_shingle_rows(df, text_col, id_col, shingle_n)
    hot = (sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
           .where(F.col("__df") > max_shingle_df))
    sh = sh.join(hot.select("__sh"), "__sh", "left_anti")
    # sizes AFTER the df-cap: numerator and denominator must share the same
    # shingle universe
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "__sh")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"),
                                F.col("__sz").alias("__sza")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("__sz").alias("__szb")), "id_b")
        .select("id_a", "id_b",
                (F.col("__inter") / (F.col("__sza") + F.col("__szb")
                                     - F.col("__inter"))).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


class TestJaccardPrefixFilter:
    @pytest.mark.parametrize("threshold", [0.3, 0.5, 0.7, 0.9])
    def test_prefix_filtered_equals_naive(self, spark, sf_dir, threshold):
        """Prefix filtering is a lossless candidate reduction: output must be
        identical to the naive quadratic join at every threshold, under the
        default df-cap (which drops nothing from 200 documents) and under
        a cap of 2 (which drops every shingle shared by 3 or more)."""
        import os as _os

        docs = spark.read.parquet(
            _os.path.join(sf_dir, "documents.parquet")
        ).limit(200)
        for cap in (1000, 2):
            fast = {
                (r.id_a, r.id_b): round(r.jaccard, 9)
                for r in ngram_jaccard_pairs(
                    docs, shingle_n=3, threshold=threshold,
                    max_shingle_df=cap).collect()
            }
            naive = {
                (r.id_a, r.id_b): round(r.jaccard, 9)
                for r in _naive_jaccard_pairs(
                    docs, threshold, max_shingle_df=cap).collect()
            }
            assert fast == naive, cap

    def test_no_single_partition_stage_or_anti_join(self, spark, spark_jobs,
                                                    sf_dir):
        """Every execution of one call and of its collect, read from the
        status store (the checkpointed ones included), uncapped and capped:
        no SinglePartition exchange (shingle codes come from the vocabulary
        aggregate, not from a rank over the whole vocabulary) and no
        LeftAnti join (the cap filters that same aggregate)."""
        import os as _os

        rows = spark.read.parquet(
            _os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text").limit(200).collect()
        # a local relation: a limit over the scan would plan its own
        # SinglePartition exchange
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        for cap in (1 << 31, 2):
            _, jobs, plans = spark_jobs(lambda: ngram_jaccard_pairs(
                docs, threshold=0.5, max_shingle_df=cap).collect())
            assert jobs and plans, cap
            for _, plan in plans:
                assert "SinglePartition" not in plan, plan
                assert "LeftAnti" not in plan, plan


class TestReviewRegressions:
    def test_star_view_labelless_subject_ansi(self, spark):
        from quad_processor_util_spark.operators.grouping import star_view

        quads = spark.createDataFrame(
            [("e:s1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
              "e:T", None, None, None, None),
             ("e:s2", "http://www.w3.org/2000/01/rdf-schema#label",
              "L", None, None, None, None)],
            "subject string, predicate string, obj string, datatype string, "
            "language string, graph string, dataset string",
        )
        got = {r.subject: r.label for r in star_view(quads).collect()}
        assert got == {"e:s1": None, "e:s2": "L"}

    def test_gazetteer_non_ascii_boundary_prefix(self, spark):
        from quad_processor_util_spark.oracle import Gazetteer
        from test_extract_vec import _check_parity, _frame

        g = Gazetteer({"New": "http://e/1", "Newé": "http://e/2"})
        found = {(m.start, m.end, m.surface) for m in g.find_all("Newé")}
        # 'é' is outside the regex boundary class, so 'New' matches at (0,3)
        assert (0, 3, "New") in found and (0, 4, "Newé") in found
        for policy in ("ALL", "NO_SUB", "LONGEST_DOMINANT_RIGHT"):
            _check_parity(_frame(["Newé and New"]), g, policy)

    def test_cosine_zero_vector_not_rank1(self, spark):
        from quad_processor_util_spark.operators.similarity import cosine_topk

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, [0.5, 0.5])],
            "vec_id long, embedding array<float>",
        )
        q = emb.where("vec_id = 0")
        rows = cosine_topk(emb, q, k=2).collect()
        assert [r.neighbor_id for r in rows] == [1, 3]  # zero vector last, not NaN-first

    def test_ivf_small_corpus_nprobe_clamped(self, spark):
        from quad_processor_util_spark.operators.similarity import ivf_topk

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        q = emb.where("vec_id = 0")
        rows = ivf_topk(emb, q, dim=2, k=2, n_lists=16, nprobe=4).collect()
        assert rows and rows[0].neighbor_id == 1

    def test_null_edge_kind_is_equivalence(self, spark):
        from quad_processor_util_spark.operators.cc import canonical_mapping

        edges = spark.createDataFrame(
            [("e:b", "e:a", None), ("e:c", "e:b", "redirect")],
            "src_iri string, dst_iri string, edge_kind string",
        )
        mapping, excluded = canonical_mapping(edges)
        got = {r.node: r.canonical for r in mapping.collect()}
        assert got == {"e:a": "e:a", "e:b": "e:a", "e:c": "e:a"}
        assert excluded.count() == 0

    def test_band_divisibility_raises(self, spark, spark_jobs):
        """Bands that do not divide the hashes, shingle/hash/band counts
        below 1, a Jaccard threshold outside (0, 1] and a df-cap below 1
        raise ValueError on the driver before any job runs."""
        from quad_processor_util_spark.operators.dedup import (
            dedup_clusters, minhash_dedup, minhash_signatures,
            minhash_lsh_candidates, ngram_jaccard_pairs,
            ngram_jaccard_pairs_from_candidates, simhash_candidates,
            word_shingle_rows,
        )

        docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        cands = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        sigs = minhash_signatures(docs, num_hashes=32)
        sh = spark.createDataFrame([(1, 7)], "doc_id long, simhash long")
        cases = [
            (lambda: minhash_lsh_candidates(sigs, bands=5), "not divisible"),
            (lambda: simhash_candidates(sh, bands=5), "not divisible"),
            (lambda: word_shingle_rows(docs, n=0), "n must be >= 1"),
            (lambda: minhash_dedup(docs, shingle_n=0), "n must be >= 1"),
            (lambda: dedup_clusters(docs, shingle_n=-1), "n must be >= 1"),
            (lambda: ngram_jaccard_pairs(docs, shingle_n=0),
             "n must be >= 1"),
            (lambda: minhash_signatures(docs, num_hashes=0),
             "num_hashes must be >= 1"),
            (lambda: minhash_dedup(docs, num_hashes=0, bands=1),
             "num_hashes must be >= 1"),
            (lambda: minhash_lsh_candidates(sigs, bands=0),
             "bands must be >= 1"),
            (lambda: minhash_lsh_candidates(sigs, bands=-4),
             "bands must be >= 1"),
            (lambda: dedup_clusters(docs, bands=0), "bands must be >= 1"),
            (lambda: minhash_dedup(docs, bands=0), "bands must be >= 1"),
            (lambda: minhash_dedup(docs, bands=5), "not divisible"),
            (lambda: simhash_candidates(sh, bands=0), "bands must be >= 1"),
            (lambda: simhash_candidates(sh, bands=-4), "bands must be >= 1"),
            (lambda: ngram_jaccard_pairs(docs, threshold=0), "threshold"),
            (lambda: ngram_jaccard_pairs(docs, threshold=1.5), "threshold"),
            (lambda: ngram_jaccard_pairs(docs, threshold=float("nan")),
             "threshold"),
            (lambda: ngram_jaccard_pairs(docs, max_shingle_df=0),
             "max_shingle_df must be >= 1"),
            (lambda: ngram_jaccard_pairs_from_candidates(
                docs, cands, threshold=-0.1), "threshold"),
            (lambda: minhash_dedup(docs, threshold=0), "threshold"),
            (lambda: minhash_dedup(docs, threshold=2), "threshold"),
            (lambda: dedup_clusters(docs, threshold=0), "threshold"),
            (lambda: dedup_clusters(docs, threshold=1.01), "threshold"),
        ]

        def run():
            for call, match in cases:
                with pytest.raises(ValueError, match=match):
                    call()

        _, jobs, _ = spark_jobs(run)
        assert not jobs

    def test_parse_expr_empty_uri_tokens_match_exact_path(
            self, nt_parse_checked):
        assert len(nt_parse_checked([
            "<http://s> <http://p> <> .",
            '<http://s> <http://p> "" .',
            '<http://s> <http://p> "x"^^<> .',
            "<http://s> <http://p> <http://o> <> .",
            '<http://s> <http://p> "y"@en <http://g> .',
        ])) == 5

    def test_format_expr_empty_graph_matches_oracle(self, spark):
        from quad_processor_util_spark.functions.nt import format_nt_expr
        from quad_processor_util_spark.oracle import PyQuad, format_nt_line

        q = PyQuad("http://s", "http://p", "http://o", None, None, "")
        df = spark.createDataFrame(
            [(q.subject, q.predicate, q.obj, q.datatype, q.language, q.graph,
              q.dataset)],
            "subject string, predicate string, obj string, datatype string, "
            "language string, graph string, dataset string",
        )
        got = format_nt_expr(df, quads_mode=True).collect()[0].line
        assert got == format_nt_line(q, quads_mode=True, turtle=True)

    def test_is_globally_sorted_numeric(self, spark):
        from quad_processor_util_spark.operators.sort import is_globally_sorted

        df = spark.range(0, 30).withColumnRenamed("id", "k")
        srt = df.repartitionByRange(3, "k").sortWithinPartitions("k")
        assert is_globally_sorted(srt, "k")  # '9' > '10' lexicographic trap


class TestTextClean:
    def test_pii_redaction_and_html_strip(self, spark):
        from quad_processor_util_spark.functions.text import clean_text

        cases = [
            ("mail me at john.doe+x@example.co.uk today",
             "mail me at <EMAIL> today"),
            ("call +1 (555) 123-4567 now", "call <PHONE> now"),
            ("server at 192.168.0.1 down", "server at <IP> down"),
            ("<p>hello <b>world</b></p>", "hello world"),
            ("  spaced   out\ttext ", "spaced out text"),
            ("nothing to clean.", "nothing to clean."),
            ("<a href='x'>a@b.io</a> 10.0.0.254", "<EMAIL> <IP>"),
        ]
        df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)],
                                   "id long, text string")
        got = {r.id: r.c for r in
               df.select("id", clean_text(F.col("text")).alias("c")).collect()}
        for i, (_, exp) in enumerate(cases):
            assert got[i] == exp, (i, got[i], exp)


class TestTriX:
    def test_fragment_shape_escaping_and_bad_uri(self, spark):
        from quad_processor_util_spark.functions.nt import (
            TRIX_FOOTER, TRIX_HEADER, format_trix,
        )

        quads = spark.createDataFrame(
            [
                ("http://s", "http://p", "a <b> & \"c\"",
                 "http://www.w3.org/2001/XMLSchema#string", None, "http://g", None),
                ("http://s2", "http://p", "hola",
                 "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
                 "es", None, None),
                ("not a uri", "http://p", "http://o", None, None, "http://g", None),
            ],
            "subject string, predicate string, obj string, datatype string, "
            "language string, graph string, dataset string",
        )
        rows = [r.trix for r in format_trix(quads, quads_mode=True).collect()]
        assert rows[0] == (
            "  <graph>\n"
            "    <uri>http://g</uri>\n"
            "    <triple>\n"
            "      <uri>http://s</uri>\n"
            "      <uri>http://p</uri>\n"
            '      <typedLiteral datatype='
            '"http://www.w3.org/2001/XMLSchema#string">'
            "a &lt;b&gt; &amp; &quot;c&quot;</typedLiteral>\n"
            "    </triple>\n"
            "  </graph>\n"
        )
        # null graph in quads mode: the reference's literal BAD URI text
        assert "<uri>BAD URI: null</uri>" in rows[1]
        assert '<plainLiteral xml:lang="es">hola</plainLiteral>' in rows[1]
        assert "<uri>BAD URI: not absolute: not a uri</uri>" in rows[2]
        assert TRIX_HEADER.startswith("<TriX") and TRIX_FOOTER == "</TriX>\n"


class TestRound2Hardening:
    def test_ledger_torn_tail_ignored(self, tmp_path):
        from quad_processor_util_spark.plans.checkpoint import Ledger

        p = tmp_path / "ledger.jsonl"
        p.write_text('{"bucket": 0, "turns_in": 5}\n{"bucket": 1, "turn')
        done = Ledger(str(p)).completed()
        assert list(done) == [0]  # torn append = uncommitted, bucket re-runs

    def test_ledger_torn_middle_still_raises(self, tmp_path):
        import json as _json

        from quad_processor_util_spark.plans.checkpoint import Ledger

        p = tmp_path / "ledger.jsonl"
        p.write_text('{"bucket": 0, "turn\n{"bucket": 1, "turns_in": 5}\n')
        with pytest.raises(_json.JSONDecodeError):
            Ledger(str(p)).completed()

    def test_ledger_bucketing_mismatch_refuses_resume(self, spark, tmp_path):
        from quad_processor_util_spark.plans.checkpoint import (
            Ledger, run_checkpointed,
        )

        ledger = str(tmp_path / "ledger.jsonl")
        Ledger(ledger).record(0, {"n_buckets": 8, "conv_col": "conv_id"})
        tr = spark.createDataFrame(
            [("c1", 0, "user", "t", None)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        with pytest.raises(ValueError, match="refusing to resume"):
            run_checkpointed(tr, lambda d: d, str(tmp_path / "out"), ledger,
                             n_buckets=16)

    def test_sidecar_append_accumulates_commits(self, spark, tmp_path):
        from quad_processor_util_spark.sources.io import (
            read_table_meta, write_table,
        )

        p = str(tmp_path / "tbl")
        df = spark.range(3)
        write_table(df, p, mode="overwrite", meta={"rows": 3})
        write_table(df, p, mode="append", meta={"rows": 3})
        meta = read_table_meta(p)
        assert len(meta["commits"]) == 2

    def test_gazetteer_broadcast_reused(self, spark):
        from quad_processor_util_spark.plans.pipeline import broadcast_gazetteer

        g = {"Ada Lovelace": "http://e/ada"}
        b1 = broadcast_gazetteer(spark, g)
        b2 = broadcast_gazetteer(spark, dict(g))
        assert b1 is b2
        b3 = broadcast_gazetteer(spark, {"Other": "http://e/o"})
        assert b3 is not b1

    def test_streaming_extract_forwards_policy(self, spark, tmp_path):
        """A stream over an overlapping gazetteer under policy="ALL" must
        emit the quads batch extract_quads emits under "ALL", which differ
        from the default policy's."""
        import pandas as pd

        from quad_processor_util_spark.plans.pipeline import extract_quads
        from quad_processor_util_spark.streaming.ingest import (
            read_transcript_stream, streaming_extract,
        )

        gaz = {"New York": "http://e/ny", "York City": "http://e/yc",
               "New York City": "http://e/nyc"}
        pdf = pd.DataFrame({
            "conv_id": ["c1", "c1"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["user", "user"],
            "text": ["New York City has population 8000000.",
                     "New York City is known as \"The Big Apple\"@en."],
            "tool": pd.array([None, None], dtype="string"),
            "ts": pd.Series([pd.Timestamp("2026-01-01")] * 2)
            .astype("datetime64[us]"),
        })
        src = tmp_path / "src"
        src.mkdir()
        pdf.to_parquet(str(src / "p.parquet"), index=False)
        stream = read_transcript_stream(spark, str(src))
        out = streaming_extract(stream, gaz, policy="ALL")
        q = (out.writeStream.outputMode("append").format("memory")
             .queryName("se_out").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.sql("SELECT * FROM se_out").collect()))

        batch = spark.read.parquet(str(src))

        def extracted(policy):
            return sorted(map(tuple, extract_quads(batch, gaz, policy)
                              .collect()))

        assert got == extracted("ALL")
        assert got != extracted("LONGEST_DOMINANT_RIGHT")


class TestWinnowing:
    def test_shared_substring_guarantee_and_selectivity(self, spark):
        """Robust winnowing (k=7, w=4): any shared substring of length >=
        k+w-1 = 10 yields a shared fingerprint; selected set is a strict
        subset of all grams."""
        from quad_processor_util_spark.functions.text import winnow_fingerprints

        common = "the quick brown fox jumps over the lazy dog"
        df = spark.createDataFrame(
            [(1, "AAA " + common + " xyz"),
             (2, "qqq 12345 " + common + " ppp"),
             (3, "totally unrelated content with zero overlap at all")],
            "doc_id long, text string",
        )
        rows = winnow_fingerprints(df, k=7, window=4).collect()
        fps = {}
        for r in rows:
            fps.setdefault(r.doc_id, set()).add(r.fp)
        assert fps[1] & fps[2], "shared 44-char substring must share a fingerprint"
        # selectivity: far fewer fingerprints than grams (~2/(w+1) density)
        n_grams_1 = len("aaa " + common + " xyz") - 6
        assert len(fps[1]) < n_grams_1 * 0.8
        # determinism
        again = winnow_fingerprints(df, k=7, window=4).collect()
        assert {(r.doc_id, r.fp) for r in again} == {(r.doc_id, r.fp) for r in rows}


class TestIVF:
    def test_recall_monotone_and_deterministic(self, spark, sf_dir):
        """IVF ANN: recall vs the exact baseline grows with nprobe and the
        whole pipeline (sampled spherical k-means fit + assignment + re-rank)
        is deterministic across runs."""
        import os as _os

        from quad_processor_util_spark.operators.similarity import (
            cosine_topk,
            ivf_topk,
        )

        emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
        q = emb.where(F.col("vec_id") < 10)
        exact = {(r.query_id, r.neighbor_id)
                 for r in cosine_topk(emb, q, k=3).collect()}

        def recall(nprobe):
            got = {(r.query_id, r.neighbor_id)
                   for r in ivf_topk(emb, q, dim=64, k=3, n_lists=16,
                                     nprobe=nprobe).collect()}
            return len(got & exact) / len(exact)

        r2, r8 = recall(2), recall(8)
        assert r8 >= 0.75          # uniform-random data; clustered data does better
        assert r8 >= r2            # more probes never hurt
        a = sorted(tuple(r) for r in
                   ivf_topk(emb, q, dim=64, k=3, n_lists=16, nprobe=4).collect())
        b = sorted(tuple(r) for r in
                   ivf_topk(emb, q, dim=64, k=3, n_lists=16, nprobe=4).collect())
        assert a == b


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


class TestStreamingSessionize:
    def test_multi_chunk_out_of_order_within_trigger(self):
        """Chunk boundaries within one trigger must not corrupt the gap
        logic: two chunks delivered with later timestamps first must give
        the same result as one sorted chunk."""
        import pandas as pd

        from quad_processor_util_spark.streaming.ingest import _sessionize_update

        base = pd.Timestamp("2026-01-01 12:00:00")
        h = pd.Timedelta(hours=1)
        chunk_late = pd.DataFrame({"ts": [base, base + h]})
        chunk_early = pd.DataFrame({"ts": [base - 3 * h]})
        st = _FakeGroupState()
        out = list(_sessionize_update(("a",), iter([chunk_late, chunk_early]),
                                      st, gap=1800.0))[0]
        # sorted: -3h | 0h | +1h -> 3 sessions (each gap > 30min)
        assert out.n_sessions.iloc[0] == 3 and out.n_turns.iloc[0] == 3
        # last_ts is the true max, not the last chunk's tail
        assert st.get[0] == (base + h).timestamp()
        # second trigger 10 minutes after the max: same session
        st2_chunk = pd.DataFrame({"ts": [base + h + pd.Timedelta(minutes=10)]})
        out2 = list(_sessionize_update(("a",), iter([st2_chunk]), st, gap=1800.0))[0]
        assert out2.n_sessions.iloc[0] == 3 and out2.n_turns.iloc[0] == 4

    def test_stateful_sessionize_matches_batch_semantics(self, spark, tmp_path):
        import pandas as pd

        from quad_processor_util_spark.streaming.ingest import (
            read_transcript_stream,
            streaming_sessionize,
        )

        base = pd.Timestamp("2026-01-01 00:00:00")
        mins = pd.Timedelta(minutes=1)
        rows = []
        # conv a: gaps 1m,45m,5m,90m -> 3 sessions, 5 turns
        for i, off in enumerate([0, 1, 46, 51, 141]):
            rows.append(("a", i, "user", f"t{i}", None, base + off * mins))
        # conv b: single turn -> 1 session
        rows.append(("b", 0, "user", "x", None, base))
        # conv c: gaps exactly 30m are NOT new sessions (strict >)
        for i, off in enumerate([0, 30, 60]):
            rows.append(("c", i, "user", f"y{i}", None, base + off * mins))
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["tool"] = pdf["tool"].astype("string")  # all-null would infer int
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        src = tmp_path / "stream_src"
        src.mkdir()
        pdf.to_parquet(str(src / "part-0.parquet"), index=False)

        stream = read_transcript_stream(spark, str(src))
        q = (
            streaming_sessionize(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("sess_out")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql(
            "SELECT conv_id, max_by(n_sessions, n_turns) AS n_sessions, "
            "max(n_turns) AS n_turns FROM sess_out GROUP BY conv_id"
        ).collect()
        got = {r.conv_id: (r.n_sessions, r.n_turns) for r in out}
        assert got == {"a": (3, 5), "b": (1, 1), "c": (1, 3)}


class TestPipelineE2E:
    def test_composition_rewrites_and_drops(self, spark, sf_dir):
        import __spark_entry__ as em

        rows = em.queries()["pipeline_e2e"](spark, sf_dir).collect()
        assert rows
        subjects = {r.subject for r in rows}
        objs = {r.obj for r in rows}
        dbr = "http://dbpedia.org/resource/"
        assert dbr + "A0_Ada" in subjects          # Ada rewritten
        assert dbr + "Ada_Lovelace" not in subjects
        assert dbr + "AA_TI" in objs               # Turing Institute rewritten
        assert dbr + "Turing_Institute" not in objs
        assert dbr + "Knuth_Press" not in objs     # disambiguation dropped
