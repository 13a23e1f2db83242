"""Streaming ingest, checkpoint/resume, entity linking, text analytics,
URI UDFs."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from quad_processor_util_spark.datagen import build_entity_catalog, build_gazetteer
from quad_processor_util_spark.functions import text as T
from quad_processor_util_spark.functions.uri import mint_iri_udf
from quad_processor_util_spark.operators.linking import link_surface_forms
from quad_processor_util_spark.oracle import mint_dbpedia_iri
from quad_processor_util_spark.plans.checkpoint import Ledger, run_checkpointed
from quad_processor_util_spark.plans.pipeline import extract_quads


class TestUriUdfs:
    def test_mint_matches_oracle(self, spark):
        names = ["ada lovelace", "New York City", "Ada%20Lovelace", "q?x \"y\""]
        df = spark.createDataFrame(pd.DataFrame({"s": names}))
        got = [r.iri for r in df.select(mint_iri_udf("s").alias("iri")).collect()]
        assert got == [mint_dbpedia_iri(n) for n in names]


class TestTextAnalytics:
    def test_token_count_and_quality(self, spark):
        pdf = pd.DataFrame({"text": ["the quick brown fox", "", "a b  c", "x" * 6000]})
        df = spark.createDataFrame(pdf)
        rows = df.select(
            T.token_count(F.col("text")).alias("n"),
            T.quality_score(F.col("text")).alias("q"),
            T.lang_id_heuristic(F.col("text")).alias("lang"),
        ).collect()
        assert [r.n for r in rows] == [4, 0, 3, 1]
        assert rows[0].lang == "en"
        assert 0.0 <= rows[0].q <= 1.0
        assert rows[3].q < 0.5  # over-long doc penalized

    def test_fingerprint_normalization(self, spark):
        pdf = pd.DataFrame({"text": ["Hello  World", "hello world", "different"]})
        df = spark.createDataFrame(pdf)
        fps = [r.fp for r in df.select(T.fingerprint(F.col("text")).alias("fp")).collect()]
        assert fps[0] == fps[1] != fps[2]


class TestLinking:
    def test_links_misspelled_surface_forms(self, spark):
        catalog = spark.createDataFrame(build_entity_catalog())
        mentions = spark.createDataFrame(pd.DataFrame({
            "surface": ["Ada Lovelase", "Grace Hoper", "Bostn"],
        }))
        out = {r.surface: r.entity_iri
               for r in link_surface_forms(mentions, catalog, min_jaccard=0.3).collect()}
        assert out["Ada Lovelase"].endswith("Ada_Lovelace")
        assert out["Grace Hoper"].endswith("Grace_Hopper")
        assert out["Bostn"].endswith("Boston")


class TestCheckpoint:
    def test_resume_skips_completed_buckets(self, spark, fixtures_dir, tmp_path):
        tr = spark.read.parquet(os.path.join(fixtures_dir, "transcripts.parquet"))
        catalog = build_entity_catalog()
        gaz = build_gazetteer(catalog)
        calls = []

        def process(df):
            calls.append(1)
            return extract_quads(df, gaz.surface_to_iri)

        out = str(tmp_path / "out")
        ledger = str(tmp_path / "ledger.jsonl")
        done1 = run_checkpointed(tr, process, out, ledger, n_buckets=4)
        assert len(done1) == 4 and len(calls) == 4
        # simulate restart: first two buckets already done
        calls.clear()
        done2 = run_checkpointed(tr, process, out, ledger, n_buckets=4)
        assert len(done2) == 4 and len(calls) == 0  # nothing recomputed
        # counters recorded
        led = Ledger(ledger).completed()
        assert all("turns_in" in v and "quads_out" in v for v in led.values())
        total_turns = sum(v["turns_in"] for v in led.values())
        assert total_turns == tr.count()
        # output is complete and readable
        quads = spark.read.parquet(out)
        assert quads.count() == sum(v["quads_out"] for v in led.values())


class TestStreaming:
    def test_stream_extraction_matches_batch(self, spark, fixtures_dir, tmp_path):
        from quad_processor_util_spark.streaming.ingest import (
            read_transcript_stream,
            run_stream_to_parquet,
            streaming_extract,
        )

        catalog = build_entity_catalog()
        gaz = build_gazetteer(catalog)
        src = str(tmp_path / "stream_src")
        tr = spark.read.parquet(os.path.join(fixtures_dir, "transcripts.parquet"))
        tr.write.mode("overwrite").parquet(src)

        stream = read_transcript_stream(spark, src)
        quad_stream = streaming_extract(stream, gaz.surface_to_iri)
        out = str(tmp_path / "stream_out")
        ckpt = str(tmp_path / "ckpt")
        q = run_stream_to_parquet(quad_stream, out, ckpt)
        q.awaitTermination(120)

        got = {
            (r.subject, r.predicate, r.obj, r.datatype, r.language)
            for r in spark.read.parquet(out).collect()
        }
        batch = {
            (r.subject, r.predicate, r.obj, r.datatype, r.language)
            for r in extract_quads(tr, gaz.surface_to_iri).collect()
        }
        assert got == batch
