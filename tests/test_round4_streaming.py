"""Round-4 streaming hardening: exactly-once resume of the file-source
stream across separate drains sharing one checkpoint, and a randomized
escape-corpus check of the N-Triples parser against the per-row oracle."""

from __future__ import annotations

import os

import pytest


class TestStreamRestartExactlyOnce:
    def test_incremental_drains_share_checkpoint_no_duplicates(
        self, spark, fixtures_dir, tmp_path
    ):
        """Drain 1 sees the first file drop; more files land; drain 2 reuses
        the SAME checkpoint and must process ONLY the new files — the sink
        ends up with every input row exactly once (file-source offsets +
        exactly-once file sink). This is the restart-after-stop shape a
        production ingest loop runs daily."""
        from quad_processor_util_spark.datagen import build_entity_catalog
        from quad_processor_util_spark.datagen import build_gazetteer
        from quad_processor_util_spark.streaming.ingest import (
            read_transcript_stream, run_stream_to_parquet, streaming_extract,
        )

        gaz = build_gazetteer(build_entity_catalog())
        tr = spark.read.parquet(os.path.join(fixtures_dir,
                                             "transcripts.parquet"))
        convs = [r[0] for r in tr.select("conv_id").distinct().collect()]
        half = set(convs[: len(convs) // 2])
        first = tr.where(tr.conv_id.isin(half))
        second = tr.where(~tr.conv_id.isin(half))

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        first.coalesce(2).write.mode("append").parquet(src)

        def drain():
            stream = streaming_extract(
                read_transcript_stream(spark, src), gaz.surface_to_iri)
            run_stream_to_parquet(stream, out, ckpt).awaitTermination(120)

        drain()
        n_after_first = spark.read.parquet(out).count()
        assert n_after_first > 0

        # new drop lands while the stream is DOWN; restart from checkpoint
        second.coalesce(2).write.mode("append").parquet(src)
        drain()

        got = spark.read.parquet(out)
        from quad_processor_util_spark.plans.pipeline import extract_quads

        expect = extract_quads(tr, gaz.surface_to_iri)
        # exactly-once: multiset equality, not just distinct-set equality —
        # a double-processed first drop would double its rows
        key = ["subject", "predicate", "obj", "datatype", "language", "graph"]
        g = got.groupBy(key).count().collect()
        e = expect.groupBy(key).count().collect()
        assert sorted(map(tuple, g)) == sorted(map(tuple, e))
        # and drain 2 really did add only the second half
        assert got.count() == expect.count()


class TestHybridParseProperty:
    @pytest.mark.parametrize("seed", [0, 1])
    def test_randomized_escape_corpus_parity(self, nt_parse_checked, seed):
        """Deterministic pseudo-random corpus mixing every escape family
        (simple, \\uXXXX, \\UXXXXXXXX, doubled backslashes, unknown
        escapes, raw non-ASCII): parse_nt_lines must parse it exactly as
        the per-row oracle does, line for line."""
        import random

        rnd = random.Random(seed)
        frags = ["plain", "t\\tab", "n\\nnl", "q\\\"quote", "b\\\\slash",
                 "u\\u00e9acute", "U\\U0001F600astral", "x\\qunknown",
                 "raw é", "mix\\u0041\\t\\\\"]
        lines = []
        for i in range(200):
            body = "".join(rnd.choice(frags) for _ in range(rnd.randint(1, 4)))
            suffix = rnd.choice(["", "@en", "^^<http://ex.org/dt>"])
            lines.append(
                f'<http://s/{i}> <http://p> "{body}"{suffix} .')
        assert len(nt_parse_checked(lines)) == 200
