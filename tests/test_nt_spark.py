"""Spark-side NT parse/format vs the pure-Python oracle."""

import pandas as pd

from quad_processor_util_spark.datagen import build_quad_lines
from quad_processor_util_spark.functions.nt import (
    dedup_quads_df,
    format_nt_exact,
    format_nt_expr,
    parse_nt_lines,
)
from quad_processor_util_spark.oracle import parse_nt_line


def _oracle_parse(lines):
    out = []
    for ln in lines:
        q = parse_nt_line(ln)
        if q:
            out.append((q.subject, q.predicate, q.obj, q.datatype, q.language, q.graph))
    return sorted(out)


def test_parse_exact_matches_oracle(spark):
    pdf = build_quad_lines()
    df = spark.createDataFrame(pdf)
    got = sorted(
        tuple(r) for r in parse_nt_lines(df)
        .select("subject", "predicate", "obj", "datatype", "language", "graph")
        .collect()
    )
    assert got == _oracle_parse(pdf["line"])
    assert len(got) == 9  # all good lines, no skipped ones


def test_parse_expr_unescapes_simple_escapes(nt_parse_checked):
    """Literal unescape (Quad.scala:216-220): every simple escape,
    adjacent/ambiguous backslash runs, and unknown escapes parse exactly as
    the per-row oracle does."""
    lines = [
        r'<http://s> <http://p> "tab\there" .',
        r'<http://s> <http://p> "nl\nnl" .',
        r'<http://s> <http://p> "cr\rcr" .',
        r'<http://s> <http://p> "quote\"q" .',
        r'<http://s> <http://p> "back\\slash" .',
        r'<http://s> <http://p> "bs-then-n\\nx" .',
        r'<http://s> <http://p> "bell\b form\f" .',
        r'<http://s> <http://p> "sq\' end" .',
        r'<http://s> <http://p> "unknown\qkeep" .',
        r'<http://s> <http://p> "trail\\t" .',
        r'<http://s> <http://p> "esc\tin lang"@en .',
        r'<http://s> <http://p> "esc\nin dt"^^<http://ex.org/dt> .',
    ]
    got = nt_parse_checked(lines)
    assert len(got) == len(lines)
    objs = {r[2] for r in got}
    # the ambiguous run: chars \ \ n x unescape to backslash + 'nx', NOT \n
    assert "bs-then-n\\nx" in objs
    assert "tab\there" in objs and "unknown\\qkeep" in objs


def test_parse_expr_agrees_on_clean_lines(nt_parse_checked):
    # escape-free lines: all canonical but the comment and the garbage
    lines = [
        "<http://ex.org/s1> <http://ex.org/p> <http://ex.org/o1> .",
        '<http://ex.org/s1> <http://ex.org/p> "plain lit" .',
        '<http://ex.org/s2> <http://ex.org/p> "hello"@pt-br .',
        '<http://ex.org/s2> <http://ex.org/p> "3.14"^^<http://www.w3.org/2001/XMLSchema#double> .',
        "<http://ex.org/s3> <http://ex.org/p> <http://ex.org/o2> <http://ex.org/g1> .",
        "# comment",
        "garbage",
    ]
    assert len(nt_parse_checked(lines)) == 5


def test_format_roundtrip_exact(spark):
    pdf = build_quad_lines()
    df = spark.createDataFrame(pdf)
    quads = parse_nt_lines(df)
    lines = [r.line for r in format_nt_exact(quads, quads_mode=True).collect()]
    reparsed = _oracle_parse(lines)
    assert reparsed == _oracle_parse(pdf["line"])


def test_format_expr_ascii_parity(spark):
    # on ASCII-only data the JVM formatter matches the exact formatter
    lines = [
        "<http://ex.org/s1> <http://ex.org/p> <http://ex.org/o1> .",
        '<http://ex.org/s1> <http://ex.org/p> "plain lit" .',
        '<http://ex.org/s2> <http://ex.org/p> "hi"@en <http://ex.org/g> .',
        '<http://ex.org/s2> <http://ex.org/p> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    ]
    df = spark.createDataFrame(pd.DataFrame({"line": lines}))
    quads = parse_nt_lines(df)
    a = sorted(r.line for r in format_nt_expr(quads, quads_mode=True).collect())
    b = sorted(r.line for r in format_nt_exact(quads, quads_mode=True).collect())
    assert a == b == sorted(lines)


def test_bad_uri_commented_out(spark):
    pdf = pd.DataFrame({
        "subject": ["not a uri"], "predicate": ["http://p"], "obj": ["http://o"],
        "datatype": [None], "language": [None], "graph": [None], "dataset": [None],
    })
    df = spark.createDataFrame(pdf)
    line = format_nt_expr(df).collect()[0].line
    assert line.startswith("# ")


def test_dedup_five_field_identity(spark):
    pdf = pd.DataFrame({
        "subject": ["s", "s", "s"], "predicate": ["p", "p", "p"],
        "obj": ["o", "o", "o"], "datatype": [None, None, "http://x"],
        "language": [None, None, None],
        "graph": ["g1", "g2", "g1"], "dataset": [None, "d", None],
    })
    df = spark.createDataFrame(pdf)
    assert dedup_quads_df(df).count() == 2


def test_single_file_source_parses_in_parallel(spark, spark_jobs, tmp_path):
    """A one-file parquet source scans as one split, yet the parse runs as
    more than one task (read from the status store), with the oracle's
    output."""
    lines = [f'<http://e.org/s{i}> <http://e.org/p> "v{i}" .'
             for i in range(2000)]
    path = str(tmp_path / "lines.parquet")
    pd.DataFrame({"line": lines}).to_parquet(path, index=False)
    src = spark.read.parquet(path)
    assert src.rdd.getNumPartitions() == 1
    cols = ["subject", "predicate", "obj", "datatype", "language", "graph"]
    rows, jobs, _ = spark_jobs(
        lambda: parse_nt_lines(src).select(*cols).collect())
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s) for j in jobs
              for s in tracker.getJobInfo(j).stageIds]
    assert max(s.numTasks for s in stages if s) > 1, stages
    assert sorted(tuple(r) for r in rows) == _oracle_parse(lines)
