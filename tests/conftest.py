import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quad_processor_util_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("qpus-tests", parallelism=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def fixtures_dir(tmp_path_factory):
    """Deterministic synthetic fixture tables written once per session,
    one parquet file per table."""
    from quad_processor_util_spark import datagen

    out = tmp_path_factory.mktemp("fixtures")
    for name, df in {
        "transcripts": datagen.build_transcripts(n_convs=120, seed=42),
        "entity_catalog": datagen.build_entity_catalog(),
        "alias_edges": datagen.build_alias_edges(42),
        "quad_lines": datagen.build_quad_lines(),
    }.items():
        df.to_parquet(out / f"{name}.parquet", index=False)
    return str(out)


@pytest.fixture(scope="session")
def nt_parse_checked(spark):
    """check(lines) -> sorted (subject, predicate, obj, datatype, language,
    graph) rows of `parse_nt_lines` over `lines`, after asserting they
    equal `oracle.parse_nt_line` applied to every line (as a multiset)."""
    import pandas as pd

    from quad_processor_util_spark.functions.nt import parse_nt_lines
    from quad_processor_util_spark.oracle import parse_nt_line

    cols = ["subject", "predicate", "obj", "datatype", "language", "graph"]
    # NULL-safe order: None sorts before any string in the same position
    key = lambda t: tuple((v is not None, v or "") for v in t)  # noqa: E731

    def check(lines):
        df = spark.createDataFrame(pd.DataFrame({"line": list(lines)}),
                                   "line string")
        got = sorted((tuple(r) for r in
                      parse_nt_lines(df).select(*cols).collect()), key=key)
        want = sorted(((q.subject, q.predicate, q.obj, q.datatype,
                        q.language, q.graph)
                       for q in map(parse_nt_line, lines) if q), key=key)
        assert got == want
        return got

    return check
