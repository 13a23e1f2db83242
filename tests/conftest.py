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


@pytest.fixture(scope="session")
def canon_frames(spark):
    """frames(mapping_rows, excluded_iris) -> {"local": (m, x), "rdd": (m, x)}:
    canonicalize's two inputs built twice, as Arrow local relations
    (isLocal(), what canonical_mapping returns for a driver-sized graph)
    and as RDD-backed frames (like its distributed output)."""
    import pyarrow as pa

    def frames(mapping_rows, excluded_iris):
        nodes, canons = zip(*mapping_rows) if mapping_rows else ((), ())
        local = (
            spark.createDataFrame(pa.table({
                "node": pa.array(nodes, pa.string()),
                "canonical": pa.array(canons, pa.string())})),
            spark.createDataFrame(pa.table({
                "iri": pa.array(list(excluded_iris), pa.string())})),
        )
        rdd = (
            spark.createDataFrame(list(mapping_rows),
                                  "node string, canonical string"),
            spark.createDataFrame([(i,) for i in excluded_iris], "iri string"),
        )
        assert all(df.isLocal() for df in local)
        assert not any(df.isLocal() for df in rdd)
        return {"local": local, "rdd": rdd}

    return frames


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """run(call) -> (call's result, ids of the Spark jobs it started,
    [(description, formatted physical plan)] of the SQL executions those
    jobs ran), read from the status store through a fresh job group."""
    import itertools

    groups = itertools.count()

    def run(call):
        sc = spark.sparkContext
        group = f"spark-jobs-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            result = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
        execs = spark._jsparkSession.sharedState().statusStore().executionsList()
        plans = [(e.description(), e.physicalPlanDescription())
                 for e in map(execs.apply, range(execs.size()))
                 if any(e.jobs().contains(j) for j in jobs)]
        return result, jobs, plans

    return run
