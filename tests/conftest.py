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
