import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from flockdb_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="flockdb-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def store(spark):
    from flockdb_spark.graph import EdgeStore
    from flockdb_spark.sources.edges import build_edges

    st = EdgeStore.from_edges(spark, build_edges(spark, SF_DIR).cache())
    st.metadata = st.metadata.cache()
    return st


def edge_rows_df(spark, rows):
    """rows: (graph_id, source_id, destination_id, position, updated_at, state)"""
    from flockdb_spark.schema import EDGE_SCHEMA

    full = [(g, s, d, p, u, 0, st) for (g, s, d, p, u, st) in rows]
    return spark.createDataFrame(full, EDGE_SCHEMA)
