from __future__ import annotations

import sys
import os

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from parquet_pipeline_spark.session import get_spark

    spark = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.master": "local[8]",
            # managed-table home for bucketed-write tests
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-warehouse-"),
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def emb_001(spark):
    """(vec_id, embedding) of the sf0.01 fixture: enough vectors for
    retrieval tests whose shortlist cut must be real."""
    sf001 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    return spark.read.parquet(f"{sf001}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
