from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from lakekeeper_spark.session import get_session

    # one shared session: JVM startup is ~40 s in this environment
    spark = get_session("tests", master="local[4]")
    yield spark


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn`` under a fresh Spark job group and
    returns how many jobs it started (deterministic on a warm session)."""
    import uuid

    sc = spark.sparkContext

    def jobs(fn) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group, False)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return jobs


@pytest.fixture()
def catalog(tmp_path):
    from lakekeeper_spark.catalog.catalog import Catalog
    from lakekeeper_spark.catalog.metastore import Metastore

    cat = Catalog(Metastore(str(tmp_path / "metastore.db")))
    cat.create_warehouse("wh", str(tmp_path / "warehouse"))
    return cat


SF_DIR = "/root/testdata/sf0.001"
