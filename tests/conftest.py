import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hudi_delete_view_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "tests")


def _jobs_for(spark, group, fn):
    """Ids of the Spark jobs ``fn`` launches, counted under job group
    ``group``. Job ids accumulate per group name, so every measured call
    (each parametrized case too) needs a name of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job audit")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    return get_spark("hdv-tests")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def scratch(request):
    """Per-test scratch dir inside the repo (kept out of git)."""
    import shutil

    # strip glob metacharacters from parametrized ids ("t[avg]" etc.) —
    # Hadoop path resolution treats [] {} * ? as glob syntax
    import re

    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", request.node.name)
    path = os.path.join(SCRATCH, safe)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    """Deduplicated lineitem — the synthetic raw table has duplicate keys
    (see fixtures.dedup_lineitem); the lake fixtures ingest this form."""
    from hudi_delete_view_spark.sources.fixtures import dedup_lineitem

    df = dedup_lineitem(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))
    df.cache().count()
    return df
