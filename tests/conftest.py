import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkdu import fixtures  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from sparkdu.session import get_spark

    cores = os.environ.get("SPARK_GRAFT_CPUS") or "8"
    s = get_spark(app="sparkdu-tests", master=f"local[{cores}]", shuffle_partitions=16)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_rows():
    return fixtures.gen_rows(300)


@pytest.fixture(scope="session")
def pages_df(spark, pages_rows):
    from sparkdu.tables import PAGES_SCHEMA

    return spark.createDataFrame(pages_rows, PAGES_SCHEMA).cache()


@pytest.fixture(scope="session")
def latest_rows(pages_rows):
    """Python-side J9: latest row per url (oracle comparison basis)."""
    latest = {}
    for r in pages_rows:
        if r["url"] not in latest or r["warc_ts"] > latest[r["url"]]["warc_ts"]:
            latest[r["url"]] = r
    return latest


def plan_of(df) -> str:
    """Formatted physical plan (shared by the plan-shape test files)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
