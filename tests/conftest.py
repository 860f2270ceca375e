import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from obsidian_parser_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="ops-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def micro_vault(spark):
    """The reference's canonical 3-note vault as a span-schema DataFrame."""
    from obsidian_parser_spark.sources.corpus import micro_vault_rows
    from tests.util import spans_df

    return spans_df(spark, micro_vault_rows())


@pytest.fixture(params=["default", "no_autobroadcast"])
def join_threshold(spark, request):
    """Runs a test under the session's broadcast threshold and again with
    ``spark.sql.autoBroadcastJoinThreshold=-1`` (the planner may then never
    broadcast); restores the conf afterwards.  Yields the param name."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if request.param == "no_autobroadcast":
        spark.conf.set(key, "-1")
    try:
        yield request.param
    finally:
        spark.conf.set(key, old)
