import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep test JVM small/fast

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from logagg.session import get_spark

    s = get_spark(app_name="logagg-tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def pages_cache():
    from logagg import synth

    return synth.ensure_cache(SF_SMOKE)
