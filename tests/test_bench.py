"""bench.py's scaling job is the flagship chain: at replicate 1 it returns
exactly the rows of ``__spark_entry__.entry``."""

from tests.conftest import SF_SMOKE


def test_bench_e2e_equals_entry(spark, pages_cache):
    import __spark_entry__ as entrymod
    from bench import e2e

    got, want = e2e(spark, SF_SMOKE, 1), entrymod.entry(spark)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
