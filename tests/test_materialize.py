"""Path-mode materialization for the dedup pair family.

The 100 TB contract: a template-heavy corpus can yield a pair list of
billions of rows that no driver holds, so every pair operator must be able
to land its result (and its internal frozen intermediates — the id map,
the LSH candidate list) in parquet with NO driver round-trip. Proven here
by rigging util.materialize_local to raise and running the whole family in
``materialize="path"`` mode against the local-mode results.
"""

import pytest

from logagg import dedup, linkgraph, util


def _pages(spark, pages_cache):
    return spark.read.parquet(str(pages_cache / "pages.parquet"))


def _pairs_set(rows):
    return {(r["url_a"], r["url_b"], r["shared"], r["na"], r["nb"]) for r in rows}


def _forbid_driver_materialize(monkeypatch):
    def boom(df):
        raise AssertionError("driver materialization (toPandas) reached in path mode")

    monkeypatch.setattr(util, "materialize_local", boom)


def test_jaccard_pairs_path_mode_no_driver_roundtrip(
    spark, pages_cache, tmp_path, monkeypatch
):
    pages = _pages(spark, pages_cache)
    expected = _pairs_set(dedup.jaccard_pairs(pages).collect())
    _forbid_driver_materialize(monkeypatch)
    out = str(tmp_path / "pairs")
    got = dedup.jaccard_pairs(pages, materialize="path", out_path=out)
    assert _pairs_set(got.collect()) == expected
    # durable: re-readable as a plain table without re-running the operator
    assert _pairs_set(spark.read.parquet(out).collect()) == expected


def test_minhash_and_simhash_path_mode(spark, pages_cache, tmp_path, monkeypatch):
    pages = _pages(spark, pages_cache)
    mh_expected = _pairs_set(dedup.minhash_lsh_dupes(pages).collect())
    sh_expected = {
        (r["url_a"], r["url_b"], r["hamming"])
        for r in dedup.simhash_dupes(pages).collect()
    }
    _forbid_driver_materialize(monkeypatch)
    mh = dedup.minhash_lsh_dupes(pages, materialize="path", out_path=str(tmp_path / "mh"))
    sh = dedup.simhash_dupes(pages, materialize="path", out_path=str(tmp_path / "sh"))
    assert _pairs_set(mh.collect()) == mh_expected
    assert {
        (r["url_a"], r["url_b"], r["hamming"]) for r in sh.collect()
    } == sh_expected


def test_dup_clusters_end_to_end_without_driver(
    spark, pages_cache, tmp_path, monkeypatch
):
    """pairs → clusters entirely through parquet: the exact flow the bench
    and a production pipeline use (jaccard path mode feeds dup_clusters)."""
    pages = _pages(spark, pages_cache)
    expected = {(r["url"], r["cluster"]) for r in dedup.dup_clusters(pages).collect()}
    _forbid_driver_materialize(monkeypatch)
    pairs = dedup.jaccard_pairs(
        pages, materialize="path", out_path=str(tmp_path / "pairs")
    )
    got = dedup.dup_clusters(
        pages,
        pairs=pairs,
        checkpoint_dir=str(tmp_path / "cc"),
        materialize="path",
        out_path=str(tmp_path / "clusters"),
    )
    assert {(r["url"], r["cluster"]) for r in got.collect()} == expected
    assert {
        (r["url"], r["cluster"])
        for r in spark.read.parquet(str(tmp_path / "clusters")).collect()
    } == expected


def test_dup_clusters_pairs_from_scratch_path_mode(
    spark, pages_cache, tmp_path, monkeypatch
):
    """With pairs=None, the internal jaccard_pairs call must inherit path
    mode (pair list lands under the checkpoint dir, never the driver), and
    argument validation must run BEFORE the pair computation (ADVICE r4)."""
    pages = _pages(spark, pages_cache)
    expected = {(r["url"], r["cluster"]) for r in dedup.dup_clusters(pages).collect()}
    _forbid_driver_materialize(monkeypatch)
    got = dedup.dup_clusters(
        pages,
        checkpoint_dir=str(tmp_path / "cc"),
        materialize="path",
        out_path=str(tmp_path / "clusters"),
    )
    assert {(r["url"], r["cluster"]) for r in got.collect()} == expected
    # validation-before-work: a bad mode fails instantly, no Spark job
    with pytest.raises(ValueError, match="materialize"):
        dedup.dup_clusters(pages, materialize="bogus")
    with pytest.raises(ValueError, match="out_path"):
        dedup.dup_clusters(pages, materialize="path")


def test_dup_clusters_derives_dir_from_session_checkpoint(
    spark, pages_cache, tmp_path
):
    """With spark.sparkContext.setCheckpointDir configured (the
    executor-reachable location by contract), dup_clusters needs no
    explicit checkpoint_dir even on a cluster — it claims a fresh subdir
    there and leaves the lazy result readable from it."""
    pages = _pages(spark, pages_cache)
    expected = {(r["url"], r["cluster"]) for r in dedup.dup_clusters(pages).collect()}
    sc = spark.sparkContext
    ckpt = str(tmp_path / "session-ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        got = dedup.dup_clusters(pages)
        assert {(r["url"], r["cluster"]) for r in got.collect()} == expected
        subdirs = list((tmp_path / "session-ckpt").glob("**/logagg-cc-*"))
        assert subdirs, "expected a logagg-cc-* subdir under the session checkpoint dir"
    finally:
        sc.setCheckpointDir(None)  # Option(null) → None: reset for other tests


def test_materialize_mode_validation(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="path"):
        util.materialize(df, "path")  # path mode needs a target
    with pytest.raises(ValueError, match="lazy"):
        util.materialize(df, "lazy")  # documented non-mode


@pytest.mark.parametrize(
    "run",
    [
        lambda df: dedup.dup_clusters(df, pairs=object()),
        lambda df: linkgraph.pagerank(df),
        lambda df: linkgraph.hits(df),
    ],
    ids=["dup_clusters", "pagerank", "hits"],
)
def test_iterative_ops_refuse_default_checkpoint_on_nonlocal_master(run):
    """A driver-local mkdtemp default is invisible to remote executors —
    every fixpoint operator must raise, not silently read empty state, and
    must do so before touching Spark (the fake session has no other API)."""

    class _Conf:
        @staticmethod
        def get(key, default=None):
            return "spark://cluster:7077"

    class _Sc:
        @staticmethod
        def getCheckpointDir():
            return None  # no session checkpoint dir configured either

    class _Spark:
        conf = _Conf()
        sparkContext = _Sc()

    class _DF:
        sparkSession = _Spark()

    with pytest.raises(ValueError, match="checkpoint_dir"):
        run(_DF())


def test_derived_path_mirrors_nonlocal_guard():
    """__spark_entry__._derived_path hands the dedup pair family its
    path-mode out_path; on a non-local master it must derive from the
    session checkpoint dir (executor-reachable by contract) and refuse the
    driver-local repo default (ADVICE r4)."""
    import __spark_entry__ as entrymod

    def _fake_spark(ckpt):
        class _Conf:
            @staticmethod
            def get(key, default=None):
                return "spark://cluster:7077"

        class _Sc:
            @staticmethod
            def getCheckpointDir():
                return ckpt

        class _Spark:
            conf = _Conf()
            sparkContext = _Sc()

        return _Spark()

    with pytest.raises(ValueError, match="setCheckpointDir"):
        entrymod._derived_path(_fake_spark(None), "/root/testdata/sf0.001", "minhash_lsh")
    got = entrymod._derived_path(
        _fake_spark("hdfs://nn/ckpt/"), "/root/testdata/sf0.001", "minhash_lsh"
    )
    assert got == "hdfs://nn/ckpt/logagg-derived/sf0.001/minhash_lsh"
