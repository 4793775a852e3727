"""Incremental curation (curate.curate_increment): new batches dedup
against persistent md5 + MinHash indexes without re-reading the corpus;
the accepted union must match the batch pipeline on the same docs."""

from pathlib import Path

import pytest

from logagg import curate

# 60-token deterministic bodies: near-dup = one appended token (Jaccard
# over 5-token shingles ≈ 56/58 >> 0.8); distinct bodies share nothing
def _body(tag: str) -> str:
    return " ".join(f"{tag}{i}" for i in range(60))


BATCH1 = [
    (1, _body("a")),
    (2, _body("b")),
    (3, _body("a")),  # exact dup of 1 (within batch)
    (4, _body("c")),
    (5, _body("c") + " extra"),  # near dup of 4 (within batch)
    (6, _body("d")),
]
BATCH2 = [
    (11, _body("a")),  # exact dup of accepted 1 (cross-batch)
    (12, _body("e")),
    (13, _body("c") + " extraz"),  # near dup of accepted 4 (cross-batch)
    (14, _body("e")),  # exact dup of 12 (within batch)
    (15, _body("f")),
]


@pytest.fixture(scope="module")
def batches(spark):
    b1 = spark.createDataFrame(BATCH1, "doc_id long, text string")
    b2 = spark.createDataFrame(BATCH2, "doc_id long, text string")
    return b1, b2


def _accepted_ids(res):
    return sorted(r["doc_id"] for r in res.docs.select("doc_id").collect())


def _assert_state(spark, state, accepted):
    """The invariants the commit keeps (pinned for the stream in
    test_streaming_curate.py): the md5 set is duplicate-free and the band
    index covers exactly the accepted docs."""
    md5 = spark.read.parquet(f"{state}/md5")
    assert md5.count() == md5.distinct().count()
    bands = spark.read.parquet(f"{state}/minhash/bands")
    assert sorted(int(r["id"]) for r in bands.select("id").distinct().collect()) == accepted


def test_incremental_matches_batch(spark, batches, tmp_path):
    b1, b2 = batches
    state = str(tmp_path / "state")

    res1 = curate.curate_increment(b1, state, near_dedup=True)
    ids1 = _accepted_ids(res1)
    assert ids1 == [1, 2, 4, 6]  # 3 exact-dup, 5 near-dup
    stages1 = [m["stage"] for m in res1.manifest]
    assert stages1 == ["exact_dedup_incremental", "near_dedup_incremental"]
    assert res1.manifest[0] == {
        "stage": "exact_dedup_incremental", "rows_in": 6, "rows_out": 5
    }
    assert res1.manifest[1]["rows_out"] == 4
    _assert_state(spark, state, ids1)

    res2 = curate.curate_increment(b2, state, corpus=res1.docs, near_dedup=True)
    ids2 = _accepted_ids(res2)
    assert ids2 == [12, 15]  # 11 exact-vs-corpus, 13 near-vs-corpus, 14 exact-within
    _assert_state(spark, state, sorted(ids1 + ids2))

    # the union of increments == the batch pipeline on the union
    batch = curate.curate(
        b1.unionByName(b2), exact_dedup=True, near_dedup=True
    )
    assert sorted(ids1 + ids2) == _accepted_ids(batch)
    batch.unpersist()

    # state keeps working: a third batch duplicating accepted docs drops fully
    b3 = spark.createDataFrame(
        [(21, _body("e")), (22, _body("c") + " morex")], "doc_id long, text string"
    )
    res3 = curate.curate_increment(
        b3, state, corpus=res1.docs.unionByName(res2.docs), near_dedup=True
    )
    assert _accepted_ids(res3) == []
    _assert_state(spark, state, sorted(ids1 + ids2))


def test_incremental_stateless_filters_pass_through(spark, batches, tmp_path):
    b1, _ = batches
    res = curate.curate_increment(
        b1, str(tmp_path / "s2"), quality_min=0.0, near_dedup=False
    )
    assert [m["stage"] for m in res.manifest] == [
        "quality_filter",
        "exact_dedup_incremental",
    ]


def test_incremental_near_needs_corpus(spark, batches, tmp_path):
    b1, b2 = batches
    state = str(tmp_path / "s3")
    curate.curate_increment(b1, state, near_dedup=True)
    with pytest.raises(ValueError, match="corpus"):
        curate.curate_increment(b2, state, near_dedup=True)


def test_unreadable_state_raises_and_is_left_alone(spark, batches, tmp_path):
    """State that exists but cannot be read is not "no state": the call
    must raise, not accept near-dups of the lost docs and re-bootstrap the
    band index over them."""
    b1, b2 = batches
    state = Path(tmp_path / "s4")
    res1 = curate.curate_increment(b1, str(state), near_dedup=True)
    bands = state / "minhash" / "bands"
    for f in bands.iterdir():
        if f.name.endswith(".crc"):
            f.unlink()  # else the checksum, not the parquet reader, objects
        elif not f.name.startswith("_"):
            f.write_bytes(b"not a parquet file")

    def files():
        return {str(f.relative_to(state)): f.read_bytes() for f in state.rglob("*")
                if f.is_file()}

    before = files()
    with pytest.raises(Exception, match="parquet|Parquet"):
        curate.curate_increment(b2, str(state), corpus=res1.docs, near_dedup=True)
    assert files() == before
