"""Incremental MinHash dedup: a new batch against an indexed corpus must
report exactly the pairs a frozen-stop-set batch run reports, restricted to
pairs touching the new docs — and successive increments must compose."""

import pyspark.sql.functions as F

from logagg import dedup


def _pair_set(df):
    return {
        (r["url_a"], r["url_b"], r["shared"], r["na"], r["nb"]) for r in df.collect()
    }


def _full_pairs_frozen_stop(docs, stop):
    """Batch MinHash pairs with an explicit (frozen) stop set — the
    reference semantics the incremental path must match."""
    cands = dedup.minhash_candidates(docs, stop=stop)
    return dedup._verify_candidates(docs, cands, stop, "url", "text", "local", None)


def test_incremental_equals_batch_restricted(spark, pages_cache, tmp_path):
    pages = spark.read.parquet(str(pages_cache / "pages.parquet")).select(
        "url", "text"
    )
    # deterministic 3-way split: corpus, increment 1, increment 2
    bucket = F.pmod(F.crc32(F.col("url").cast("binary")), F.lit(3))
    corpus = pages.filter(bucket == 0).cache()
    inc1 = pages.filter(bucket == 1).cache()
    inc2 = pages.filter(bucket == 2).cache()
    n_corpus, n1, n2 = corpus.count(), inc1.count(), inc2.count()
    assert min(n_corpus, n1, n2) > 0

    idx = str(tmp_path / "mh_index")
    stop = dedup.minhash_index_write(corpus, idx)

    got1 = _pair_set(
        dedup.minhash_lsh_dupes_incremental(inc1, corpus, idx)
    )
    dedup.minhash_index_write(inc1, idx, mode="append")
    # after the index append, increment 2 sees corpus ∪ inc1 as "old"
    got2 = _pair_set(
        dedup.minhash_lsh_dupes_incremental(
            inc2, corpus.unionByName(inc1), idx
        )
    )

    full = _pair_set(
        _full_pairs_frozen_stop(
            corpus.unionByName(inc1).unionByName(inc2), stop
        )
    )
    ids1 = {r["url"] for r in inc1.collect()}
    ids2 = {r["url"] for r in inc2.collect()}
    want1 = {p for p in full if (p[0] in ids1 or p[1] in ids1) and p[0] not in ids2 and p[1] not in ids2}
    want2 = {p for p in full if p[0] in ids2 or p[1] in ids2}
    assert got1 == want1
    assert got2 == want2
    # every corpus-internal pair is (by design) reported by neither increment
    assert not any((p[0] in ids1 or p[1] in ids1 or p[0] in ids2 or p[1] in ids2) for p in full - want1 - want2)
    # sanity: the split actually produced near-dups in every category
    assert got1 and got2

    for d in (corpus, inc1, inc2):
        d.unpersist()


def test_index_append_mode_keeps_frozen_stop(spark, pages_cache, tmp_path):
    pages = spark.read.parquet(str(pages_cache / "pages.parquet")).select(
        "url", "text"
    )
    half = F.pmod(F.crc32(F.col("url").cast("binary")), F.lit(2))
    first, second = pages.filter(half == 0), pages.filter(half == 1)
    idx = str(tmp_path / "mh_index")
    stop = dedup.minhash_index_write(first, idx)
    stop2 = dedup.minhash_index_write(second, idx, mode="append")
    assert stop2 == stop  # append must NOT recompute the stop set
    n_bands = spark.read.parquet(f"{idx}/bands").count()
    # 16 band rows per doc with a non-empty shingle set
    assert n_bands > spark.read.parquet(f"{idx}/bands").select("id").distinct().count()


def test_pack_sequences_matches_python_twin(spark):
    """pack_sequences == an independent pure-Python packer under the same
    deterministic (md5(id), id) order — all four output columns, and the
    bucket assignment rule itself."""
    import hashlib
    import random
    from collections import defaultdict

    from logagg import textstats

    rng = random.Random(7)
    rows = [(i, rng.choice([0, 1, 17, 300, 4096, 5000, 12288, 9001])) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    cap, nb = 4096, 8
    got = {
        r["doc_id"]: (r["bucket"], r["seq_idx"], r["seq_offset"], r["n_windows"])
        for r in textstats.pack_sequences(df, capacity=cap, n_buckets=nb).collect()
    }

    def okey(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    buckets = defaultdict(list)
    for i, t in rows:
        buckets[int(okey(i)[:8], 16) % nb].append((okey(i), i, t))
    want = {}
    for b, docs in buckets.items():
        pos = 0
        for _, i, t in sorted(docs):
            if t <= 0:
                nwin = 1
            else:
                nwin = (pos + t - 1) // cap - pos // cap + 1
            want[i] = (b, pos // cap, pos % cap, nwin)
            pos += t
    assert got == want
