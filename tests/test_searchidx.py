"""BM25 inverted index: token contract (Spark == Python), ranked results
vs the driver-side twin, and the bucket-pruned query plan."""

import pytest

from pyspark.sql import functions as F

from logagg import searchidx


CORPUS = {
    "d1": "the quick brown fox jumps over the lazy dog",
    "d2": "a lazy dog sleeps all day; the dog is very lazy",
    "d3": "quick quick quick — brevity is the soul of wit",
    "d4": "Foxes are wild canids. A fox's den is underground.",
    "d5": "completely unrelated document about spark partitions and shuffles",
    "d6": "",
}


@pytest.fixture()
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bm25") / "idx")
    docs = spark.createDataFrame(
        list(CORPUS.items()), "id string, text string"
    )
    meta = searchidx.build_index(docs, out, num_buckets=8)
    assert meta["n_docs"] == len(CORPUS)
    return out


def test_search_tokens_contract(spark):
    samples = [
        "The QUICK  brown\tfox!",
        "digits 123 mix3d and café ünïcode",  # non-ascii letters split tokens
        "a-b_c.d,e;f",
        "",
        "\x0b\f\r\n   ",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [
        list(r["toks"])
        for r in df.select(searchidx.search_tokens_col(F.col("t")).alias("toks"))
        .collect()
    ]
    want = [searchidx.search_tokens_py(s) for s in samples]
    assert got == want
    assert want[1] == ["digits", "123", "mix3d", "and", "caf", "n", "code"]


@pytest.mark.parametrize(
    "query",
    ["lazy dog", "quick", "fox den", "the", "spark SHUFFLES!", "absent-term xyzzy"],
)
def test_bm25_matches_twin(spark, index_dir, query):
    got = [
        (r["id"], r["score"])
        for r in searchidx.bm25_search(spark, index_dir, query, k=4).collect()
    ]
    want = searchidx.bm25_search_py(CORPUS, query, k=4)
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_bm25_empty_query_and_rare_term(spark, index_dir):
    assert searchidx.bm25_search(spark, index_dir, "  ?! ").count() == 0
    # a term present in exactly one doc ranks that doc first
    top = searchidx.bm25_search(spark, index_dir, "underground", k=1).collect()
    assert [r["id"] for r in top] == ["d4"]


def test_query_plan_prunes_buckets_and_pushes_terms(spark, index_dir):
    p = searchidx.query_postings(spark, index_dir, ["lazy", "dog"])
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # the term IN-list reaches the parquet scan
    assert "PushedFilters: [" in plan and "In(term" in plan
    # and only the needed bucket partitions are actually read
    # (inputFiles() ignores filters — row provenance via input_file_name)
    files = {
        r["f"] for r in p.select(F.input_file_name().alias("f")).distinct().collect()
    }
    n_buckets_read = len({f.split("bucket=")[1].split("/")[0] for f in files})
    assert 1 <= n_buckets_read <= 2


def test_update_index_equals_rebuild(spark, tmp_path):
    """Incremental composition: build on batch 1, update with batch 2 →
    bm25 numerically identical to one rebuild over the union (n_docs,
    avgdl, df, tf all exact)."""
    items = sorted(CORPUS.items())
    b1, b2 = dict(items[:3]), dict(items[3:])
    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    searchidx.build_index(
        spark.createDataFrame(list(b1.items()), "id string, text string"),
        inc_dir,
        num_buckets=8,
    )
    meta = searchidx.update_index(
        spark.createDataFrame(list(b2.items()), "id string, text string"), inc_dir
    )
    full_meta = searchidx.build_index(
        spark.createDataFrame(list(CORPUS.items()), "id string, text string"),
        full_dir,
        num_buckets=8,
    )
    # gen is lineage bookkeeping (1 after an update vs 0 fresh); every
    # search-visible statistic must be identical
    assert {k: v for k, v in meta.items() if k != "gen"} == {
        k: v for k, v in full_meta.items() if k != "gen"
    }
    for q in ("lazy dog", "quick fox", "spark"):
        got = [
            (r["id"], r["score"])
            for r in searchidx.bm25_search(spark, inc_dir, q, k=6).collect()
        ]
        want = [
            (r["id"], r["score"])
            for r in searchidx.bm25_search(spark, full_dir, q, k=6).collect()
        ]
        assert [i for i, _ in got] == [i for i, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-12)


def test_snippet_py_window_selection():
    text = "Alpha beta gamma. " * 10 + "The lazy dog met a quick fox today. " + "delta " * 50
    s = searchidx.snippet_py(text, ["dog", "fox"], width=8)
    assert "lazy dog" in s and "quick fox" in s
    assert s.startswith("…") and s.endswith("…")
    # no query terms → prefix window
    s2 = searchidx.snippet_py("plain words only here", ["zzz"], width=2)
    assert s2.startswith("plain words")
    # empty text stays empty
    assert searchidx.snippet_py("", ["x"]) == ""


def test_snippets_spark_matches_kernel(spark, index_dir):
    docs = spark.createDataFrame(list(CORPUS.items()), "id string, text string")
    hits = searchidx.bm25_search(spark, index_dir, "lazy dog", k=3)
    got = searchidx.snippets(docs, hits, "lazy dog", width=6).collect()
    want_ids = [r["id"] for r in hits.collect()]
    assert [r["id"] for r in got] == want_ids
    terms = sorted(set(searchidx.search_tokens_py("lazy dog")))
    for r in got:
        assert r["snippet"] == searchidx.snippet_py(CORPUS[r["id"]], terms, 6)
        assert "dog" in r["snippet"] or "lazy" in r["snippet"]


QUERIES = ("lazy dog", "quick fox", "spark", "the")


def _search_pairs(spark, idx, q, k=6):
    return [
        (r["id"], r["score"])
        for r in searchidx.bm25_search(spark, idx, q, k=k).collect()
    ]


def _assert_matches_twin(spark, idx, corpus, queries=QUERIES, k=6):
    for q in queries:
        got = _search_pairs(spark, idx, q, k)
        want = searchidx.bm25_search_py(corpus, q, k=k)
        assert [i for i, _ in got] == [i for i, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-12)


def test_delete_docs_equals_rebuild(spark, tmp_path):
    """Tombstone-masked search == a from-scratch rebuild over the
    survivors: n_docs, avgdl, df, tf, dl all exact after a delete."""
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(list(CORPUS.items()), "id string, text string")
    searchidx.build_index(docs, idx, num_buckets=8)
    meta = searchidx.delete_docs(spark, idx, ["d2", "d4", "never-indexed"])
    survivors = {i: t for i, t in CORPUS.items() if i not in ("d2", "d4")}
    assert meta["n_docs"] == len(survivors)
    assert meta["avgdl"] == pytest.approx(
        sum(len(searchidx.search_tokens_py(t)) for t in survivors.values())
        / len(survivors)
    )
    _assert_matches_twin(spark, idx, survivors)
    # deleting again is a no-op: same meta, no double decrement
    again = searchidx.delete_docs(spark, idx, ["d2", "d4"])
    assert again["n_docs"] == meta["n_docs"]
    assert again["avgdl"] == pytest.approx(meta["avgdl"])
    _assert_matches_twin(spark, idx, survivors)


def test_replace_docs_upsert_equals_rebuild(spark, tmp_path):
    """Re-crawl upsert: replaced ids serve their NEW text, a fresh id is
    a plain add, and every statistic matches a rebuild over the updated
    corpus — including a re-add after an explicit delete."""
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(list(CORPUS.items()), "id string, text string")
    searchidx.build_index(docs, idx, num_buckets=8)
    new_batch = {
        "d2": "the dog retired; a very quick cat patrols the yard now",
        "d7": "a brand new page about foxes and shuffle partitions",
    }
    searchidx.replace_docs(
        spark.createDataFrame(list(new_batch.items()), "id string, text string"),
        idx,
    )
    corpus = {**CORPUS, **new_batch}
    _assert_matches_twin(spark, idx, corpus, QUERIES + ("cat patrols", "foxes"))
    # delete then re-add the same id: the re-added generation is live
    searchidx.delete_docs(spark, idx, ["d1"])
    readd = {"d1": "an entirely different first document"}
    searchidx.update_index(
        spark.createDataFrame(list(readd.items()), "id string, text string"), idx
    )
    corpus = {**corpus, **readd}
    _assert_matches_twin(spark, idx, corpus, QUERIES + ("entirely different",))


def test_compact_index_identical_and_squashes_files(spark, tmp_path):
    """Compaction drops dead rows + small files; searches are identical
    before and after, and the tombstone set is retired."""
    import os

    idx = str(tmp_path / "idx")
    items = sorted(CORPUS.items())
    searchidx.build_index(
        spark.createDataFrame(items[:2], "id string, text string"),
        idx,
        num_buckets=8,
    )
    for chunk in (items[2:4], items[4:]):
        searchidx.update_index(
            spark.createDataFrame(chunk, "id string, text string"), idx
        )
    searchidx.delete_docs(spark, idx, ["d3"])
    before = {q: _search_pairs(spark, idx, q) for q in QUERIES}
    stats = searchidx.compact_index(spark, idx)
    assert stats["files_after"] < stats["files_before"]
    assert not os.path.exists(f"{idx}/tombstones")
    # one file per non-empty bucket dir
    pdir = f"{idx}/postings"
    for b in os.listdir(pdir):
        if b.startswith("bucket="):
            files = [f for f in os.listdir(f"{pdir}/{b}") if f.endswith(".parquet")]
            assert len(files) == 1, b
    survivors = {i: t for i, t in CORPUS.items() if i != "d3"}
    _assert_matches_twin(spark, idx, survivors)
    for q in QUERIES:
        after = _search_pairs(spark, idx, q)
        assert [i for i, _ in after] == [i for i, _ in before[q]]
        for (_, a), (_, w) in zip(after, before[q]):
            assert a == pytest.approx(w, rel=1e-12)


def test_compact_index_crash_between_renames_keeps_scores(spark, tmp_path, monkeypatch):
    """Compaction killed after the old postings dir left its place and
    before the new one took it: the next search heals the half-swap and
    returns the pre-crash scores; the next compaction completes."""
    import os

    idx = str(tmp_path / "idx")
    items = sorted(CORPUS.items())
    searchidx.build_index(
        spark.createDataFrame(items[:3], "id string, text string"), idx, num_buckets=8
    )
    searchidx.update_index(spark.createDataFrame(items[3:], "id string, text string"), idx)
    searchidx.delete_docs(spark, idx, ["d3"])
    before = {q: _search_pairs(spark, idx, q) for q in QUERIES}
    real_rename = os.rename

    def killed(src, dst):
        if os.fspath(dst) == f"{idx}/postings":
            raise OSError("killed mid-compaction")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", killed)
    with pytest.raises(OSError, match="killed"):
        searchidx.compact_index(spark, idx)
    monkeypatch.undo()

    def assert_same_scores():
        for q in QUERIES:
            after = _search_pairs(spark, idx, q)
            assert [i for i, _ in after] == [i for i, _ in before[q]]
            for (_, a), (_, w) in zip(after, before[q]):
                assert a == pytest.approx(w, rel=1e-12)

    assert_same_scores()
    searchidx.compact_index(spark, idx)
    assert_same_scores()


@pytest.mark.parametrize("window", ["job", "rename"])
def test_meta_rewrite_crash_keeps_index_searchable(spark, tmp_path, monkeypatch, window):
    """A meta rewrite killed mid-way (``job``: its Spark job dies after the
    overwrite cleared the target; ``rename``: between the swap's renames)
    leaves a meta in place: searches return the pre-crash scores and the
    next update lands."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    idx = str(tmp_path / "idx")
    items = sorted(CORPUS.items())
    searchidx.build_index(
        spark.createDataFrame(items[:3], "id string, text string"), idx, num_buckets=8
    )
    searchidx.update_index(spark.createDataFrame(items[3:], "id string, text string"), idx)
    before = {q: _search_pairs(spark, idx, q) for q in QUERIES}
    empty = spark.createDataFrame([], "id string, text string")

    if window == "job":
        real_parquet = DataFrameWriter.parquet

        def killed(self, path, *args, **kwargs):
            if os.path.basename(path).startswith("meta"):
                # the real overwrite of a job whose task fails at run time
                dying = self._df.select(
                    F.raise_error(F.lit("killed mid-meta-write")).cast("long").alias("x")
                )
                real_parquet(dying.write.mode("overwrite"), path)
            return real_parquet(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", killed)
    else:
        real_rename = os.rename

        def killed(src, dst):
            if os.fspath(dst) == f"{idx}/meta":
                raise OSError("killed mid-meta-swap")
            return real_rename(src, dst)

        monkeypatch.setattr(os, "rename", killed)
    with pytest.raises(Exception, match="killed"):
        searchidx.update_index(empty, idx)
    monkeypatch.undo()

    for q in QUERIES:
        after = _search_pairs(spark, idx, q)
        assert [i for i, _ in after] == [i for i, _ in before[q]]
        for (_, a), (_, w) in zip(after, before[q]):
            assert a == pytest.approx(w, rel=1e-12)
    assert searchidx.update_index(empty, idx)["n_docs"] == len(CORPUS)
    assert searchidx.verify_index(spark, idx) == []


PHRASE_CORPUS = {
    "p1": "the quick brown fox jumps over the lazy dog",
    "p2": "brown quick the fox — same words, no phrase",
    "p3": "a quick brown dog and a slow fox",
    "p4": "Quick, brown!? Fox... punctuation does not break adjacency",
    "p5": "the the the repeated token phrase lives here",
    "p6": "totally unrelated text about parquet row groups",
}


@pytest.fixture()
def phrase_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bm25pos") / "idx")
    docs = spark.createDataFrame(
        list(PHRASE_CORPUS.items()), "id string, text string"
    )
    searchidx.build_index(docs, out, num_buckets=8, positional=True)
    return out


@pytest.mark.parametrize(
    "query",
    [
        '"quick brown" fox',          # adjacency separates p1/p3/p4 from p2
        '"quick brown fox"',          # 3-term phrase
        '"the the" phrase',           # repeated term inside a phrase
        '"brown fox" "lazy dog"',     # two phrases must BOTH match
        '"no such phrase here at all"',
        'plain ranked query',         # no quotes → bm25 semantics
        '"fox jumps" unrelated parquet',  # loose terms still score
    ],
)
def test_phrase_search_matches_twin(spark, phrase_index, query):
    got = [
        (r["id"], r["score"])
        for r in searchidx.phrase_search(spark, phrase_index, query, k=6).collect()
    ]
    want = searchidx.phrase_search_py(PHRASE_CORPUS, query, k=6)
    assert [i for i, _ in got] == [i for i, _ in want], query
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_phrase_search_semantics(spark, phrase_index):
    # adjacency, not bag-of-words: p2 has the words but not the phrase
    ids = {
        r["id"]
        for r in searchidx.phrase_search(
            spark, phrase_index, '"quick brown"', k=6
        ).collect()
    }
    assert "p1" in ids and "p3" in ids and "p4" in ids and "p2" not in ids
    # punctuation between tokens does not break adjacency (tokenizer contract)
    assert "p4" in ids
def test_phrase_search_needs_positional_index(spark, index_dir):
    # index_dir fixture builds WITHOUT positions → clear refusal
    with pytest.raises(ValueError, match="positional"):
        searchidx.phrase_search(spark, index_dir, '"lazy dog"')


def test_positional_index_bm25_and_update(spark, phrase_index, tmp_path):
    """A positional index serves plain BM25 identically (positions are
    dead weight the scan prunes), and updates keep positions working."""
    _assert_matches_twin(
        spark, phrase_index, PHRASE_CORPUS, ("quick brown", "fox", "parquet")
    )
    # the BM25 query plan never reads the positions column
    terms = ["quick", "brown"]
    p = searchidx.query_postings(spark, phrase_index, terms)
    scan = p.select("id", "term", "tf", "dl", "gen")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "positions" not in plan.split("ReadSchema")[1].split("\n")[0]
    # update a positional index, then phrase-search across both batches
    new = {"p7": "another quick brown fox arrives"}
    searchidx.update_index(
        spark.createDataFrame(list(new.items()), "id string, text string"),
        phrase_index,
    )
    corpus = {**PHRASE_CORPUS, **new}
    got = [
        (r["id"], r["score"])
        for r in searchidx.phrase_search(
            spark, phrase_index, '"quick brown fox"', k=6
        ).collect()
    ]
    want = searchidx.phrase_search_py(corpus, '"quick brown fox"', k=6)
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_parse_query_and_phrase_match_py():
    phrases, loose = searchidx.parse_query_py('"Quick Brown" fox "a  b" "" z')
    assert phrases == [["quick", "brown"], ["a", "b"]]
    assert loose == ["fox", "z"]
    assert searchidx.phrase_match_py(["a", "b", "c"], ["b", "c"])
    assert not searchidx.phrase_match_py(["a", "b", "c"], ["c", "b"])
    assert searchidx.phrase_match_py(["x"], ["x"])
    assert not searchidx.phrase_match_py([], ["x"])


def test_bm25_corpus_scale(spark, tmp_path):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").alias("id"), "text")
    )
    out = str(tmp_path / "idx")
    meta = searchidx.build_index(docs, out, num_buckets=16)
    assert meta["n_docs"] == 500
    pdf = docs.toPandas()
    corpus = dict(zip(pdf["id"].astype(str), pdf["text"]))
    # take a mid-frequency word from the corpus itself as the query
    query = searchidx.search_tokens_py(pdf["text"].iloc[0])[3]
    got = [
        (r["id"], r["score"])
        for r in searchidx.bm25_search(spark, out, query, k=10).collect()
    ]
    want = searchidx.bm25_search_py(corpus, query, k=10)
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


URL_CORPUS = {
    "http://big.com/a": "spark shuffle tuning guide",
    "http://tiny.com/a": "spark shuffle tuning guide",  # byte-identical text
    "http://big.com/b": "spark partitions overview and shuffle notes",
    "http://tiny.com/b": "unrelated cooking recipes",
    "not-a-url": "spark shuffle trivia",  # no host → factor 1
}
URL_RANKS = {"big.com": 0.7, "tiny.com": 0.1, "other.com": 0.2}


def test_ranked_search_authority_blend(spark, tmp_path):
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        list(URL_CORPUS.items()), "id string, text string"
    )
    searchidx.build_index(docs, idx, num_buckets=8)
    ranks = spark.createDataFrame(
        list(URL_RANKS.items()), "node string, rank double"
    )
    got = [
        (r["id"], r["score"])
        for r in searchidx.ranked_search(
            spark, idx, "spark shuffle", ranks, k=5
        ).collect()
    ]
    want = searchidx.ranked_search_py(URL_CORPUS, "spark shuffle", URL_RANKS, k=5)
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)
    # identical text ties in plain BM25 — the blend separates by authority
    plain = {
        r["id"]: r["score"]
        for r in searchidx.bm25_search(spark, idx, "spark shuffle", k=5).collect()
    }
    assert plain["http://big.com/a"] == pytest.approx(
        plain["http://tiny.com/a"], rel=1e-12
    )
    blended = dict(got)
    assert blended["http://big.com/a"] > blended["http://tiny.com/a"]
    # host-less id keeps factor exactly 1 (its bm25 score unchanged)
    assert blended["not-a-url"] == pytest.approx(plain["not-a-url"], rel=1e-12)
    # boost=0 degenerates to plain BM25 scores
    zero = {
        r["id"]: r["score"]
        for r in searchidx.ranked_search(
            spark, idx, "spark shuffle", ranks, k=5, boost=0.0
        ).collect()
    }
    for i, s in plain.items():
        assert zero[i] == pytest.approx(s, rel=1e-12)


def test_ranked_search_by_id_key(spark, tmp_path):
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        list(URL_CORPUS.items()), "id string, text string"
    )
    searchidx.build_index(docs, idx, num_buckets=8)
    page_ranks = {"http://tiny.com/a": 0.9, "http://big.com/a": 0.05}
    ranks = spark.createDataFrame(
        list(page_ranks.items()), "node string, rank double"
    )
    got = [
        (r["id"], r["score"])
        for r in searchidx.ranked_search(
            spark, idx, "spark shuffle", ranks, k=5, rank_key="id"
        ).collect()
    ]
    want = searchidx.ranked_search_py(
        URL_CORPUS, "spark shuffle", page_ranks, k=5, rank_key="id"
    )
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)
    blended = dict(got)
    assert blended["http://tiny.com/a"] > blended["http://big.com/a"]
    with pytest.raises(ValueError, match="rank_key"):
        searchidx.ranked_search(spark, idx, "spark", ranks, rank_key="nope")


# ------------------------------------------------- more-like-this


def test_more_like_this_matches_twin(spark, index_dir):
    for src in ("d1", "d2", "d4"):
        got = [
            (r["id"], r["score"])
            for r in searchidx.more_like_this(
                spark, index_dir, CORPUS[src], exclude_id=src, k=5
            ).collect()
        ]
        want = searchidx.more_like_this_py(
            CORPUS, CORPUS[src], exclude_id=src, k=5
        )
        assert [g[0] for g in got] == [w[0] for w in want], src
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], rel=1e-9), src
        assert src not in {g[0] for g in got}
    # fox-doc d1 relates to the other fox doc ahead of the spark doc
    rel = [
        r["id"]
        for r in searchidx.more_like_this(
            spark, index_dir, CORPUS["d1"], exclude_id="d1", k=5
        ).collect()
    ]
    assert "d4" in rel and ("d5" not in rel or rel.index("d4") < rel.index("d5"))


def test_more_like_this_out_of_corpus_and_caps(spark, index_dir):
    snippet = "a quick fox and a lazy dog meet a wild fox"
    got = [
        (r["id"], r["score"])
        for r in searchidx.more_like_this(
            spark, index_dir, snippet, max_terms=3, candidate_pool=4, k=6
        ).collect()
    ]
    want = searchidx.more_like_this_py(
        CORPUS, snippet, max_terms=3, candidate_pool=4, k=6
    )
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], rel=1e-9)
    assert got  # the snippet does relate to the corpus
    # degenerate inputs come back empty, schema stable
    for text in ("", "xyzzy absentterm onlyjunk"):
        out = searchidx.more_like_this(spark, index_dir, text)
        assert out.count() == 0
        assert out.columns == ["id", "score"]


def test_more_like_this_respects_deletes(spark, index_dir):
    # after deleting the best neighbor, selection df AND scoring both see
    # the live set only — equal to the twin over the surviving corpus
    searchidx.delete_docs(spark, index_dir, ["d4"])
    live = {i: t for i, t in CORPUS.items() if i != "d4"}
    got = [
        (r["id"], r["score"])
        for r in searchidx.more_like_this(
            spark, index_dir, CORPUS["d1"], exclude_id="d1", k=5
        ).collect()
    ]
    want = searchidx.more_like_this_py(
        live, CORPUS["d1"], exclude_id="d1", k=5
    )
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], rel=1e-9)
    assert "d4" not in {g[0] for g in got}


# ------------------------------------------------- fuzzy (SymSpell)


def test_deletion_neighborhood_spark_equals_py(spark):
    terms = ["lazy", "a", "fox", "quick", "aa", "spark"]
    for d in (1, 2):
        df = spark.createDataFrame([(t,) for t in terms], "t string")
        got = [
            set(r["v"])
            for r in df.select(
                searchidx._deletions_col(F.col("t"), d).alias("v")
            ).collect()
        ]
        want = [searchidx._deletions_py(t, d) for t in terms]
        assert got == want, d


def test_suggest_terms_matches_twin(spark, index_dir):
    searchidx.build_spell_index(spark, index_dir)
    for typo in ("lzay", "qick", "foxs", "dog", "xyzzy", "dogs"):
        got = [
            (r["term"], r["df"], r["distance"])
            for r in searchidx.suggest_terms(
                spark, index_dir, typo, k=3
            ).collect()
        ]
        want = searchidx.suggest_terms_py(CORPUS, typo, k=3)
        assert got == want, typo
    # exact vocabulary hit ranks itself first at distance 0
    assert searchidx.suggest_terms_py(CORPUS, "dog", k=1)[0][::2] == ("dog", 0)
    got_dog = searchidx.suggest_terms(spark, index_dir, "dog", k=1).collect()
    assert (got_dog[0]["term"], got_dog[0]["distance"]) == ("dog", 0)
    # no in-vocabulary neighbor -> empty
    assert searchidx.suggest_terms(spark, index_dir, "xyzzy").count() == 0


def test_suggest_terms_distance_two(spark, index_dir):
    searchidx.build_spell_index(spark, index_dir, max_distance=2)
    got = [
        (r["term"], r["df"], r["distance"])
        for r in searchidx.suggest_terms(
            spark, index_dir, "lzzay", max_distance=2, k=3
        ).collect()
    ]
    want = searchidx.suggest_terms_py(CORPUS, "lzzay", max_distance=2, k=3)
    assert got == want and ("lazy", 2, 2) in got


def test_fuzzy_search_matches_twin_and_plain(spark, index_dir):
    searchidx.build_spell_index(spark, index_dir)
    # plain-Levenshtein contract: a TRANSPOSED typo is distance 2 — at
    # max_distance=1 both engines agree it stays uncorrected
    assert searchidx.fuzzy_search(spark, index_dir, "lzay").count() == 0
    assert searchidx.fuzzy_search_py(CORPUS, "lzay") == []
    # substitution + insertion typos are distance 1
    got = [
        (r["id"], r["score"])
        for r in searchidx.fuzzy_search(
            spark, index_dir, "lazi dogg", k=4
        ).collect()
    ]
    want = searchidx.fuzzy_search_py(CORPUS, "lazi dogg", k=4)
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], rel=1e-9)
    # the corrected query scores exactly like the clean one
    clean = [
        (r["id"], r["score"])
        for r in searchidx.bm25_search(
            spark, index_dir, "lazy dog", k=4
        ).collect()
    ]
    assert [g[0] for g in got] == [c[0] for c in clean]
    for g, c in zip(got, clean):
        assert g[1] == pytest.approx(c[1], rel=1e-12)
    # clean queries are untouched by the fuzzy path
    f = [
        (r["id"], r["score"])
        for r in searchidx.fuzzy_search(
            spark, index_dir, "quick fox", k=4
        ).collect()
    ]
    p = [
        (r["id"], r["score"])
        for r in searchidx.bm25_search(
            spark, index_dir, "quick fox", k=4
        ).collect()
    ]
    assert [x[0] for x in f] == [x[0] for x in p]


# ------------------------------------------------- fielded search (BM25F)


TITLES = {
    "d1": "the quick fox",
    "d2": "lazy dog daily",
    "d3": "on brevity",
    "d4": "fox dens explained",
    "d5": "spark internals",
    "d6": "",
}


def test_fielded_search_matches_twin(spark, index_dir, tmp_path):
    tidx = str(tmp_path / "tidx")
    searchidx.build_index(
        spark.createDataFrame(list(TITLES.items()), "id string, text string"),
        tidx,
        num_buckets=8,
    )
    fields = {"body": (index_dir, 1.0), "title": (tidx, 2.5)}
    tw_fields = {"body": (CORPUS, 1.0), "title": (TITLES, 2.5)}
    for q in ("fox", "lazy dog", "spark partitions", "xyzzy"):
        got = [
            (r["id"], r["score"])
            for r in searchidx.fielded_search(spark, fields, q, k=5).collect()
        ]
        want = searchidx.fielded_search_py(tw_fields, q, k=5)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], rel=1e-9), q
    # the title boost reorders: d4 mentions fox in title AND body twice;
    # with weight 0 on title the ranking equals plain body BM25
    plain = [
        (r["id"], r["score"])
        for r in searchidx.fielded_search(
            spark, {"body": (index_dir, 1.0), "title": (tidx, 0.0)}, "fox", k=5
        ).collect()
    ]
    body_only = [
        (r["id"], r["score"])
        for r in searchidx.bm25_search(spark, index_dir, "fox", k=5).collect()
    ]
    assert [p[0] for p in plain] == [b[0] for b in body_only]
    for p, b_ in zip(plain, body_only):
        assert p[1] == pytest.approx(b_[1], rel=1e-12)


def test_fielded_search_title_beats_body_tie(spark, index_dir, tmp_path):
    tidx = str(tmp_path / "tidx2")
    searchidx.build_index(
        spark.createDataFrame(list(TITLES.items()), "id string, text string"),
        tidx,
        num_buckets=8,
    )
    # "brevity" appears only in d3's body and d3's title; "dens" only in
    # d4's title — a title-only hit must still surface
    got = {
        r["id"]
        for r in searchidx.fielded_search(
            spark,
            {"body": (index_dir, 1.0), "title": (tidx, 2.0)},
            "dens",
            k=3,
        ).collect()
    }
    assert got == {"d4"}


# ------------------------------------------------- index verification


def test_verify_index_healthy_through_lifecycle(spark, tmp_path):
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(list(CORPUS.items()), "id string, text string")
    searchidx.build_index(docs, idx, num_buckets=8)
    assert searchidx.verify_index(spark, idx) == []
    searchidx.update_index(
        spark.createDataFrame([("d7", "brand new page about verification")],
                              "id string, text string"),
        idx,
    )
    assert searchidx.verify_index(spark, idx) == []
    searchidx.delete_docs(spark, idx, ["d2"])
    assert searchidx.verify_index(spark, idx) == []
    searchidx.replace_docs(
        spark.createDataFrame([("d1", "rewritten fox content")],
                              "id string, text string"),
        idx,
    )
    assert searchidx.verify_index(spark, idx) == []
    searchidx.compact_index(spark, idx)
    assert searchidx.verify_index(spark, idx) == []


def test_verify_index_detects_corruption(spark, tmp_path):
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(list(CORPUS.items()), "id string, text string")
    searchidx.build_index(docs, idx, num_buckets=8)

    # (a) tampered meta: n_docs off by one
    meta_schema = (
        "n_docs long, sum_dl long, avgdl double, num_buckets int, "
        "gen long, positional boolean"
    )

    def write_meta(m):
        spark.createDataFrame(
            [(m["n_docs"], m["sum_dl"], m["avgdl"], m["num_buckets"],
              m["gen"], m["positional"])],
            meta_schema,
        ).coalesce(1).write.mode("overwrite").parquet(f"{idx}/meta")

    meta = spark.read.parquet(f"{idx}/meta").collect()[0].asDict()
    good = dict(meta)
    meta["n_docs"] += 1
    write_meta(meta)
    fails = searchidx.verify_index(spark, idx)
    assert any("n_docs" in f for f in fails)
    assert any("avgdl" in f for f in fails)
    write_meta(good)
    assert searchidx.verify_index(spark, idx) == []

    # (b) a postings row written into the WRONG bucket partition, with a
    # tf that also breaks token conservation
    spark.createDataFrame(
        [("zzginterloper", "d1", 3, 9, 0, 0)],
        "term string, id string, tf long, dl int, gen long, bucket int",
    ).write.mode("append").partitionBy("bucket").parquet(f"{idx}/postings")
    fails = searchidx.verify_index(spark, idx)
    assert any("wrong term bucket" in f for f in fails)
    assert any("Σtf" in f or "tf" in f for f in fails)
