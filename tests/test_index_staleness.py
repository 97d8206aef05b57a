"""At-rest index staleness guard (round 14, VERDICT r12 next #6
carry-over): every index/store sidecar records the corpus fingerprint
it was built from, loads re-check it, and the session caches treat a
changed corpus as a miss instead of serving stale results."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from crypto_data_pipeline_spark.observability import source_fingerprint
from crypto_data_pipeline_spark.operators import similarity


def _write_corpus(spark, path: str, n: int = 24, dim: int = 8, shift: float = 0.0):
    rows = [
        (i, [float((i * 7 + j * 3) % 5) + shift + 0.1 for j in range(dim)])
        for i in range(n)
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def test_source_fingerprint_tracks_file_changes(spark, tmp_path):
    p = str(tmp_path / "corpus")
    _write_corpus(spark, p)
    fp1 = source_fingerprint(spark.read.parquet(p))
    assert fp1 is not None and fp1["n_files"] >= 1 and fp1["sha256"]
    # identical re-read -> identical fingerprint
    assert source_fingerprint(spark.read.parquet(p)) == fp1
    time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    _write_corpus(spark, p, shift=1.0)
    fp2 = source_fingerprint(spark.read.parquet(p))
    assert fp2 != fp1
    # non-file-backed frames have no at-rest identity
    assert source_fingerprint(spark.range(3)) is None


def test_source_fingerprint_decodes_paths_and_warns_when_degraded(spark, tmp_path):
    """inputFiles() URIs are URL-encoded (a space is %20): the guard decodes
    them, so an mtime-only change under such a directory is seen. When
    it cannot see a file, or the files are not local, it warns."""
    import warnings

    p = str(tmp_path / "dir with space" / "corpus")
    _write_corpus(spark, p)
    df = spark.read.parquet(p)
    assert any("%20" in f for f in df.inputFiles())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        fp1 = source_fingerprint(df)
    assert fp1["total_bytes"] > 0
    part = next(f for f in os.listdir(p) if f.endswith(".parquet"))
    st = os.stat(os.path.join(p, part))
    os.utime(os.path.join(p, part), ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert source_fingerprint(spark.read.parquet(p)) != fp1

    os.remove(os.path.join(p, part))
    with pytest.warns(UserWarning, match=f"cannot stat .*{part}"):
        source_fingerprint(df)

    class _Remote:
        def inputFiles(self):
            return ["s3a://bucket/corpus/part-0.parquet"]

    with pytest.warns(UserWarning, match="not a local file"):
        assert source_fingerprint(_Remote()) is None


def test_ivf_read_raises_on_stale_fingerprint(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus)
    embs = spark.read.parquet(corpus)
    fp = source_fingerprint(embs)
    index = similarity.build_fixed_ivf_index(embs, list(range(16)))
    at_rest = str(tmp_path / "ivf")
    similarity.write_ivf_index(
        index, at_rest, check_config=False, source_fingerprint=fp
    )
    index.assigned.unpersist()
    # matching fingerprint loads; missing expectation loads (opt-in check)
    assert similarity.read_ivf_index(spark, at_rest, expect_fingerprint=fp)
    assert similarity.read_ivf_index(spark, at_rest)
    time.sleep(0.05)
    _write_corpus(spark, corpus, shift=2.0)
    fp_new = source_fingerprint(spark.read.parquet(corpus))
    with pytest.raises(ValueError, match="STALE"):
        similarity.read_ivf_index(spark, at_rest, expect_fingerprint=fp_new)


def test_lsh_read_raises_on_stale_fingerprint(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus)
    embs = spark.read.parquet(corpus)
    fp = source_fingerprint(embs)
    index = similarity.build_lsh_keys(embs)
    at_rest = str(tmp_path / "lsh")
    similarity.write_lsh_index(
        index, at_rest, check_config=False, source_fingerprint=fp
    )
    assert similarity.read_lsh_index(spark, at_rest, expect_fingerprint=fp)
    time.sleep(0.05)
    _write_corpus(spark, corpus, shift=2.0)
    fp_new = source_fingerprint(spark.read.parquet(corpus))
    with pytest.raises(ValueError, match="STALE"):
        similarity.read_lsh_index(spark, at_rest, expect_fingerprint=fp_new)


def test_cache_get_fresh_invalidates_on_corpus_change(spark, tmp_path):
    """The session-cache half: a cached entry whose recorded source
    fingerprint no longer matches the live corpus reads as a MISS, and
    a fingerprint never outlives its entry."""
    from crypto_data_pipeline_spark.plans.extension_queries import (
        _CACHE_SOURCE_FPS,
        _cache_get_fresh,
        _cache_put,
    )

    def fresh(cache, key, df):
        return _cache_get_fresh(cache, key, df, lambda v: v)

    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus)
    cache: dict = {}
    key = ("app", corpus)

    def put_index():
        index = spark.range(1)
        fp = source_fingerprint(spark.read.parquet(corpus))
        _cache_put(cache, key, index, lambda v: v, fp=fp)
        return index

    index = put_index()
    assert fresh(cache, key, spark.read.parquet(corpus)) is index
    # entries built from non-file-backed sources skip the check
    gen_key = ("app", "generated")
    gen = spark.range(2)
    _cache_put(cache, gen_key, gen, lambda v: v, fp=source_fingerprint(spark.range(5)))
    assert fresh(cache, gen_key, spark.range(5)) is gen
    # that put evicted `key`, and its fingerprint with it
    assert key not in cache
    assert (id(cache), *key) not in _CACHE_SOURCE_FPS
    put_index()
    time.sleep(0.05)
    _write_corpus(spark, corpus, shift=3.0)
    assert fresh(cache, key, spark.read.parquet(corpus)) is None
    # the stale miss evicts the entry and its fingerprint
    assert key not in cache
    assert (id(cache), *key) not in _CACHE_SOURCE_FPS
    # a same-key overwrite replaces the old value's fingerprint
    put_index()
    assert (id(cache), *key) in _CACHE_SOURCE_FPS
    _cache_put(cache, key, spark.range(4), lambda v: v)
    assert (id(cache), *key) not in _CACHE_SOURCE_FPS


def test_cache_get_fresh_evicts_stale_persisted_frame(spark, tmp_path):
    """A stale PERSISTED entry leaves the CacheManager on the miss. A
    rebuild over the same path otherwise matches the stale cached plan
    and reads the old rows: a file replaced outside the session (here
    by pyarrow) triggers no Spark recache."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crypto_data_pipeline_spark.plans.extension_queries import (
        _cache_get_fresh,
        _cache_put,
    )

    path = str(tmp_path / "ids.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}), path)

    def build():
        return spark.read.parquet(path).selectExpr("id * 2 AS x").persist()

    cache: dict = {}
    key = ("app", path)
    built = build()
    assert built.count() == 3
    _cache_put(cache, key, built, lambda v: v,
               fp=source_fingerprint(spark.read.parquet(path)))
    time.sleep(0.05)
    pq.write_table(pa.table({"id": [10, 20]}), path)
    assert _cache_get_fresh(cache, key, spark.read.parquet(path), lambda v: v) is None
    assert key not in cache
    assert sorted(r.x for r in build().collect()) == [20, 40]


# ---------------------------------------------------------------------------
# the n-gram Jaccard pair artifact shared by the near-dup graph queries

_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_B = "one two three four five six seven eight nine ten"
_C = "red orange yellow green blue indigo violet black white grey"
_D = "north south east west up down left right in out"
_E = "apple banana cherry damson elder fig grape hazel ilama jujube"


def _write_docs(path: str, texts: dict[int, str]) -> None:
    """documents.parquet under ``path`` with the corpus table's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array(list(texts), pa.int64()),
        "text": list(texts.values()),
        "lang": ["en"] * len(texts),
        "source": ["src0"] * len(texts),
        "n_chars": pa.array([len(t) for t in texts.values()], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/documents.parquet")


# pairs (1, 2) and (3, 4) at J >= 0.5; 5 and 6 match nothing
_OLD_DOCS = {
    1: _A, 2: _A.replace("kappa", "lambda"),
    3: _B, 4: _B.replace("ten", "eleven"),
    5: _C, 6: _D,
}
# doc 4 no longer pairs with 3; doc 6 now pairs with 5
_NEW_DOCS = {**_OLD_DOCS, 4: _E, 6: _C.replace("grey", "gold")}


def _oracle_rows(name: str, sf_dir: str) -> list[tuple]:
    import duckdb

    from crypto_data_pipeline_spark.plans.registry import load_with_extras

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    rows = con.execute(load_with_extras()[name].oracle).fetchall()
    con.close()
    return sorted(rows)


def test_pair_artifact_rebuilds_when_corpus_changes(spark, tmp_path):
    """dedup_clusters builds the session's pair artifact; the corpus is
    then replaced on disk (mtime and one pair change), and doc_pagerank
    in the same session must rank the NEW corpus's pair graph."""
    from crypto_data_pipeline_spark.plans import extension_queries as eq

    sf = str(tmp_path / "sf")
    _write_docs(sf, _OLD_DOCS)
    clusters = sorted(tuple(r) for r in eq.dedup_clusters(spark, sf).collect())
    assert clusters == _oracle_rows("dedup_clusters", sf)
    assert {r.doc_id for r in eq.doc_pagerank(spark, sf).collect()} == {1, 2, 3, 4}
    time.sleep(0.05)
    _write_docs(sf, _NEW_DOCS)
    ranks = sorted(tuple(r) for r in eq.doc_pagerank(spark, sf).select("doc_id", "rank").collect())
    assert [r[0] for r in ranks] == [1, 2, 5, 6]
    assert ranks == _oracle_rows("doc_pagerank", sf)


def test_pair_set_built_once_per_session(spark, tmp_path, monkeypatch):
    """All five near-dup graph queries in one session share ONE pair
    build, and the build leaves nothing in the CacheManager but the
    pair artifact itself (no shingle sets, no loop frames)."""
    from crypto_data_pipeline_spark.operators import dedup
    from crypto_data_pipeline_spark.plans import extension_queries as eq

    calls = []
    real = dedup.ngram_jaccard_pairs

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "ngram_jaccard_pairs", counting)
    sf = str(tmp_path / "sf")
    _write_docs(sf, _NEW_DOCS)
    cm = spark._jsparkSession.sharedState().cacheManager()
    evicts_prior = bool(eq._NGRAM_PAIRS_CACHE)
    n0 = cm.numCachedEntries()
    assert eq.dedup_clusters(spark, sf).count() == 2  # {1, 2} and {5, 6}
    # the pair artifact replaced any prior one; nothing else stays cached
    assert cm.numCachedEntries() == n0 + 1 - evicts_prior
    for fn in (eq.dedup_ngram_jaccard, eq.dedup_clusters_star,
               eq.dedup_graph_triangles, eq.doc_pagerank):
        fn(spark, sf).collect()
    assert len(calls) == 1
    assert cm.numCachedEntries() == n0 + 1 - evicts_prior
