"""At-rest index staleness guard (round 14, VERDICT r12 next #6
carry-over): every index/store sidecar records the corpus fingerprint
it was built from, loads re-check it, and the session-artifact store
(`artifacts.get_or_build`) treats a changed corpus as a miss instead of
serving stale results."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from crypto_data_pipeline_spark import artifacts
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


def _live(name: str) -> list[dict]:
    return [e for e in artifacts.inventory() if e["name"] == name]


def _n_builds(name: str) -> int:
    return sum(r["name"] == name for r in artifacts.BUILD_LOG)


def test_store_rebuilds_on_corpus_change(spark, tmp_path):
    """Every hit rechecks the source fingerprint taken before the build:
    a changed corpus reads as a miss and rebuilds, a build evicts the
    other keys of its name, and a fingerprint never outlives its
    entry."""
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus)
    builds = []

    def get(sf_dir, source):
        def build():
            builds.append(sf_dir)
            return spark.range(len(builds))

        return artifacts.get_or_build(spark, sf_dir, "test_index", source, build)

    index = get(corpus, spark.read.parquet(corpus))
    assert get(corpus, spark.read.parquet(corpus)) is index
    # entries built from non-file-backed sources skip the check
    gen = get("generated", spark.range(5))
    assert get("generated", spark.range(5)) is gen
    # that build evicted the corpus entry, and its fingerprint with it
    assert [(e["sf_dir"], e["source"]) for e in _live("test_index")] == [("generated", None)]
    index = get(corpus, spark.read.parquet(corpus))
    old_source = _live("test_index")[0]["source"]
    time.sleep(0.05)
    _write_corpus(spark, corpus, shift=3.0)
    rebuilt = get(corpus, spark.read.parquet(corpus))
    assert rebuilt is not index and len(builds) == 4
    # the stale miss evicted the entry; the rebuild records the new
    # fingerprint in place of the old one and serves the next hit
    [entry] = _live("test_index")
    new_fp = source_fingerprint(spark.read.parquet(corpus))
    assert entry["source"] != old_source
    assert entry["source"]["sha256"] == new_fp["sha256"][:16]
    assert get(corpus, spark.read.parquet(corpus)) is rebuilt and len(builds) == 4


def test_store_evicts_stale_persisted_frame(spark, tmp_path):
    """A stale PERSISTED entry leaves the CacheManager before the
    rebuild. A rebuild over the same path otherwise matches the stale
    cached plan and reads the old rows: a file replaced outside the
    session (here by pyarrow) triggers no Spark recache."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ids.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}), path)

    def get():
        return artifacts.get_or_build(
            spark, path, "test_frame", spark.read.parquet(path),
            lambda: spark.read.parquet(path).selectExpr("id * 2 AS x").persist(),
        )

    built = get()
    assert built.count() == 3
    time.sleep(0.05)
    pq.write_table(pa.table({"id": [10, 20]}), path)
    again = get()
    assert again is not built and len(_live("test_frame")) == 1
    assert sorted(r.x for r in again.collect()) == [20, 40]


def test_store_removes_the_old_directory_on_a_stale_rebuild(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus)
    dirs = []

    def get():
        def build(d):
            dirs.append(d)
            return d

        return artifacts.get_or_build(
            spark, corpus, "test_at_rest", spark.read.parquet(corpus), build,
            at_rest=True,
        )

    first = get()
    assert os.path.isdir(first) and get() == first
    time.sleep(0.05)
    _write_corpus(spark, corpus, shift=1.0)
    second = get()
    assert dirs == [first, second]
    assert not os.path.exists(first) and os.path.isdir(second)
    assert [e["dir"] for e in _live("test_at_rest")] == [second]


def test_store_raising_build_leaves_no_directory_and_no_entry(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus)
    dirs = []
    n0 = _n_builds("test_raises")

    def build(d):
        dirs.append(d)
        with open(os.path.join(d, "half_written"), "w") as f:
            f.write("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        artifacts.get_or_build(
            spark, corpus, "test_raises", spark.read.parquet(corpus), build,
            at_rest=True,
        )
    assert len(dirs) == 1 and not os.path.exists(dirs[0])
    assert _live("test_raises") == [] and _n_builds("test_raises") == n0


# name -> (the registered query that owns it, the table it is built from)
_ARTIFACT_OWNERS = {
    "silver": ("monthly_avg_price", "events"),
    "ngram_pairs": ("dedup_clusters", "documents"),
    "sig_store": ("dedup_minhash_incremental", "documents"),
    "curation": ("corpus_curation_pipeline", "documents"),
    "nb_model": ("nb_lang_classifier", "documents"),
    "lm_model": ("lm_perplexity_buckets", "documents"),
    "lm_kn_model": ("lm_perplexity_buckets_kn", "documents"),
    "rho_scored": ("rho_excess_perplexity_select", "documents"),
    "src_report": ("source_curation_report", "documents"),
    "dsir_feats": ("dsir_importance_resample", "documents"),
    "ivf_index": ("embedding_ann_ivf", "embeddings"),
    "ivf_fixed_index": ("embedding_ann_ivf_fixed", "embeddings"),
    "lsh_keys": ("embedding_ann_lsh", "embeddings"),
    "pq_codes": ("embedding_pq_topk", "embeddings"),
}


@pytest.mark.parametrize("name", sorted(_ARTIFACT_OWNERS))
def test_artifact_rebuilds_when_its_source_changes(spark, sf_dir, tmp_path, name):
    """Every session artifact: rerunning its owning query over a copy of
    the test tables after the source parquet's mtime moves builds it
    again, keeps one live entry,
    and removes the old at-rest directory."""
    import shutil

    from crypto_data_pipeline_spark.plans.registry import load_with_extras

    query, table = _ARTIFACT_OWNERS[name]
    fn = load_with_extras()[query].fn
    sf = str(tmp_path / "sf")
    shutil.copytree(sf_dir, sf)
    fn(spark, sf).count()
    [before] = _live(name)
    assert before["sf_dir"] == sf
    n = _n_builds(name)
    f = os.path.join(sf, f"{table}.parquet")
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    fn(spark, sf).count()
    assert _n_builds(name) == n + 1
    [after] = _live(name)
    assert after["source"] != before["source"]
    if before["dir"] is not None:
        assert not os.path.exists(before["dir"]) and os.path.isdir(after["dir"])


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
    evicts_prior = bool(_live("ngram_pairs"))
    n0 = cm.numCachedEntries()
    assert eq.dedup_clusters(spark, sf).count() == 2  # {1, 2} and {5, 6}
    # the pair artifact replaced any prior one; nothing else stays cached
    assert cm.numCachedEntries() == n0 + 1 - evicts_prior
    for fn in (eq.dedup_ngram_jaccard, eq.dedup_clusters_star,
               eq.dedup_graph_triangles, eq.doc_pagerank):
        fn(spark, sf).collect()
    assert len(calls) == 1
    assert cm.numCachedEntries() == n0 + 1 - evicts_prior
