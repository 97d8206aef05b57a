"""Empty-input differential gate: every oracle-paired query runs
against EMPTY tables (same schemas) on Spark AND DuckDB and must still
agree. At 100 TB empty inputs are not hypothetical — a fresh partition,
a filter that matches nothing, a source outage — and this is where
divide-by-zero, `.collect()[0]`, and NULL-aggregate bugs live.

Queries whose CONTRACT requires data (index builds seeded from
specific corpus ids, HTTP fixtures) are excused explicitly, each with
the exception type the contract raises — an excuse is itself an
assertion, not a skip.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from crypto_data_pipeline_spark.plans.registry import load_with_extras
from crypto_data_pipeline_spark.sources.tables import TABLES

SPECS = load_with_extras()
ORACLE_SPECS = [s for s in SPECS.values() if s.oracle is not None]

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import IllegalArgumentException

# name -> exception type the documented contract raises on an empty
# corpus (these are not bugs: each builds state FROM specific rows).
# The types are PINNED (bare Exception would excuse ANY failure —
# a NameError or a broken column reference must still fail the gate):
# Spark ML's .fit on zero rows surfaces as the JVM job failure
# Py4JJavaError, empirically verified; the DecisionTree path instead
# pre-validates and converts to IllegalArgumentException
# ("DecisionTree requires size of input RDD > 0").
EXCUSED: dict[str, type[BaseException]] = {
    "embedding_ann_ivf_fixed": ValueError,  # centroids = vec_id 0..15, absent
    "semantic_dedup": ValueError,           # fixed quantizer, same centroids
    "cluster_balanced_sample": ValueError,  # fixed quantizer, same centroids
    "embedding_pq_codes": ValueError,       # fixed PQ codebook, same seed rows
    "embedding_pq_topk": ValueError,        # same codebook contract
    "embedding_ann_ivfpq": ValueError,      # fixed quantizer + codebook
    "linear_ridge_closed_form": Py4JJavaError,  # Spark ML fit needs rows
    "model_comparison_sanity": Py4JJavaError,   # same fit underneath
    "gbt_closed_form": IllegalArgumentException,  # tree fit needs rows
}

# Known engine divergence, pinned not hidden: ANSI grouping sets over
# EMPTY input still emit the () grand-total row (DuckDB does), but
# Spark expands grouping sets then groups by spark_grouping_id, so an
# empty input yields ZERO rows. Harmless on real (non-empty) data —
# the sf0.001/sf0.01 differential gates prove full agreement there.
SPARK_DROPS_EMPTY_GRAND_TOTAL = {"cube_order_stats", "rollup_order_stats"}


@pytest.fixture(scope="session")
def empty_dir(tmp_path_factory) -> str:
    import pyarrow.parquet as pq

    root = str(tmp_path_factory.mktemp("empty_sf"))
    src = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    for t in TABLES:
        # pyarrow preserves the EXACT physical schema (events.ts stays
        # TIMESTAMP(NANOS)) — an empty table must exercise the same
        # reader paths as a populated one
        schema = pq.read_schema(f"{src}/{t}.parquet")
        pq.write_table(schema.empty_table(), f"{root}/{t}.parquet")
    return root


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _key(row):
    return tuple((x is None, x) for x in row)


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=[s.name for s in ORACLE_SPECS])
def test_empty_input_matches_oracle(spark, empty_dir, spec):
    if spec.name in EXCUSED:
        with pytest.raises(EXCUSED[spec.name]):
            spec.fn(spark, empty_dir).collect()
        return

    sdf = spec.fn(spark, empty_dir)
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{empty_dir}/{t}.parquet'"
        )
    res = con.execute(spec.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    con.close()

    assert sorted(sdf.columns) == sorted(dcols)
    if spec.name in SPARK_DROPS_EMPTY_GRAND_TOTAL:
        assert len(srows) == 0, "Spark grouping-sets-on-empty behavior changed"
        assert 1 <= len(drows) <= 2, "oracle should emit only grand-total rows"
        return
    assert len(srows) == len(drows), (
        f"empty-input row count: spark={len(srows)} duck={len(drows)}"
    )
    si = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
    di = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sc = sorted((_key(tuple(_canon(r[i]) for i in si)) for r in srows))
    dc = sorted((_key(tuple(_canon(r[i]) for i in di)) for r in drows))
    assert sc == dc, f"empty-input value mismatch: {sc[:3]} vs {dc[:3]}"


def test_literal_frame_matches_createdataframe(spark):
    """Round 13: literal_frame (the JVM array-of-structs form that
    keeps Python workers out of broadcast builds) must be row- and
    schema-identical to createDataFrame over the same rows — including
    typed NULLs and the empty-rows degenerate case."""
    from crypto_data_pipeline_spark.sources.tables import literal_frame

    schema = "name string, n long, score double, ok boolean"
    rows = [("a", 1, 0.5, True), ("b", None, float("inf"), False), (None, 3, None, None)]
    lit = literal_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert lit.schema == ref.schema
    assert sorted(map(tuple, lit.collect()), key=str) == sorted(
        map(tuple, ref.collect()), key=str
    )
    # no Python evaluation node anywhere in the literal plan
    plan = lit._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "EvalPython" not in plan

    empty = literal_frame(spark, [], schema)
    assert empty.schema == ref.schema and empty.count() == 0


def test_pagerank_on_empty_edges_releases_and_restores(spark, empty_dir):
    """An empty near-dup graph: pagerank over an empty edge list and
    doc_pagerank over an empty corpus return empty frames, leave no
    persisted frame behind (doc_pagerank keeps only the session's pair
    artifact) and leave the loop conf keys exactly as found."""
    from crypto_data_pipeline_spark import artifacts
    from crypto_data_pipeline_spark.operators.graph import pagerank
    from crypto_data_pipeline_spark.plans import extension_queries as eq

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    conf = {k: spark.conf.get(k, None) for k in keys}
    cm = spark._jsparkSession.sharedState().cacheManager()
    n0 = cm.numCachedEntries()
    edges = spark.createDataFrame([], "src long, dst long")
    ranks = pagerank(edges, iters=5)
    assert ranks.columns == ["id", "rank"] and ranks.count() == 0
    assert cm.numCachedEntries() == n0
    assert {k: spark.conf.get(k, None) for k in keys} == conf

    evicts_prior = any(e["name"] == "ngram_pairs" for e in artifacts.inventory())
    assert eq.doc_pagerank(spark, empty_dir).collect() == []
    assert cm.numCachedEntries() == n0 + 1 - evicts_prior
    assert {k: spark.conf.get(k, None) for k in keys} == conf
