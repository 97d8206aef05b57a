"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload is a function ``(bench) -> None`` that generates its inputs
from the seed, sets up (timed as ``setup_s``), then runs *passes* until
``bench.seconds`` of measured time have elapsed (at least one pass).
Every timed operation is a read (rows back to the client) or a write
(data landed). Its result is kept and checked untimed once the measured
passes are over.
"""

from __future__ import annotations

import os

import checks
import gen

# reference_e2e: 8 coins x 60 days of bronze documents, sized so a cold
# run stays under a minute
REF_COINS, REF_DAYS = 8, 60
# GBT rounds in the benchmark's model zoo; the zoo's own default is 100
# (XGBRegressor parity), which alone costs ~30 s at this size
REF_GBT_ITERS = 10
# the feature set core_queries.model_comparison_query fits the zoo on
REF_FEATURES = [
    "price", "pct_change", "rolling_7d_trend", "rolling_7d_variance",
    *[f"price_lag_{i}" for i in range(1, 8)],
    "price_skew_7d", "day_of_week", "is_weekend", "return_abs",
    "return_rolling_mean_7d", "price_normalized", "price_standardized",
]

# curation_e2e: the corpus size of the repository's sf0.01 test data,
# a tenth of it exact or near copies
CORPUS_DOCS, CORPUS_VECS, CORPUS_DUP_SHARE = 500, 500, 0.1
CURATION_QUERIES = [
    "dedup_clusters", "doc_pagerank", "lm_perplexity_buckets", "lm_perplexity_buckets_kn",
    "rho_excess_perplexity_select", "dsir_importance_resample",
]
# recall@5 of the IVF probe against the exact top-5 below which the
# probe counts as failed. The index serves at the guard's operating
# point, whose recall on this data ranges 0.40-0.92 over seeds (median
# 0.66); the floor catches a broken probe, the per-layer metric tracks
# the level.
ANN_RECALL_FLOOR = 0.25


def _dir_listing(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def _rewritten(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) present after a write that are new or changed."""
    changed = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k][0] for k in changed), len(changed)


def _rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------
# reference_e2e


def reference_e2e(b) -> None:
    from pyspark.sql import functions as F

    from crypto_data_pipeline_spark.ml import regression as reg
    from crypto_data_pipeline_spark.operators import islands, timeseries as ts
    from crypto_data_pipeline_spark.plans import feature_pipeline as fp
    from crypto_data_pipeline_spark.sources.json_dir import coin_history_silver, read_bronze_json
    from crypto_data_pipeline_spark.sources.upsert import (
        refresh_monthly_aggregate,
        upsert_parquet_incremental,
    )

    tree, drop = os.path.join(b.work, "bronze"), os.path.join(b.work, "drop")
    truth = gen.bronze_tree(tree, b.seed, REF_COINS, REF_DAYS)
    day = gen.bronze_day(drop, b.seed, REF_COINS, REF_DAYS)
    b.setup()

    def silver_rows(root: str):
        return coin_history_silver(read_bronze_json(b.spark, root)).select(
            "*",
            F.current_timestamp().alias("created_at"),
            F.year("fetch_date").cast("int").alias("year"),
            F.month("fetch_date").cast("int").alias("month"),
        )

    def one_pass(k: int) -> None:
        lake = os.path.join(b.work, f"lake{k}")
        silver_dir, gold_dir = f"{lake}/silver", f"{lake}/gold"
        spark = b.spark
        with b.op("write", "sources.json_dir"):
            silver_rows(tree).write.partitionBy("year", "month").parquet(silver_dir)
        b.layer_value("sources.json_dir.files_per_s", len(truth) / b.last_op_s)
        with b.op("write"):  # the daily ingest of one new day for every coin
            with b.span("sources.json_dir"):
                new = silver_rows(drop)
                n_new = new.count()
            with b.span("sources.upsert"):
                before = _dir_listing(silver_dir)
                upsert_parquet_incremental(spark, new, silver_dir, keys=["entity_id", "fetch_date"])
                nbytes, nfiles = _rewritten(before, _dir_listing(silver_dir))
        b.layer_value("sources.upsert.bytes_written", nbytes)
        b.layer_value("sources.upsert.files_rewritten", nfiles)
        silver = spark.read.parquet(silver_dir)
        with b.op("write", "sources.upsert"):
            refresh_monthly_aggregate(spark, silver, gold_dir, entity="entity_id", value="price")
        hist = silver.select("entity_id", "fetch_date", "price")
        with b.op("read", "operators.reports"):
            monthly = _rows(ts.monthly_avg(hist))
        with b.op("read", "operators.reports"):
            caps = ts.latest_per_entity(silver, "entity_id", "fetch_date").select(
                "entity_id",
                F.col("market_cap_usd").alias("market_cap"),
                islands.format_market_cap("market_cap_usd").alias("market_cap_formatted"),
            )
            recovery = _rows(islands.recovery_report(hist, caps))
        with b.op("write", "plans.feature_pipeline"):
            fp.processed_table(hist).write.parquet(f"{lake}/processed")
            fp.prediction_table(hist, spark).write.parquet(f"{lake}/prediction")
        with b.op("read", "ml.regression"):
            pred = spark.read.parquet(f"{lake}/prediction")
            train, test = reg.chronological_split(pred, "fetch_date")
            zoo = reg.model_zoo(REF_FEATURES)
            zoo["gbt"].getStages()[-1].setMaxIter(REF_GBT_ITERS)
            train, test = train.persist(), test.persist()
            try:
                models = [(name, reg.regression_metrics(pipe.fit(train).transform(test),
                                                        "next_day_price"))
                          for name, pipe in zoo.items()]
            finally:
                train.unpersist()
                test.unpersist()

        def check() -> list[str | None]:
            con = checks.duckdb.connect()
            src = f"read_parquet('{silver_dir}/**/*.parquet', hive_partitioning=true)"
            got = con.execute(
                f"SELECT entity_id, CAST(fetch_date AS VARCHAR), price FROM {src}").fetchall()
            want = {(c, d, p) for (c, d), p in {**truth, **day}.items()}
            silver_ok = set(got) == want and len(got) == len(want)
            out = [
                None if silver_ok else f"silver: {len(got)} rows, {len(set(got) ^ want)} differ",
                None if n_new == len(day) and silver_ok
                else f"ingest: drop of {n_new} rows, want {len(day)}",
            ]
            gold = con.execute(
                f"SELECT entity_id, year, month, min_price, max_price "
                f"FROM read_parquet('{gold_dir}/**/*.parquet', hive_partitioning=true)").fetchall()
            out.append(checks.compare_sql(
                con, checks.silver_gold_sql(src, "entity_id", "fetch_date", "price"),
                ["entity_id", "year", "month", "min_price", "max_price"], gold, "gold"))
            out.append(checks.compare_sql(
                con, checks.silver_monthly_avg_sql(src, "entity_id", "fetch_date", "price"),
                *monthly, "monthly_avg"))
            out.append(checks.compare_sql(con, checks.silver_recovery_sql(src), *recovery,
                                          "recovery_report"))
            # every coin loses its first 7 days (lags) and its last (target)
            want_pred = REF_COINS * (REF_DAYS + 1 - 8)
            n_pred = con.execute(
                f"SELECT count(*) FROM read_parquet('{lake}/prediction/*.parquet')").fetchone()[0]
            out.append(None if n_pred == want_pred
                       else f"prediction table: {n_pred} rows, want {want_pred}")
            bad = [n for n, m in models if not (m.rmse > 0 and m.mae > 0 and m.r2 == m.r2)]
            out.append(None if len(models) == 4 and not bad else f"model zoo: bad metrics for {bad}")
            con.close()
            return out

        b.defer_check(check)

    b.run_passes(one_pass)
    b.run_checks()


# ---------------------------------------------------------------------------
# curation_e2e


def curation_e2e(b) -> None:
    from crypto_data_pipeline_spark.plans.registry import load_with_extras

    sf = os.path.join(b.work, "tables")
    gen.corpus_tables(sf, b.seed, n_docs=CORPUS_DOCS, n_vecs=CORPUS_VECS, dup_share=CORPUS_DUP_SHARE)
    specs = load_with_extras()
    oracle = checks.Oracle(sf)
    b.setup()

    def query(name: str, phase: str) -> tuple[list[str], list[tuple]]:
        with b.op("read", f"plans.{name}.{phase}"):
            return _rows(specs[name].fn(b.spark, sf))

    def one_pass(k: int) -> None:
        record = os.path.join(b.work, f"decision{k}")
        with b.op("write", "plans.corpus_curation_pipeline.cold"):
            specs["corpus_curation_pipeline"].fn(b.spark, sf).write.parquet(record)
        results = [("corpus_curation_pipeline", query("corpus_curation_pipeline", "serve"))]
        for name in CURATION_QUERIES:
            results.append((name, query(name, "cold")))
        ann = [query("embedding_ann_ivf", "cold"), query("embedding_ann_ivf", "serve")]

        def check() -> list[str | None]:
            res = oracle.con.execute(f"SELECT * FROM read_parquet('{record}/*.parquet')")
            landed = ([d[0] for d in res.description], res.fetchall())
            out = [checks.check_query(oracle, name, specs[name].oracle, *got)
                   for name, got in [("corpus_curation_pipeline", landed), *results]]
            truth = oracle.expected("embedding_topk_bruteforce",
                                    specs["embedding_topk_bruteforce"].oracle)
            q, v = truth[0].index("query_id"), truth[0].index("vec_id")
            truth_pairs = [(r[q], r[v]) for r in truth[1]]
            for cols, rows in ann:
                gq, gv = cols.index("query_id"), cols.index("vec_id")
                r = checks.recall_at_k(truth_pairs, [(x[gq], x[gv]) for x in rows])
                b.layer_value("plans.embedding_ann_ivf.recall_at_5", r)
                out.append(None if r >= ANN_RECALL_FLOOR
                           else f"embedding_ann_ivf: recall@5 {r:.3f} < {ANN_RECALL_FLOOR}")
            return out

        b.defer_check(check)

    b.run_passes(one_pass)
    b.run_checks()
    oracle.close()


WORKLOADS = {
    "reference_e2e": reference_e2e,
    "curation_e2e": curation_e2e,
}
