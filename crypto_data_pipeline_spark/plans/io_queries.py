"""IO-source and scalar-function catalog queries — the SURVEY §2 rows
that live at the engine's edges (S1-S6 sources/sinks, P5/P7 predicate
and projection forms, F12-F15 scalar functions, ST4 concurrent fetch).

Sink round-trips run through session-scoped temp dirs (the sink IS the
operator under test); the HTTP source runs hermetically on an injected
deterministic transport, so even it is oracle-checkable as a VALUES
literal.
"""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from crypto_data_pipeline_spark.plans.registry import register
from crypto_data_pipeline_spark.sources.json_dir import read_child_dir_json
from crypto_data_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# P5 — parameterized equality predicate with dynamic AND-composition
# (crypto_app/db.py:114,271-280: optional year/month filters)


def events_filtered(
    spark: SparkSession,
    sf_dir: str,
    event_type: str | None = None,
    year: int | None = None,
    month: int | None = None,
) -> DataFrame:
    """The reference builds SQL text by appending AND-clauses per
    supplied parameter; here the same composition chains .filter()
    calls — each one still reaches the parquet scan as a pushed
    predicate."""
    df = load_table(spark, sf_dir, "events")
    if event_type is not None:
        df = df.where(F.col("event_type") == event_type)
    if year is not None:
        df = df.where(F.year("ts") == year)
    if month is not None:
        df = df.where(F.month("ts") == month)
    return df


@register(
    "param_equality_filter",
    survey_ids=("P5",),
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS total_value
FROM events
WHERE event_type = 'purchase' AND year(ts) = 2024 AND month(ts) = 2
""",
)
def param_equality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = events_filtered(spark, sf_dir, event_type="purchase", year=2024, month=2)
    return df.agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )


# ---------------------------------------------------------------------------
# P7 — dtype-driven numeric projection (select_dtypes(include=['number']))


@register(
    "numeric_projection",
    # re-promoted in round 6 (slot freed by demoting one of the two
    # EXT-asof driver queries): every §2 id now has a driver-gate row
    survey_ids=("P7",),
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       round(sum(l_discount), 2) AS s_l_discount,
       round(sum(l_extendedprice), 2) AS s_l_extendedprice,
       round(sum(l_quantity), 2) AS s_l_quantity,
       round(sum(l_tax), 2) AS s_l_tax
FROM lineitem
""",
)
def numeric_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_data.ipynb:639 / models.ipynb:283: project the numeric
    columns by inspecting the SCHEMA (dtype-driven, like
    select_dtypes), then profile them. Key columns (ids) are excluded
    the way the notebooks drop identifier columns."""
    df = load_table(spark, sf_dir, "lineitem")
    numeric = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.DoubleType, T.FloatType, T.DecimalType))
    ]
    aggs = [F.round(F.sum(c), 2).alias(f"s_{c}") for c in sorted(numeric)]
    return df.select(*numeric).agg(F.count(F.lit(1)).alias("n"), *aggs)


# ---------------------------------------------------------------------------
# F12/F13/F14/F15 — scalar-function block: string→date parse, anchored
# relative date window, fillna, initcap


@register(
    "scalar_function_block",
    survey_ids=("F12", "F13", "F14", "F15"),
    oracle="""
WITH anchored AS (SELECT max(o_orderdate) AS max_d FROM orders)
SELECT array_to_string(list_transform(string_split(o_orderpriority, ' '),
         w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), ' ') AS priority_label,
       CAST(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS DATE) AS parsed_date,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(coalesce(o_totalprice, 0.0)), 2) AS total
FROM orders, anchored
WHERE o_orderdate >= max_d - INTERVAL 30 DAY
GROUP BY 1, 2
""",
)
def scalar_function_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: to_date over a string-formatted date (the filename-parse
    path without a filesystem); F13: `date >= anchor - 30 days`
    anchored on the data's max date — the deterministic twin of
    `current_date() - 30` (EDA.ipynb:393-395; current_date itself
    would make the oracle flaky); F14: fillna(0) → coalesce;
    F15: initcap for labels."""
    orders = load_table(spark, sf_dir, "orders")
    max_d = orders.agg(F.max("o_orderdate")).collect()[0][0]
    return (
        orders.where(F.col("o_orderdate") >= F.date_sub(F.lit(max_d), 30))
        .select(
            F.initcap("o_orderpriority").alias("priority_label"),
            F.to_date(F.date_format("o_orderdate", "yyyy-MM-dd"), "yyyy-MM-dd").alias(
                "parsed_date"
            ),
            F.coalesce(F.col("o_totalprice"), F.lit(0.0)).alias("_price"),
        )
        .groupBy("priority_label", "parsed_date")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("_price"), 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# S5/S6 — CSV sink + source round-trip (the sink is the operator under test)


@register(
    "csv_roundtrip_monthly",
    survey_ids=("S5", "S6", "A5"),
    oracle="""
WITH history AS (
  SELECT user_id AS entity_id, CAST(ts AS DATE) AS fetch_date, max(value) AS price
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT entity_id,
       CAST(year(fetch_date) AS INT) AS year,
       CAST(month(fetch_date) AS INT) AS month,
       min(price) AS min_price,
       max(price) AS max_price
FROM history GROUP BY 1, 2, 3
""",
)
def csv_roundtrip_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the gold monthly min/max table to CSV (S5), read it back
    with an explicit schema (S6), return the re-read frame. Values are
    exact 2-decimal doubles, so the text round-trip is lossless and the
    result still hash-matches the direct SQL."""
    from crypto_data_pipeline_spark.operators import timeseries as ts
    from crypto_data_pipeline_spark.sources import csv_io

    hist = ts.daily_price_series(load_table(spark, sf_dir, "events"))
    gold = ts.monthly_min_max(hist).select(
        "entity_id", "year", "month", "min_price", "max_price"
    )
    path = tempfile.mkdtemp(prefix="csv_roundtrip_")
    csv_io.write_csv(gold, path)
    return csv_io.read_csv(
        spark,
        path,
        T.StructType(
            [
                T.StructField("entity_id", T.LongType()),
                T.StructField("year", T.IntegerType()),
                T.StructField("month", T.IntegerType()),
                T.StructField("min_price", T.DoubleType()),
                T.StructField("max_price", T.DoubleType()),
            ]
        ),
    )


# ---------------------------------------------------------------------------
# S2/S3/F12/F16 — JSON tree sink + distributed re-scan with path recovery


@register(
    "json_roundtrip_by_lang",
    survey_ids=("S2", "S3", "F12", "F16"),
    oracle="SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1",
)
def json_roundtrip_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents as a lang-partitioned JSON tree (S3), re-scan it
    distributed (S2) recovering the partition value from the file path
    with input_file_name + regexp (F12, the filename-parse pattern the
    reference uses for dates — load_data.py:45-53). A created_at
    current_timestamp column rides along (F16) but is excluded from
    the comparison for determinism."""
    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="json_tree_")
    docs.select("doc_id", "text", "lang").write.partitionBy("lang").mode("overwrite").json(path)
    # zero input docs -> the partitioned write emits no lang= dirs; the
    # empty tree reads as an empty frame, mirroring the oracle
    base = read_child_dir_json(spark, path, "doc_id long, text string")
    raw = base.withColumn(
        "lang", F.regexp_extract("_file", r"lang=([^/]+)/", 1)
    ).withColumn("created_at", F.current_timestamp())
    return raw.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# ORC round-trip: the Hive-era columnar format, partition-discovered


@register(
    "orc_roundtrip_by_type",
    survey_ids=("S5", "S6", "A5", "A6"),
    extra=True,
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       min(value) AS value_min,
       max(value) AS value_max
FROM events
WHERE value IS NOT NULL
GROUP BY 1
""",
)
def orc_roundtrip_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as an event_type-partitioned ORC tree, re-read it
    with partition discovery (the partition key comes back from the
    directory names, not the files), and aggregate — proving the
    second columnar format round-trips bit-exactly. All aggregates are
    order-independent (count / distinct / min / max), so the result
    hash-matches the direct parquet SQL regardless of file split
    order. At scale the partitioned layout means a WHERE event_type
    filter prunes whole directories before any IO."""
    from crypto_data_pipeline_spark.sources import orc_io

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    path = tempfile.mkdtemp(prefix="orc_roundtrip_")
    orc_io.write_orc(
        ev.select("event_id", "user_id", "value", "event_type"),
        path,
        partition_by=["event_type"],
    )
    try:
        back = orc_io.read_orc(spark, path)
    except Exception as exc:
        if "UNABLE_TO_INFER_SCHEMA" not in str(exc) and "PATH_NOT_FOUND" not in str(exc):
            raise
        # zero input rows -> the partitioned write emits no files and
        # schema inference has nothing to read; an empty tree is an
        # empty frame, mirroring the oracle
        back = spark.createDataFrame(
            [], "event_id long, user_id long, value double, event_type string"
        )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )


# ---------------------------------------------------------------------------
# corrupt-payload quarantine: permissive parse + dead-letter accounting


@register(
    "json_quarantine_split",
    survey_ids=("U4", "F3", "EXT-text"),
    oracle="""
WITH m AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0 THEN substr(props, 1, 4) ELSE props END AS j
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN NOT json_valid(j) THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       CAST(sum(CASE WHEN json_valid(j) THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
       round(sum(CASE WHEN json_valid(j) THEN CAST(json_extract(j, '$.k') AS DOUBLE) END), 6) AS k_sum
FROM m GROUP BY 1
""",
)
def json_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter accounting over a feed with deterministic corruption
    injected (every 7th event's JSON payload truncated — the malformed
    API response `load_data.py:55-64` would crash on): one PERMISSIVE
    `from_json` pass tags each row clean/corrupt via the declared
    corrupt-record slot (`sources/quarantine.py`), and ONE conditional
    aggregation produces per-type totals, quarantine counts, and the
    sum over successfully parsed values. Single scan, zero Python,
    one shuffle — the quarantined side never needs a second parse.
    DuckDB re-derives the same split via `json_valid`."""
    from crypto_data_pipeline_spark.sources import quarantine

    ev = load_table(spark, sf_dir, "events")
    mangled = F.when(
        F.col("event_id") % 7 == 0, F.substring("props", 1, 4)
    ).otherwise(F.col("props"))
    parsed = quarantine.parse_json_permissive(mangled, "k double")
    bad = parsed[quarantine.CORRUPT_COL].isNotNull()
    return (
        ev.select("event_type", parsed.alias("p"), bad.alias("bad"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("bad"), 1).otherwise(0)).cast("bigint").alias("n_quarantined"),
            F.sum(F.when(~F.col("bad"), 1).otherwise(0)).cast("bigint").alias("n_parsed"),
            F.round(F.sum(F.when(~F.col("bad"), F.col("p.k"))), 6).alias("k_sum"),
        )
    )


# ---------------------------------------------------------------------------
# S1/ST4 — HTTP API source, hermetic: deterministic transport + thread
# fan-out, so even the network path is oracle-checkable


from crypto_data_pipeline_spark.sources.http_datasource import (  # noqa: E402
    fake_price,
    fake_transport as _fake_transport,
)

_HTTP_COINS = ("bitcoin", "ethereum", "cardano")
_HTTP_DATES = ("01-01-2025", "02-01-2025")


def _http_oracle(coins=_HTTP_COINS, dates=_HTTP_DATES) -> str:
    rows = []
    for coin in coins:
        for date in dates:
            price = fake_price(coin, date)
            d = f"{date[6:]}-{date[3:5]}-{date[:2]}"
            rows.append(f"('{coin}', DATE '{d}', CAST({price} AS DOUBLE))")
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(coin_id, fetch_date, price_usd)"
    )


@register("http_ingest", survey_ids=("S1", "ST4", "U4"), oracle=_http_oracle())
def http_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+ST4: concurrent thread-pool fan-out over (coin, date) pairs
    through the retrying client (hermetic transport — this container
    has no network), payload JSON navigated for the usd price (U4),
    landed via createDataFrame exactly like the production driver-side
    ingest path."""
    from crypto_data_pipeline_spark.sources.http_client import HistoryApiClient

    client = HistoryApiClient(transport=_fake_transport, sleep=lambda s: None)
    reqs = [(c, d) for c in _HTTP_COINS for d in _HTTP_DATES]
    results = client.fetch_many(reqs, max_workers=4)
    rows = []
    for coin, date, payload in results:
        price = payload["market_data"]["current_price"]["usd"] if payload else None
        iso = f"{date[6:]}-{date[3:5]}-{date[:2]}"
        rows.append((coin, iso, price))
    return spark.createDataFrame(
        rows, "coin_id string, fetch_date string, price_usd double"
    ).select("coin_id", F.to_date("fetch_date").alias("fetch_date"), "price_usd")


# ---------------------------------------------------------------------------
# S1/ST4 at cluster scale — the same API surface as a Python DataSource:
# one InputPartition per coin, fetch runs on the executors

_DIST_COINS = ("bitcoin", "ethereum", "cardano", "solana")
_DIST_DATES = ("01-01-2025", "02-01-2025", "03-01-2025")


@register(
    "http_ingest_distributed",
    extra=True,
    survey_ids=("S1", "ST4", "U4"),
    oracle=_http_oracle(_DIST_COINS, _DIST_DATES),
)
def http_ingest_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executor-side twin of http_ingest: the history API mounted
    as a Spark 4 Python DataSource (sources/http_datasource.py), read
    like any other format. Fetch parallelism scales with the cluster —
    the design for high-QPS internal services where the driver-side
    thread pool of S1 would be the bottleneck."""
    from crypto_data_pipeline_spark.sources.http_datasource import CoinHistoryDataSource

    spark.dataSource.register(CoinHistoryDataSource)
    return (
        spark.read.format("coin_history_api")
        .option("coins", ",".join(_DIST_COINS))
        .option("dates", ",".join(_DIST_DATES))
        .load()
        .select("coin_id", "fetch_date", "price_usd")
    )


@register(
    "http_ingest_stream",
    extra=True,
    survey_ids=("S1", "ST1", "ST4", "U4"),
    oracle=_http_oracle(_DIST_COINS, _DIST_DATES),
)
def http_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING face of the same API source: `readStream` over
    the Python DataSource's SimpleDataSourceStreamReader — one
    micro-batch per date, offset = date index, checkpointed
    exactly-once (the cron-fetch of crypto_app/daily_fetch.py as a
    real stream, not a scheduler). The drained parquet sink must
    hash-match the identical VALUES oracle as the batch scans — the
    stream fetches the same universe, once."""
    from crypto_data_pipeline_spark.sources.http_datasource import CoinHistoryDataSource

    spark.dataSource.register(CoinHistoryDataSource)
    out = tempfile.mkdtemp(prefix="http_stream_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="http_stream_ckpt_") + "/cp"
    q = (
        spark.readStream.format("coin_history_api")
        .option("coins", ",".join(_DIST_COINS))
        .option("dates", ",".join(_DIST_DATES))
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(120)
    return spark.read.parquet(out).select("coin_id", "fetch_date", "price_usd")
