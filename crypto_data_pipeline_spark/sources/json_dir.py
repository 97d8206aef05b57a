"""S2/S3: bronze JSON directory source & sink.

The reference stores one pretty-printed JSON file per (coin, day) at
``data/<coin>/<coin>_YYYY-MM-DD.json`` (crypto_app/cli.py:95-103) and
re-loads the tree with a Python glob loop parsing dates out of
filenames (load_data.py:112-129,45-53).

Spark re-design: one distributed ``spark.read.json`` over the coin
DIRECTORIES of the tree (read_child_dir_json): the driver lists the
root's direct child directories and hands them to the reader with a
``*.json`` file filter, so file listing scales with the number of
coins, not coin-days. The leaf-file glob ``<root>/*/*.json`` would
instead expand into one root path per FILE, which Spark re-stats in a
listing job with one task per file once there are more than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32). Coin
and date are recovered from ``input_file_name()`` with a regexp, not
with a driver-side loop; schema is supplied explicitly (schema-on-read
inference would scan the tree twice)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

# Payload schema for the parts of the CoinGecko daily-history document
# the pipeline consumes (market_data.*.usd; see load_data.py:55-64 and
# sql/analysis_queries.sql:75-77). Currency maps are MapType so all 63
# currencies stay queryable without 63 columns.
COIN_HISTORY_PAYLOAD = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "market_data",
            T.StructType(
                [
                    T.StructField("current_price", T.MapType(T.StringType(), T.DoubleType())),
                    T.StructField("market_cap", T.MapType(T.StringType(), T.DoubleType())),
                    T.StructField("total_volume", T.MapType(T.StringType(), T.DoubleType())),
                ]
            ),
        ),
    ]
)

_FILE_RE = r"([^/]+)_(\d{4}-\d{2}-\d{2})\.json$"


# Hadoop's glob metacharacters: DataFrameReader globs every path it is
# given, so a listed directory is escaped to be read literally.
_GLOB_META = re.compile(r"([\\{}\[\]*?])")


def read_child_dir_json(
    spark: SparkSession, root: str, schema: T.StructType | str, **options: str
) -> DataFrame:
    """The ``*.json`` files directly inside each direct child directory
    of ``root`` — the file set of the glob ``<root>/*/*.json`` — read
    with ``schema``, plus ``_file`` (the file's URI).

    The root is listed with ``FileSystem.listStatus`` (taken literally,
    never globbed) and only its directories are passed to the reader,
    glob-escaped. A file at the root is not read (it is not in a child
    directory), nor is one nested deeper: with no partition columns
    and ``recursiveFileLookup`` off, Spark reads only the direct
    children of each path it is given. Spark lists the directories on
    the driver up to ``parallelPartitionDiscovery.threshold`` of them
    and with one task per DIRECTORY above it.

    A missing root, or one without child directories, is a valid empty
    tree (first run, nothing fetched yet): the frame is empty and its
    ``_file`` is a NULL literal, not '' — a '' literal constant-folds
    through to_date('') in read_bronze_json at PLAN time, which ANSI
    mode rejects even on a zero-row frame (found by
    tests/test_cli.py::test_run_pipeline_empty_tree_fails_loud)."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    dirs = sorted(
        _GLOB_META.sub(r"\\\1", st.getPath().toString())
        for st in (fs.listStatus(path) if fs.exists(path) else [])
        if st.isDirectory()
    )
    if not dirs:
        return spark.createDataFrame([], schema).withColumn(
            "_file", F.lit(None).cast("string")
        )
    return (
        spark.read.schema(schema)
        .option("pathGlobFilter", "*.json")
        .options(**options)
        .json(dirs)
        .withColumn("_file", F.input_file_name())
    )


def read_bronze_json(spark: SparkSession, root: str) -> DataFrame:
    """Distributed scan of data/<coin>/<coin>_<date>.json with (coin,
    date) recovered from the path — the Spark twin of
    load_data.py:112-129. The reader is handed the coin directories,
    not the coin-day files (read_child_dir_json), so listing costs one
    ``listStatus`` per coin. A missing or empty root yields an empty
    frame. Returns coin_id, fetch_date, price_usd, market_cap_usd,
    total_volume_usd, response (full struct)."""
    # the reference writes pretty-printed JSON
    raw = read_child_dir_json(spark, root, COIN_HISTORY_PAYLOAD, multiLine="true")
    # Only <name>_YYYY-MM-DD.json filenames carry the (coin, date) key —
    # the distributed twin of the reference's per-coin filename glob
    # (load_data.py:112-129), which likewise never reads a stray
    # metadata.json or <coin>_latest.json. Filtering BEFORE the date
    # parse also keeps ANSI to_date off non-conforming names (a stray
    # file would otherwise abort the whole scan with an opaque cast
    # error at the first action).
    raw = raw.where(F.col("_file").rlike(_FILE_RE))
    return raw.select(
        F.regexp_extract("_file", _FILE_RE, 1).alias("coin_id"),
        F.to_date(F.regexp_extract("_file", _FILE_RE, 2)).alias("fetch_date"),
        F.col("market_data.current_price")["usd"].alias("price_usd"),
        F.col("market_data.market_cap")["usd"].alias("market_cap_usd"),
        F.col("market_data.total_volume")["usd"].alias("total_volume_usd"),
        F.struct("id", "symbol", "name", "market_data").alias("response"),
        F.current_timestamp().alias("created_at"),
    )


def coin_history_silver(bronze: DataFrame) -> DataFrame:
    """Bronze → the coin_history silver contract the analysis layer
    consumes: (entity_id, fetch_date, price, market_cap_usd).

    The reference lands prices in a ``NUMERIC(24, 8)`` column
    (sql/create_tables.sql:7), so every downstream number — the README
    golden tables AND data/processed_crypto_data.csv — is computed from
    8-decimal-quantized prices, not the raw JSON doubles. ``F.round``
    (HALF_UP, equal to NUMERIC half-away-from-zero on positive prices)
    replicates that boundary; tests/test_real_reference_data.py pins
    row-level parity on the real corpus through this path."""
    return bronze.select(
        F.col("coin_id").alias("entity_id"),
        "fetch_date",
        F.round("price_usd", 8).alias("price"),
        "market_cap_usd",
    )


def write_bronze_json(df: DataFrame, root: str, mode: str = "append") -> None:
    """S3 sink: partitioned JSON layout (coin_id=<c>/fetch_date=<d>/...).

    Hive-style partitioning replaces the reference's hand-built
    directory scheme — partition pruning then makes per-coin or
    per-date reads touch only the matching directories."""
    df.write.partitionBy("coin_id", "fetch_date").mode(mode).json(root)
