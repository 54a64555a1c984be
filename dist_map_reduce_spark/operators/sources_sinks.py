"""Sources & sinks: text/CSV/JSON/parquet write → read round-trips.

The reference's entire I/O surface is a directory-of-text-files
source (one map task per file, reference: src/master/master.go:327-339)
and ND-JSON / space-separated-text sinks (reference:
src/worker/worker.go:151-164, 196-212). These queries exercise the
engine's equivalents end-to-end: each writes a table out through a
sink format into a scratch dir, reads it back through the matching
source, and runs an aggregation whose oracle runs on the ORIGINAL
parquet — so a round-trip bug (type loss, quoting, tokenization)
breaks the hash match.

Sink layout note: each write emits one file per partition (exactly
the reference's mr-out-<N> convention) and Spark's file source plans
one split per file — the reference's task-per-file model, handled by
the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.scratch import scratch_path


@query(
    "sink_text_wordcount_roundtrip",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (
      SELECT unnest(string_split_regex(text, '[^a-zA-Z]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
)
def sink_text_wordcount_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship, through the reference's own I/O
    shape: dump the corpus to a directory of plain-text files
    (one per partition), re-scan it with the text source, word count.
    Matches the documents-table oracle only if the text sink/source
    round-trip is lossless."""
    out = scratch_path(sf_dir, "docs_text")
    docs = load_table(spark, sf_dir, "documents").select("text")
    docs.write.mode("overwrite").text(out)
    return (
        spark.read.text(out)
        .select(F.explode(F.split("value", "[^a-zA-Z]+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "sink_json_roundtrip_agg",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_totalprice > 200000
    GROUP BY o_orderstatus
    """,
)
def sink_json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ND-JSON sink → JSON source (schema pinned, no inference) →
    aggregate. ND-JSON is the reference's intermediate shuffle format
    (src/worker/worker.go:157-163) — here it's just another sink."""
    out = scratch_path(sf_dir, "orders_json")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200_000
    )
    cols = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    cols.write.mode("overwrite").json(out)
    back = spark.read.schema(cols.schema).json(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "sink_csv_roundtrip_agg",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def sink_csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink (with header) → CSV source with explicit schema."""
    out = scratch_path(sf_dir, "customer_csv")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    cust.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(cust.schema).option("header", True).csv(out)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.round(F.avg("c_acctbal"), 4).alias("avg_bal")
    )


@query(
    "sink_parquet_partitioned_roundtrip",
    oracle="""
    SELECT year(o_orderdate) AS yr, o_orderstatus,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1, 2
    """,
)
def sink_parquet_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink (partitionBy year) → source with
    partition pruning available; aggregation over the round-trip.
    Hive-style partition columns come back as int32 — cast restores
    the year() type contract."""
    out = scratch_path(sf_dir, "orders_parquet_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    orders.select("yr", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).partitionBy("yr").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(
        F.col("yr").cast("int").alias("yr"), "o_orderstatus"
    ).agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))


N_SORT_RANGES = 8


@query(
    "sink_sorted_parquet_ranges",
    oracle=f"""
    SELECT {N_SORT_RANGES} AS n_files,
           true AS ranges_disjoint,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events
    """,
)
def sink_sorted_parquet_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally sorted parquet sink WITHOUT a single-reducer sort:
    ``repartitionByRange`` samples range boundaries on the sort key
    (ts, event_id — a strict total order), every range sorts
    independently (``sortWithinPartitions``), and each range lands in
    its own file. This is how a 100 TB table gets a total order: N
    parallel sorted runs with disjoint key ranges — the property that
    makes parquet min/max zone maps prune point/range scans — versus
    ``orderBy().write`` which is the same plan, or a naive
    single-partition sort that serializes the corpus through one task.

    The query re-reads the written files and verifies the contract
    from file-level statistics alone (per-file min/max struct of the
    sort key, files ordered and pairwise disjoint) — an
    N_SORT_RANGES-row aggregate, no second full-data pass — then
    returns (n_files, ranges_disjoint, n_rows) against a constant
    oracle."""
    out = scratch_path(sf_dir, "events_sorted_ranges")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    (
        ev.repartitionByRange(N_SORT_RANGES, F.col("ts"), F.col("event_id"))
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min(F.struct("ts", "event_id")).alias("lo"),
            F.max(F.struct("ts", "event_id")).alias("hi"),
            F.count("*").alias("n"),
        )
    )
    from pyspark.sql import Window as W

    w = W.orderBy("lo")  # N_SORT_RANGES rows — single-task window is fine
    return (
        per_file.select(
            "n",
            (F.lag("hi").over(w) < F.col("lo")).alias("ok"),
        )
        .agg(
            F.count("*").cast("int").alias("n_files"),
            F.coalesce(F.min("ok"), F.lit(True)).alias("ranges_disjoint"),
            F.sum("n").alias("n_rows"),
        )
    )
