"""Deterministic corpus shuffle + training-shard export.

The last step of every pretraining-data pipeline: after dedup and
filtering, the corpus is SHUFFLED (so each training batch is an
unbiased sample, not a crawl-order run of one domain) and written as
N shards that data loaders stream sequentially. At 100 TB a true
random shuffle is a full-corpus sort — instead production pipelines
use a deterministic hash shuffle: order documents by a salted hash of
their id. That is reproducible run-to-run (re-runs resume / audits
re-derive the exact layout), needs no RNG state, and is exactly ONE
shuffle — the same Exchange+sort a random sort would cost, with none
of the seed-plumbing.

Reference parity note: the reference shuffles map output into R
reduce partitions by key hash (/root/reference/src/worker/worker.go
hash-partition stage) and writes one mr-out-<N> file per partition;
this is the same partition-then-write shape, with the hash serving as
both partitioner AND intra-shard order so shard files are
deterministic byte-for-byte in content order.

Scale posture: shard assignment and sort key are one narrow md5
projection over the scan; the write is `repartition(shard)` +
`sortWithinPartitions` — one Exchange, per-partition sort, no global
sort, no driver involvement. The manifest is a per-shard aggregate
with map-side partial combine; its content fingerprint is an
ORDER-INSENSITIVE sum of per-doc 32-bit hash slices (a commutative
fold — order-dependent aggregates like string_agg are
nondeterministic under Spark's partition races, so they are banned
from manifests). Balance check rides along: expected shard skew of a
uniform hash at n docs is O(sqrt(n/N)), and the manifest exposes
n_docs per shard so the test can assert it.

Determinism across engines: md5 hex of the identical string is
identical in JVM and DuckDB; the sort key is the hex string itself
(lexicographic order on hex = numeric order on the 128-bit value),
and conv()'s 32-bit slice parses to the same BIGINT both sides — the
dedup_common discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.scratch import scratch_path as _scratch

N_SHARDS = 8
# Salt versions the layout: bumping it reshuffles every shard, which
# is how epoch-distinct orderings are derived (epoch e -> salt
# f"shuffle:e{e}:") without any RNG state.
SALT = "shuffle:e0:"


def shard_key(doc_id_col: F.Column) -> F.Column:
    """Salted md5 hex of the doc id — shard assigner and intra-shard
    sort key in one."""
    return F.md5(
        F.concat(F.lit(SALT), doc_id_col.cast("string")).cast("binary")
    )


def sharded_docs(docs: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """(doc_id, text, shard, sort_key): deterministic hash-shuffle
    layout. Shard = first 32 hash bits mod n_shards, order within the
    shard = full hex key."""
    key = shard_key(F.col("doc_id"))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint") % n_shards
    ).cast("bigint")
    return docs.select(
        "doc_id",
        "text",
        shard.alias("shard"),
        key.alias("sort_key"),
    )


def write_training_shards(
    docs: DataFrame, out_dir: str, n_shards: int = N_SHARDS
) -> None:
    """Write the deterministic-shuffle layout: one parquet directory
    per shard (`shard=K/`), rows sorted by sort_key within the shard
    file. `repartition(col)` hash-distributes the n_shards keys over
    the session's shuffle partitions; empty partitions write nothing,
    so the output is exactly one file per shard. The
    within-partition sort leads with the partition column:
    FileFormatWriter requires its input ordered by partition columns
    and otherwise inserts its OWN (non-stable) sort by `shard`,
    destroying the sort_key order — leading with `shard` makes the
    writer's requirement a satisfied prefix so the existing order
    passes through."""
    (
        sharded_docs(docs, n_shards)
        .repartition(F.col("shard"))
        .sortWithinPartitions("shard", "sort_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )


# The manifest's key range is the 60-bit numeric PREFIX of the hex
# key, not the hex string: min/max over a var-length string buffer
# forces Spark into SortAggregate (per-partition sort in the one
# corpus-scale stage — the dedup_common.py lesson), while bigint
# min/max stays in HashAggregate. Prefix-of-min == min-of-prefix for
# equal-length hex strings, so no information the manifest needs is
# lost; 15 hex chars = 60 bits keeps conv() inside signed-64 range.
_MANIFEST_SQL_BODY = f"""
    SELECT CAST(('0x' || substring(k, 1, 8))::BIGINT % {N_SHARDS}
               AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(('0x' || substring(k, 25, 8))::BIGINT) AS BIGINT)
             AS content_sum,
           min(('0x' || substring(k, 1, 15))::BIGINT) AS min_key_pfx,
           max(('0x' || substring(k, 1, 15))::BIGINT) AS max_key_pfx
    FROM (SELECT md5('{SALT}' || doc_id::VARCHAR) AS k, text
          FROM documents)
    GROUP BY 1
"""


@query("corpus_shard_manifest", oracle=_MANIFEST_SQL_BODY)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end shard export + manifest: write the
    deterministic-shuffle shards to scratch, re-read them through the
    parquet source, and aggregate the per-shard manifest (doc count,
    token count, order-insensitive content fingerprint, key range)
    FROM THE READ-BACK FILES — the oracle recomputes the same
    manifest from the original table, so a lost/duplicated/misfiled
    row anywhere in the write path breaks the hash match (the
    sources_sinks round-trip discipline)."""
    out = _scratch(sf_dir, "training_shards")
    docs = load_table(spark, sf_dir, "documents")
    write_training_shards(docs, out)
    back = spark.read.parquet(out)
    content = F.conv(F.substring("sort_key", 25, 8), 16, 10).cast("bigint")
    key_pfx = F.conv(F.substring("sort_key", 1, 15), 16, 10).cast("bigint")
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
        F.sum(content).cast("bigint").alias("content_sum"),
        F.min(key_pfx).alias("min_key_pfx"),
        F.max(key_pfx).alias("max_key_pfx"),
    )
