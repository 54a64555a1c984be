"""The reference pipeline, streaming: word count as a Structured
Streaming job.

The reference's whole program is a batch word count over a directory
of files (reference: src/worker/worker.go:131-218 map, 270-288
tokenize/reduce). This is the same logical pipeline declared against
an unbounded source: the file stream replays the corpus (a bounded
replay here; a production binding tails a landing directory), the
tokenize is the identical JVM flat-map, and the count is a complete-
mode stateful aggregation whose state — after the bounded replay —
must equal the batch answer, which is exactly what the oracle checks.

Scale posture: state is one row per distinct word (Zipf-bounded
vocabulary, not corpus-sized); the aggregation shuffles hash(word)
with map-side partials per micro-batch, identical to the batch plan.
The MemorySink test binding materializes on the driver; production
binds ForeachBatchMergeSink keyed on word (executors write), same as
the other complete/update pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.operators.wordcount import TOKEN_PATTERN
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.streaming.pipelines import FileSource, run_sink


@query(
    "streaming_wordcount_docs",
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
def streaming_wordcount_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming word count over the documents corpus — the
    reference's flagship, unbounded. Same tokenizer expression as the
    batch `wordcount` query; complete-mode state equals the batch
    answer once the replay drains."""
    docs = FileSource(table="documents").read(spark, sf_dir)
    agg = (
        docs.select(F.explode(F.split("text", TOKEN_PATTERN)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return run_sink(agg, "streaming_wordcount_docs")
