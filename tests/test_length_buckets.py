"""Semantic contracts of the r15 length-bucket padding-waste query
(parity proves Spark == DuckDB; these prove the accounting):

- per-class identities: capacity = bucket_len x n_docs, waste in
  [0, 1), used <= capacity;
- the TOTAL row is exactly the column sums of the per-class rows
  and its waste is the capacity-weighted mean;
- the truncation arm (no fixture doc exceeds MAX_BUCKET, so it is
  undefended by fixture data — the bloom empty-eval convention) is
  exercised on a synthetic over-length doc on BOTH engines.
"""

from __future__ import annotations

from dist_map_reduce_spark import registry
from dist_map_reduce_spark.parity import compare, duck_views
from tests.conftest import SF_SMOKE

registry.load_all()


def _panel(spark, sf_dir):
    return (
        registry.QUERIES["length_bucket_padding_waste"](spark, sf_dir)
        .toPandas()
        .sort_values("bucket_len")
        .reset_index(drop=True)
    )


def test_bucket_accounting_identities(spark):
    pdf = _panel(spark, SF_SMOKE)
    per = pdf[pdf.bucket_len > 0]
    tot = pdf[pdf.bucket_len == -1]
    assert len(per) > 1, "fixture should populate several classes"
    assert len(tot) == 1
    assert (per.capacity == per.bucket_len * per.n_docs).all()
    assert (per.used_tokens <= per.capacity).all()
    assert ((per.waste_frac >= 0) & (per.waste_frac < 1)).all()
    assert (per.waste_frac > 0).any(), "padding waste should be real"
    t = tot.iloc[0]
    for c in ("n_docs", "used_tokens", "capacity", "truncated_tokens"):
        assert t[c] == per[c].sum(), c
    assert round(1.0 * (t.capacity - t.used_tokens) / t.capacity, 6) == (
        t.waste_frac
    )


def test_truncation_branch_on_overlength_doc(tmp_path, spark):
    import os

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dist_map_reduce_spark.functions.length_buckets import MAX_BUCKET

    long_text = " ".join(["tok"] * (MAX_BUCKET + 100))
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [long_text, "short little document"],
            "lang": ["en", "en"],
            "source": ["srcA", "srcA"],
            "n_chars": [len(long_text), 21],
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.Table.from_pandas(docs), os.path.join(sf_dir, "documents.parquet")
    )
    sp = _panel(spark, sf_dir)
    con = duckdb.connect()
    duck_views(con, sf_dir)
    od = con.execute(registry.ORACLES["length_bucket_padding_waste"]).fetchdf()
    assert not compare(sp, od), f"\n{sp}\n{od}"
    big = sp[sp.bucket_len == MAX_BUCKET].iloc[0]
    assert big.truncated_tokens == 100
    assert big.used_tokens == MAX_BUCKET
    assert big.waste_frac == 0.0  # a truncated doc fills its class
