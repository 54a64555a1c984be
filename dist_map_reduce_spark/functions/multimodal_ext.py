"""Extended multimodal operators."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.multimodal import as_multimodal
from dist_map_reduce_spark.registry import query


# Frame-sampling parameters: K fixed-stride windows of FRAME_LEN
# bytes per payload (the video-decode shape: one input row → K
# output rows).
_N_FRAMES = 4
_FRAME_LEN = 64


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, strlen(text) AS n_bytes,
             unnest(CASE WHEN strlen(text) <= {_FRAME_LEN}
                    THEN [0]
                    ELSE [CAST(floor(i * (strlen(text) - {_FRAME_LEN})
                               / {_N_FRAMES - 1}.0) AS BIGINT)
                          FOR i IN generate_series(0, {_N_FRAMES - 1})]
                    END) AS frame_off
      FROM documents
    )
    SELECT f.doc_id,
           CAST(row_number() OVER (
             PARTITION BY f.doc_id ORDER BY frame_off) - 1 AS BIGINT)
             AS frame_idx,
           frame_off,
           md5(substring(d.text, CAST(frame_off + 1 AS INT), {_FRAME_LEN}))
             AS frame_md5
    FROM frames f JOIN documents d USING (doc_id)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: K fixed-stride byte
    windows per payload, extracted in an Arrow-batched mapInPandas
    operator that emits ONE-TO-MANY rows (the shape of a real video
    frame sampler / audio chunker). Offsets are deterministic, so
    each frame's md5 is oracle-checked end to end.

    Scale: narrow mapInPandas over the scan — no shuffle; output is
    K× the input row count but only FRAME_LEN bytes per row.
    """
    mm = as_multimodal(load_table(spark, sf_dir, "documents"))

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        K, L = _N_FRAMES, _FRAME_LEN
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_off": [], "frame_md5": []
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                n = len(blob)
                if n <= L:
                    offs = [0]
                else:
                    offs = sorted(
                        int(i * (n - L) // (K - 1)) for i in range(K)
                    )
                for idx, off in enumerate(offs):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_off"].append(off)
                    out["frame_md5"].append(
                        hashlib.md5(blob[off : off + L]).hexdigest()
                    )
            yield _pd.DataFrame(out)

    return mm.select("doc_id", "payload").mapInPandas(
        sample_frames,
        schema="doc_id long, frame_idx long, frame_off long, frame_md5 string",
    )
