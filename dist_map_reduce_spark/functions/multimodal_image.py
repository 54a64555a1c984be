"""Real image decode through the multimodal mapInPandas path.

The sibling of ``multimodal_audio.py`` for the image modality:
binary PPM (P6) needs no codec — the header is three ASCII tokens
and the body is raw RGB — so the decode leg is REAL end-to-end:

1. synthesize a deterministic P6 payload per document (dimensions
   and channel gradients arithmetic in doc_id) inside an
   Arrow-batched ``mapInPandas`` — bytes built executor-side;
2. decode each payload (header parse + numpy reshape, the same
   logic as ``multimodal.decode_image``) in a second ``mapInPandas``
   and emit dimensions + per-channel means computed from the
   decoded pixel array.

The oracle recomputes every feature in closed form from doc_id:
gradients are chosen to never wrap mod 256, so channel sums are
exact integers and the means are exactly-representable doubles
(integer or half-integer) — a mangled header, stride, or channel
order would hash-mismatch. Rounding never enters.

Scale shape: two chained mapInPandas stages over a pruned doc_id
scan, zero shuffles — the canonical decode/feature-extract pipeline
shape (same as the audio path). Compressed formats (PNG/JPEG) still
require a codec this container lacks; their pipeline drops into the
same two-stage shape with the codec call swapped in.

Both UDFs are local closures (cloudpickle-by-value executor
contract); ``multimodal.decode_image`` exposes the same PPM decode
for direct use and unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

IMAGE_PAYLOAD_SCHEMA = "doc_id long, payload binary"
IMAGE_FEATURE_SCHEMA = (
    "doc_id long, height int, width int,"
    " mean_r double, mean_g double, mean_b double"
)


def _make_synth():
    """Factory for the deterministic P6 synthesizer shared by the
    features and resize queries (both oracles are closed forms of
    THESE gradients — one definition, no drift). Returns a NESTED
    function so capturing UDF closures keep the cloudpickle-by-value
    executor contract: a module-level function would pickle by
    reference and demand this package importable on every executor."""

    def synth(doc_id: int) -> bytes:
        # x/y gradients chosen to never wrap mod 256, so channel
        # means/box-means have exact closed forms
        import numpy as np

        w = 16 + (doc_id % 8) * 4
        h = 12 + (doc_id % 5) * 4
        x = np.arange(w, dtype=np.uint16)
        y = np.arange(h, dtype=np.uint16)
        img = np.empty((h, w, 3), dtype=np.uint8)
        img[:, :, 0] = (3 * x + doc_id % 100)[None, :]
        img[:, :, 1] = (5 * y + doc_id % 50)[:, None]
        img[:, :, 2] = doc_id % 256
        return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()

    return synth


def _make_p6_decode():
    """Factory for the bounds-guarded P6 decoder (header parse +
    numpy reshape — the logic of ``multimodal.decode_image``),
    nested for the same pickle-by-value reason as ``_make_synth``.
    Every header loop is bounds-guarded so a truncated/malformed
    blob raises instead of spinning executor-side; ValueError, not
    assert, survives ``python -O``."""

    def decode(blob: bytes):
        import numpy as np

        if not blob.startswith(b"P6"):
            raise ValueError("not a P6 PPM payload")
        n_blob = len(blob)
        tokens, i = [], 2
        while len(tokens) < 3:
            while i < n_blob and blob[i : i + 1].isspace():
                i += 1
            if i >= n_blob:
                raise ValueError("truncated PPM header")
            if blob[i : i + 1] == b"#":
                while i < n_blob and blob[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < n_blob and not blob[j : j + 1].isspace():
                j += 1
            tokens.append(blob[i:j])
            i = j
        if i >= n_blob:
            raise ValueError("truncated PPM header")
        i += 1
        w, h, _maxval = (int(t) for t in tokens)
        return np.frombuffer(
            blob, dtype=np.uint8, count=h * w * 3, offset=i
        ).reshape(h, w, 3)

    return decode


def _synth_udf(synth):
    """The shared payload-synthesis mapInPandas generator, built
    around a by-value-picklable ``synth``."""

    def synth_ppm_batches(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(synth)}
            )

    return synth_ppm_batches


@query(
    "multimodal_image_features",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             16 + (doc_id % 8) * 4 AS w,
             12 + (doc_id % 5) * 4 AS h
      FROM documents WHERE doc_id % 4 = 1
    )
    SELECT doc_id,
           h AS height,
           w AS width,
           3 * (w - 1) / 2.0 + doc_id % 100 AS mean_r,
           5 * (h - 1) / 2.0 + doc_id % 50 AS mean_g,
           CAST(doc_id % 256 AS DOUBLE) AS mean_b
    FROM params
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize-then-decode PPM features over the documents table
    (every 4th doc, offset 1 — disjoint from the audio subset): the
    Spark side round-trips real P6 bytes through encode → decode →
    pixel statistics; the oracle recomputes the same features in
    closed form from doc_id."""

    synth_ppm_batches = _synth_udf(_make_synth())
    decode = _make_p6_decode()

    def decode_ppm_batches(pdf_iter):
        # real decode via the shared bounds-guarded parser; int64
        # channel sums are exact, means are exact doubles
        import numpy as np
        import pandas as pd

        def feats(blob: bytes):
            px = decode(blob).astype(np.int64)
            h, w = px.shape[0], px.shape[1]
            n = h * w
            return (
                h,
                w,
                float(px[:, :, 0].sum()) / n,
                float(px[:, :, 1].sum()) / n,
                float(px[:, :, 2].sum()) / n,
            )

        for pdf in pdf_iter:
            cols = list(zip(*pdf["payload"].map(feats)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "height": pd.Series(cols[0], dtype="int32"),
                    "width": pd.Series(cols[1], dtype="int32"),
                    "mean_r": cols[2],
                    "mean_g": cols[3],
                    "mean_b": cols[4],
                }
            )

    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 4 == 1)
    )
    ppms = ids.mapInPandas(synth_ppm_batches, IMAGE_PAYLOAD_SCHEMA)
    return ppms.mapInPandas(decode_ppm_batches, IMAGE_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Real image RESIZE through the same two-stage pipeline.
# The brief's multimodal op list is decode / feature-extract / RESIZE
# / frame-sample; this adds the resize leg with the same no-codec
# realism: box-average downsampling (the standard area-interpolation
# kernel, cv2.INTER_AREA / PIL BOX) implemented as a numpy blocked
# mean — REAL pixel arithmetic, not a stub. Factor 4 divides every
# synthesized dimension (w ∈ {16..44 step 4}, h ∈ {12..28 step 4}).
#
# Oracle discipline: box sums are 16 uint8 values, so every resized pixel
# is an exact multiple of 1/16 — every emitted feature is an
# exactly-representable double with a closed form in doc_id. The
# corner/edge pixel probes discriminate stride, block geometry and
# off-by-one errors (a transposed reshape or wrong block axis moves
# them), and mean_r doubles as the box-filter mean-preservation
# invariant (global mean is unchanged by area averaging).
# ---------------------------------------------------------------------------

RESIZE_FACTOR = 4
IMAGE_RESIZE_SCHEMA = (
    "doc_id long, rheight int, rwidth int,"
    " r00 double, g_bottom double, b_const double, mean_r double"
)


def box_downsample(px, fy: int, fx: int):
    """Area-average downsample of an (h, w, c) array by integer
    factors — dims must divide exactly; float64 output (each value a
    multiple of 1/(fy·fx), exact for uint8 input). Reference form of
    the kernel (unit/property-tested); the resize UDF inlines the
    same reshape-mean to preserve the pickle-by-value contract."""
    import numpy as np

    h, w, c = px.shape
    if h % fy or w % fx:
        raise ValueError(f"dims ({h},{w}) not divisible by ({fy},{fx})")
    return (
        px.astype(np.float64)
        .reshape(h // fy, fy, w // fx, fx, c)
        .mean(axis=(1, 3))
    )


@query(
    "multimodal_image_resize",
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             16 + (doc_id % 8) * 4 AS w,
             12 + (doc_id % 5) * 4 AS h
      FROM documents WHERE doc_id % 4 = 1
    )
    SELECT doc_id,
           CAST(h // {RESIZE_FACTOR} AS INT) AS rheight,
           CAST(w // {RESIZE_FACTOR} AS INT) AS rwidth,
           4.5 + doc_id % 100 AS r00,
           20.0 * (h // {RESIZE_FACTOR} - 1) + 7.5 + doc_id % 50
             AS g_bottom,
           CAST(doc_id % 256 AS DOUBLE) AS b_const,
           1.5 * w - 1.5 + doc_id % 100 AS mean_r
    FROM params
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize → decode → box-average resize (factor 4) over the
    image subset; emits resized dims, three pixel probes (resized
    top-left red, bottom-left green, constant blue) and the global
    red mean (invariant under area averaging). Zero shuffles — the
    decode/transform pipeline shape of the brief's resize op."""

    synth_ppm_batches = _synth_udf(_make_synth())
    decode = _make_p6_decode()

    def resize_batches(pdf_iter):
        import numpy as np
        import pandas as pd

        f = RESIZE_FACTOR

        def feats(blob: bytes):
            px = decode(blob)
            h, w = px.shape[0], px.shape[1]
            if h % f or w % f:
                raise ValueError(f"dims ({h},{w}) not divisible by {f}")
            rh, rw = h // f, w // f
            # the REAL blocked-mean resize — box_downsample's kernel
            # inlined (a module-level call would pickle by reference
            # and break the by-value executor contract)
            small = (
                px.astype(np.float64)
                .reshape(rh, f, rw, f, 3)
                .mean(axis=(1, 3))
            )
            return (
                rh,
                rw,
                float(small[0, 0, 0]),
                float(small[rh - 1, 0, 1]),
                float(small[0, 0, 2]),
                float(small[:, :, 0].mean()),
            )

        for pdf in pdf_iter:
            cols = list(zip(*pdf["payload"].map(feats)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "rheight": pd.Series(cols[0], dtype="int32"),
                    "rwidth": pd.Series(cols[1], dtype="int32"),
                    "r00": cols[2],
                    "g_bottom": cols[3],
                    "b_const": cols[4],
                    "mean_r": cols[5],
                }
            )

    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 4 == 1)
    )
    ppms = ids.mapInPandas(synth_ppm_batches, IMAGE_PAYLOAD_SCHEMA)
    return ppms.mapInPandas(resize_batches, IMAGE_RESIZE_SCHEMA)
