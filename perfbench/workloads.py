"""The benchmark's workloads: which registered queries run, and whether
each pass starts warm or cold.

Every workload is one client in a closed loop: the next query starts
when the previous one has returned, in a per-pass order drawn from the
seed. Both run on the same input (``gen.py``, scale factor 0.01). The
lists are short so that a run, set-up included, ends within about a
minute on 4 cores under a loaded host.
"""

from __future__ import annotations

from typing import NamedTuple


class Workload(NamedTuple):
    queries: tuple[str, ...]
    # cold: drop every cached slot and on-disk engine artifact before
    # each pass, so every pass rebuilds them
    cold: bool


WORKLOADS: dict[str, Workload] = {
    # Short queries in a warm session: each query costs driver overhead
    # (plan construction, catalog lookups, slot hits, job scheduling),
    # not data work. One per kind: word count, scan-aggregate, join,
    # window, session window, and two slot-backed queries whose cached
    # slots are hit, never rebuilt, after set-up.
    "serve_warm": Workload(
        queries=(
            "wordcount",
            "q1_pricing_summary",
            "q3_shipping_priority",
            "window_order_rank",
            "events_session_10m",
            "minhash_band_candidates",
            "similarity_ann_ivf_kmeans_topk",
        ),
        cold=False,
    ),
    # The curation and ingest chain, rebuilt from nothing every pass —
    # the write side beside serve_warm's reads: slot builds (minhash
    # bands), a Python/Arrow UDF (image resize), streaming state
    # and checkpoints (stream-stream join), and sink writes (ORC
    # round trip, CDC merge).
    "curate_cold": Workload(
        queries=(
            "minhash_band_candidates",
            "multimodal_image_resize",
            "streaming_stream_stream_left_join",
            "sink_orc_roundtrip_agg",
            "cdc_merge_upsert_orders",
        ),
        cold=True,
    ),
}
