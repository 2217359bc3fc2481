"""The benchmark's workloads: fixed, ordered subsets of the query registry.

Each workload is a closed loop with one client that issues its queries
back to back in this order. Every name must be a registered query with a
DuckDB oracle; ``run.py`` refuses to start otherwise.

Two workloads, because every run pays cold session set-ups and an oracle
warm-up pass (about 35 s on a contended 4-core VM) and a regression check
repeats every workload some twenty times within an hour: a third workload
would leave no room for a steady timed window.
Each exercises a mechanism the other bypasses: micro-batch streaming on
the JVM versus mapInPandas decoding in Python workers.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # writeStream twins of the reference's real-time apps: unique visitors
    # through applyInPandasWithState keyed state (dwm/UniqueVisitApp), a
    # watermarked stream-stream interval join (dwm/PaymentWideApp) and
    # session windows. Almost all of the time is per-trigger micro-batch
    # cost (state store, WAL, offsets) inside the query's build. The other
    # joins (as-of, salted, left-outer) cost up to five times a kept query
    # and repeat the interval join's state mechanism.
    "stream_replay": (
        "st1_stream_daily_uv",
        "st3_stream_interval_join",
        "st5_stream_session_window",
    ),
    # One query per decoder family (columnar, audio, row container, web
    # archive, image, compressed archive, lakehouse table), the costliest
    # of each: the action is mapInPandas decoding, so the Python boundary
    # and per-row Python work dominate.
    "blob_decode": (
        "multimodal_orc_double",
        "multimodal_flac_frames",
        "multimodal_avro_container",
        "multimodal_warc_zstd",
        "multimodal_jpeg_420",
        "multimodal_png_adam7",
        "multimodal_xz_archive",
        "lakehouse_delta_scan",
    ),
}
