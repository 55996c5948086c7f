from .ingest import curated_ingest
from .events import (
    dedup_stream_within_watermark, latest_state_stream,
    purchase_click_join_batch,
    purchase_click_join_stream, run_dedup_stream_availablenow,
    run_latest_state_availablenow,
    run_purchase_click_join_availablenow,
    run_session_windows_availablenow, run_windowed_counts_availablenow,
    session_window_stream, sessionize_batch,
    windowed_counts_stream,
)

__all__ = [
    "windowed_counts_stream", "run_windowed_counts_availablenow",
    "session_window_stream", "run_session_windows_availablenow",
    "dedup_stream_within_watermark", "run_dedup_stream_availablenow",
    "latest_state_stream", "run_latest_state_availablenow",
    "sessionize_batch",
    "purchase_click_join_stream", "run_purchase_click_join_availablenow",
    "purchase_click_join_batch", "curated_ingest",
]
