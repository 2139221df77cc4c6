"""Streaming ingest: micro-batches fold into segments; restart-safe."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from xltsearch_spark.catalog import IndexCatalog
from xltsearch_spark.config import IndexConfig
from xltsearch_spark.sources.corpus import generate_corpus
from xltsearch_spark.streaming import stream_corpus_into_index

CFG = IndexConfig(doc_range_size=16, block_size=8, term_buckets=8)


def _write(df, path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def test_stream_ingest_appends_segments(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    cat = IndexCatalog(spark, wh, CFG)

    v1 = generate_corpus(48)
    _write(v1, str(src / "batch1.parquet"))
    stream_corpus_into_index(spark, cat, str(src), ckpt)
    assert cat.load_stats().n_docs == 48
    eng = cat.engine()
    assert eng.search_scores("needle_7", 5).count() == 1

    # second drop: 8 brand-new docs + 1 modified existing doc
    v2 = generate_corpus(56).iloc[48 - 56:].copy()  # rows not in v1 keyspace? use fresh keys
    v2 = v2.assign(path="stream/" + v2["path"])
    mod = v1.iloc[[0]].copy()
    mod["content"] = mod["content"] + " streamed_marker"
    import pandas as pd
    _write(pd.concat([v2, mod], ignore_index=True), str(src / "batch2.parquet"))
    stream_corpus_into_index(spark, cat, str(src), ckpt)

    meta = cat.read_meta()
    assert len(meta["segments"]) >= 2
    assert meta.get("n_tombstones", 0) == 1  # the modified doc's old id
    assert cat.tombstones_df(meta).count() == 1  # persisted parquet, not driver state
    eng = cat.engine()
    # appended docs searchable; absent docs NOT deleted (append semantics)
    assert eng.search_scores("streamed_marker", 5).count() == 1
    assert eng.search_scores("needle_7", 5).count() == 1
    assert eng.docs.count() == 48 + 8 + 1 - 1  # 48 live + 8 new + replace


# ---------------- event-stream analytics (watermark + stateful) ----------------

def _event_rows(spec):
    """spec: [(event_id, minutes_offset, user_id, type, value)] -> pandas."""
    import pandas as pd
    base = pd.Timestamp("2024-01-01 00:00:00")
    return pd.DataFrame({
        "event_id": [e[0] for e in spec],
        # micros, not pandas-default nanos: Spark's TimestampType is µs
        "ts": pd.Series([base + pd.Timedelta(minutes=e[1]) for e in spec],
                        dtype="datetime64[us]"),
        "user_id": [e[2] for e in spec],
        "event_type": [e[3] for e in spec],
        "value": [float(e[4]) for e in spec],
        "props": ["{}" for _ in spec],
    })


def test_stream_windowed_rollup_matches_batch(spark, tmp_path):
    from xltsearch_spark.operators.events import windowed_rollup
    from xltsearch_spark.streaming.rollup import stream_windowed_rollup
    src = tmp_path / "ev"
    src.mkdir()
    rows = _event_rows([
        (0, 1, 1, "click", 1.5), (1, 3, 2, "view", 2.0), (2, 12, 1, "click", 3.0),
        (3, 14, 3, "error", 0.5), (4, 25, 1, "view", 4.0), (5, 26, 2, "click", 1.0),
    ])
    _write(rows.iloc[:4], str(src / "drop1.parquet"))
    _write(rows.iloc[4:], str(src / "drop2.parquet"))
    stream_windowed_rollup(spark, str(src), str(tmp_path / "ck1"),
                           sink_table="rollup_t", output_mode="complete")
    got = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in spark.sql("SELECT * FROM rollup_t").collect()}
    exp = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in windowed_rollup(spark.createDataFrame(rows)).collect()}
    assert got == exp and len(got) == 6


def test_stream_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch close on gap, plus
    event-time-timeout close once the watermark passes last event + gap."""
    from xltsearch_spark.streaming.rollup import stream_sessionize
    src = tmp_path / "ev2"
    src.mkdir()
    base_us = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
    # user 1: two sessions (0, 5 min) and (120, 125 min); user 2: one event
    drop1 = _event_rows([
        (0, 0, 1, "click", 1.0), (1, 5, 1, "view", 1.0),
        (2, 120, 1, "click", 1.0), (3, 125, 1, "view", 1.0),
        (4, 10, 2, "click", 1.0),
    ])
    _write(drop1, str(src / "d1.parquet"))
    out = str(tmp_path / "sessions_out")
    stream_sessionize(spark, str(src), str(tmp_path / "ck2"), out,
                      gap_minutes=30, watermark="1 minute")
    got1 = sorted((r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
                  for r in spark.read.parquet(out).collect())
    # user 1's FIRST session closes in-batch (gap to the 120-min event);
    # user 2's closes via event-time TIMEOUT in the drain's final batch
    # (watermark reached 124 min > last(10) + gap(30)); user 1's second
    # session (last=125, timeout 155) stays open in state
    assert got1 == [(1, base_us, base_us + 5 * 60_000_000, 2),
                    (2, base_us + 10 * 60_000_000, base_us + 10 * 60_000_000, 1)]

    # drop 2: a far-future event for user 3 advances the watermark past
    # user 1's (last + gap) -> the open session times out and emits;
    # user 3's own session stays open
    _write(_event_rows([(5, 360, 3, "click", 1.0)]), str(src / "d2.parquet"))
    stream_sessionize(spark, str(src), str(tmp_path / "ck2"), out,
                      gap_minutes=30, watermark="1 minute")
    got2 = sorted((r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
                  for r in spark.read.parquet(out).collect())
    # cumulative (file sink appends): drain-1 sessions + user 1's second
    # session, now closed by the advanced watermark
    assert got2 == sorted(got1 + [
        (1, base_us + 120 * 60_000_000, base_us + 125 * 60_000_000, 2),
    ])


def test_batch_sessionize_matches_oracle_shape(spark):
    """Batch gaps-and-islands: hand-checked session stats."""
    from xltsearch_spark.operators.events import sessionize
    rows = _event_rows([
        (0, 0, 7, "a", 1), (1, 10, 7, "a", 1), (2, 100, 7, "a", 1),
        (3, 0, 8, "b", 1),
    ])
    got = {r["user_id"]: (r["n_sessions"], r["n_events"], r["max_session_events"],
                          r["total_dur_us"])
           for r in sessionize(spark.createDataFrame(rows), gap_minutes=30).collect()}
    assert got[7] == (2, 3, 2, 10 * 60_000_000)  # sessions: [0,10], [100]
    assert got[8] == (1, 1, 1, 0)


def test_materialize_once_passes_streaming_frames_through(spark):
    from xltsearch_spark.operators._parallel import materialize_once
    stream = spark.readStream.format("rate").load()
    assert materialize_once(stream) is stream
