"""Streaming ingestion + incremental clustering equivalence."""

import os

import pytest
from pyspark.sql import functions as F

from ccer.operators.features import extract_features
from ccer.plans.pipeline import LAZY_STAGES, PipelineConfig, er_chain
from ccer.sources.pages import synthesize_pages
from ccer.streaming.ingest import incremental_update, stream_ingest


@pytest.mark.parametrize(
    "cfg",
    [
        PipelineConfig(),
        PipelineConfig(minhash_bands=16, hamming_prefilter=8, host_hamming_prefilter=4),
    ],
    ids=["default", "bands16_prefilter8"],
)
def test_incremental_equals_batch(spark, cfg):
    pages = synthesize_pages(spark, 300, seed=42, with_labels=False).cache()
    pages.count()
    # batch reference run: the one ER chain under the same config
    batch_clusters = er_chain(pages, cfg, LAZY_STAGES)
    batch_map = {r["rid"]: r["cluster_id"] for r in batch_clusters.collect()}

    # two-increment run over the same rows (split by hash for stability);
    # the second increment is handed only the first's features and
    # components
    p1 = pages.filter(F.xxhash64("url") % 2 == 0)
    p2 = pages.subtract(p1)
    f1, _, c1, _, _ = incremental_update(spark, None, None, p1, cfg)
    f1 = f1.localCheckpoint(eager=True)
    c1 = c1.localCheckpoint(eager=True)
    f2, pairs, _, inc_clusters, edges = incremental_update(spark, f1, c1, p2, cfg)
    inc_map = {r["rid"]: r["cluster_id"] for r in inc_clusters.collect()}
    assert inc_map == batch_map
    # the delta's clusters are er_chain's clusters table, not features rows
    assert inc_clusters.columns == batch_clusters.columns
    assert f2.columns == extract_features(pages, **cfg.features_args()).columns
    # the delta's own pairs and edges each touch a new record
    new_ids = {r["id"] for r in f2.join(f1, "id", "left_anti").select("id").collect()}
    for frame in (pairs, edges):
        rows = frame.select("id_a", "id_b").collect()
        assert rows and all(r["id_a"] in new_ids or r["id_b"] in new_ids for r in rows)
    pages.unpersist()


def test_stream_ingest_foreachbatch(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    workdir = str(tmp_path / "wd")
    pages = synthesize_pages(spark, 120, seed=42, with_labels=False)
    pages.write.mode("overwrite").parquet(input_dir)
    q = stream_ingest(spark, input_dir, workdir, trigger_once=True)
    q.awaitTermination(120)
    out = spark.read.parquet(os.path.join(workdir, "features_stream"))
    assert out.count() == 120
    assert "bands" in out.columns and "batch_id" in out.columns
    assert "sig" not in out.columns
    # features identical to the batch kernel (byte-identical invariant)
    batch = extract_features(pages)
    a = {r["rid"]: r["text_norm_hash"] for r in out.collect()}
    b = {r["rid"]: r["text_norm_hash"] for r in batch.collect()}
    assert a == b

    # the stream featurizes under the batch pipeline's config: at a
    # non-default banding its rows are that config's features rows
    cfg = PipelineConfig(minhash_bands=16)
    workdir16 = str(tmp_path / "wd16")
    q = stream_ingest(spark, input_dir, workdir16, trigger_once=True, config=cfg)
    q.awaitTermination(120)
    out16 = spark.read.parquet(os.path.join(workdir16, "features_stream")).drop("batch_id")
    assert {r[0] for r in out16.select(F.size("bands")).distinct().collect()} == {16}
    want16 = extract_features(pages, **cfg.features_args())
    assert out16.exceptAll(want16).count() == 0
    assert want16.exceptAll(out16).count() == 0


def _write_events(spark, src_dir, name, rows):
    """Land one parquet FILE (not a directory) in the stream's source dir
    — the file source lists flat files, and distinct names give a stable
    oldest-first processing order."""
    import glob
    import shutil

    tmp = os.path.join(src_dir, "_tmp_" + name)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    os.makedirs(src_dir, exist_ok=True)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dest = os.path.join(src_dir, name + ".parquet")
    shutil.move(part, dest)
    shutil.rmtree(tmp)
    # the file source orders new files by mtime: make arrival order
    # explicit (sub-second writes would otherwise tie)
    _write_events.seq += 1
    t = 1_700_000_000 + _write_events.seq
    os.utime(dest, (t, t))


_write_events.seq = 0


def _run_stream(spark, src_dir, schema, build, sink_name, ckpt):
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {sink_name}")


EVENT_DDL = "event_id long, ts timestamp, user_id long, event_type string, value double"


def test_windowed_counts_stream_equals_batch_and_drops_late(spark, tmp_path):
    """Watermarked tumbling-window agg over a file stream: on-time rows
    aggregate identically to the batch code path (same function), and a
    row arriving later than the watermark delay is DROPPED, not merged
    into its already-finalized window.

    Spark applies the late-event filter with the PREVIOUS batch's
    watermark (two-phase watermark, SPARK-24634: eviction uses the
    current value, late-row filtering lags one batch) — hence three
    files: f1 advances event time past the target window, f2 lets that
    watermark become the late-filter bound, f3 carries the late row."""
    from datetime import datetime, timezone

    from ccer.streaming.windows import windowed_event_counts

    def t(h, m=0):
        return datetime(2024, 1, 1, h, m, tzinfo=timezone.utc)

    src = str(tmp_path / "ev")
    on_time = [
        (1, t(0, 10), 1, "click", 1.0),
        (2, t(0, 40), 1, "click", 2.0),
        (3, t(1, 10), 2, "view", 3.0),
    ]
    mid = [(4, t(2, 0), 2, "mid", 4.0)]
    # batch 2's late-filter watermark = 01:10 - 5 min = 01:05, strictly
    # past the click window's end (01:00): event 5 must be dropped, and
    # the flush row advances eviction so every on-time window finalizes
    late_and_flush = [
        (5, t(0, 20), 1, "click", 100.0),
        (6, t(8, 0), 3, "flush", 0.0),
    ]
    _write_events(spark, src, "f1", on_time)
    _write_events(spark, src, "f2", mid)
    _write_events(spark, src, "f3", late_and_flush)
    out = _run_stream(
        spark,
        src,
        EVENT_DDL,
        lambda s: windowed_event_counts(s, "1 hour", watermark="5 minutes"),
        "win_sink",
        str(tmp_path / "ck2"),
    )
    rows = out.collect()
    got = {
        (r["event_type"], r["window_start"]): (r["n_events"], r["total_value"])
        for r in rows
    }
    # the click window emitted EXACTLY once, with only the on-time rows
    assert got[("click", 1704067200)] == (2, 3.0)
    assert sum(1 for r in rows if r["event_type"] == "click") == 1
    assert got[("view", 1704070800)] == (1, 3.0)
    assert got[("mid", 1704074400)] == (1, 4.0)
    # batch twin on the on-time rows agrees (single code path)
    batch = spark.createDataFrame(on_time + mid, EVENT_DDL)
    bg = {
        (r["event_type"], r["window_start"]): (r["n_events"], r["total_value"])
        for r in windowed_event_counts(batch, "1 hour").collect()
    }
    for k, v in bg.items():
        assert got[k] == v


def test_sessionize_stateful_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions across
    micro-batches equal the batch lag+cumsum sessionization (the
    driver-query oracle logic) on the same rows."""
    from datetime import datetime, timedelta, timezone

    from ccer.streaming.windows import sessionize_stateful

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def ev(eid, mins, uid, typ, val):
        return (eid, base + timedelta(minutes=mins), uid, typ, val)

    # file split is time-ordered so no real row falls behind the
    # watermark: f1 holds minutes 0-20, f2 minutes 35-85.
    # user 1: two sessions (60-min gap between minute 10 and 70);
    # user 2: one session spanning both files (gaps of 15 min).
    f1 = [ev(0, 0, 1, "click", 1.5), ev(1, 10, 1, "click", 1.5),
          ev(5, 5, 2, "view", 2.0), ev(6, 20, 2, "view", 2.0)]
    f2 = [ev(2, 70, 1, "click", 1.5), ev(3, 80, 1, "click", 1.5),
          ev(4, 85, 1, "click", 1.5), ev(7, 35, 2, "view", 2.0)]
    src = str(tmp_path / "sess")
    _write_events(spark, src, "f1", f1)
    _write_events(spark, src, "f2", f2)
    # sentinel far in the future: advances the watermark past every real
    # session's (end + gap) deadline so the event-time timeouts fire
    _write_events(
        spark, src, "f3", [(99, base + timedelta(days=2), 999, "flush", 0.0)]
    )
    out = _run_stream(
        spark,
        src,
        EVENT_DDL,
        lambda s: sessionize_stateful(s, gap_sec=1800, watermark="10 minutes"),
        "sess_sink",
        str(tmp_path / "ck_sess"),
    )
    got = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["session_value"],
        )
        for r in out.filter(F.col("user_id") != 999).collect()
    }
    b = int(base.timestamp())
    assert got == {
        (1, b): (b + 600, 2, 3.0),
        (1, b + 4200): (b + 5100, 3, 4.5),
        (2, b + 300): (b + 2100, 3, 6.0),
    }
