"""Structured Streaming over the events table: file source +
availableNow trigger + windowed agg; batch/stream result unification."""

from osm_read_enhanced_spark.streaming.events import (
    read_events_stream,
    run_stream_to_memory,
    sessionize,
    windowed_counts,
)


def test_windowed_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    import shutil

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_counts(batch).collect()
    }
    # the file stream source requires a directory
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-000.parquet")
    stream = read_events_stream(spark, str(stream_dir))
    assert stream.isStreaming
    run_stream_to_memory(windowed_counts(stream), "win_counts")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expected


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 10),
        (2, base + dt.timedelta(minutes=10), 10),   # same session
        (3, base + dt.timedelta(minutes=50), 10),   # gap > 30m → new session
        (4, base + dt.timedelta(minutes=55), 10),
        (5, base, 20),                              # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = sessionize(df, gap_minutes=30).collect()
    sess = {r.event_id: r.session_id for r in out}
    assert sess[1] == sess[2] == 1
    assert sess[3] == sess[4] == 2
    assert sess[5] == 1


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState custom stateful sessionizer: sessions
    closed by a later-arriving gap event must equal the batch lag/cumsum
    sessionization's non-final sessions (the final session per user
    stays open in state — a bounded availableNow run has no watermark
    advance past it)."""
    import datetime as dt

    from osm_read_enhanced_spark.streaming.events import (
        closed_sessions_batch,
        read_events_stream,
        sessionize_stateful,
    )

    t0 = dt.datetime(2025, 1, 1, 8, 0, 0)

    def ev(eid, minutes, user):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "click", 1.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # batch 1: session A (user 1: 3 events), session B (user 2: 2 events)
    b1 = [ev(1, 0, 1), ev(2, 5, 1), ev(3, 11, 1), ev(4, 2, 2), ev(5, 9, 2)]
    # batch 2: >30-min gaps close A and B; user 1 also opens + closes a
    # second session (C) before a final open one
    b2 = [ev(6, 60, 1), ev(7, 66, 1), ev(8, 120, 1), ev(9, 75, 2)]
    d = tmp_path / "sess_stream"
    d.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(d / "f2"))
    import shutil

    import os
    import time

    flat = tmp_path / "flat"
    flat.mkdir()
    now = time.time()
    for i, sub in enumerate(["f1", "f2"]):
        for f in (d / sub).glob("*.parquet"):
            dest = flat / f"batch-{i}.parquet"
            shutil.copy(f, dest)
            # the file stream source orders micro-batches by modification
            # time — pin it so batch-0 is processed first
            os.utime(dest, (now - 100 + i * 50, now - 100 + i * 50))

    stream = read_events_stream(spark, str(flat), max_files_per_trigger=1)
    out = sessionize_stateful(stream, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM closed_sessions").collect()
    }
    all_events = spark.createDataFrame(b1 + b2, schema)
    batch_sessions = closed_sessions_batch(all_events, gap_minutes=30).collect()
    # drop each user's final (still-open) session from the expectation
    finals = {}
    for r in batch_sessions:
        if r.user_id not in finals or r.session_start > finals[r.user_id].session_start:
            finals[r.user_id] = r
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch_sessions
        if (r.session_start, r.user_id) != (finals[r.user_id].session_start, r.user_id)
    }
    assert expected  # sanity: the fixture must close some sessions
    assert got >= expected
    # nothing emitted that the batch oracle doesn't recognise as a session
    all_sessions = {
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in batch_sessions
    }
    assert got <= all_sessions


def test_progress_ticker_listener(spark, sf_dir, tmp_path):
    """StreamingQueryListener progress capture (the reference's progress
    ticker analogue, Core_Read.js:389-411)."""
    import shutil
    import time

    from osm_read_enhanced_spark.streaming.events import ProgressTicker

    stream_dir = tmp_path / "tick_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-000.parquet")
    ticker = ProgressTicker().attach(spark)
    try:
        stream = read_events_stream(spark, str(stream_dir))
        run_stream_to_memory(windowed_counts(stream), "ticked_counts")
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline and not any(
            name == "ticked_counts" and rows > 0
            for name, _, rows in ticker.records
        ):
            time.sleep(0.5)
        assert any(
            name == "ticked_counts" and rows > 0
            for name, _, rows in ticker.records
        ), ticker.records
    finally:
        ticker.detach(spark)


IMAGE_SCHEMA = "image_id string, phash long"


def _image_stream_flags(spark, tmp_path, name, batches, **kw):
    """Run ``image_neardup_stream`` with one micro-batch per entry of
    ``batches`` → {image_id: (is_dup, dup_of, hamming)} from best_match
    over its band rows."""
    import os
    import shutil
    import time

    from osm_read_enhanced_spark.operators.dedup import best_match
    from osm_read_enhanced_spark.streaming.images import image_neardup_stream

    d = tmp_path / name
    d.mkdir()
    now = time.time()
    for i, chunk in enumerate(batches):
        tmp = tmp_path / f"{name}_w{i}"
        spark.createDataFrame(chunk, IMAGE_SCHEMA).coalesce(1).write.parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            dest = d / f"batch-{i}.parquet"
            shutil.copy(f, dest)
            os.utime(dest, (now - 100 + i * 30, now - 100 + i * 30))
    stream = (
        spark.readStream.schema(IMAGE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    q = (
        image_neardup_stream(stream, **kw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    flags = best_match(
        spark.sql(f"SELECT * FROM {name}"), "image_id", "matched_id", "hamming", False
    )
    return {r.image_id: (r.is_dup, r.dup_of, r.hamming) for r in flags.collect()}


def _image_pair_flags(spark, rows, max_hamming=6):
    """Best earlier match over image_neardup_pairs (the q51 rule) →
    {image_id: (is_dup, dup_of, hamming)}: the batch JVM answer."""
    from osm_read_enhanced_spark.operators.dedup import best_match
    from osm_read_enhanced_spark.operators.multimodal import image_neardup_pairs

    imgs = spark.createDataFrame(rows, IMAGE_SCHEMA)
    pairs = image_neardup_pairs(imgs, max_hamming).selectExpr(
        "image_b AS image_id", "image_a AS matched_id", "hamming"
    )
    flags = best_match(
        imgs.select("image_id").join(pairs, "image_id", "left"),
        "image_id", "matched_id", "hamming", False,
    )
    return {r.image_id: (r.is_dup, r.dup_of, r.hamming) for r in flags.collect()}


def test_streaming_image_neardup_matches_history_bruteforce(spark, tmp_path):
    """Stateful banded near-dup over a 3-micro-batch image stream must
    flag exactly the images with an EARLIER image within hamming ≤ 6
    (clean-room numpy expectation), with the true min hamming and the
    best match of the banded pair join."""
    from osm_read_enhanced_spark.functions.codecs import phash64
    from osm_read_enhanced_spark.sources.images import render_image, variant_image

    ph = {}
    for idx in range(36):
        ph[f"img_{idx:04d}"] = phash64(render_image(idx))
        if idx % 3 == 0:
            ph[f"var_{idx:04d}"] = phash64(variant_image(idx))
    ids = sorted(ph)
    # clean-room expectation: min hamming vs all EARLIER (smaller-id) images
    expect = {}
    for i, a in enumerate(ids):
        if i == 0:
            expect[a] = (False, None)
            continue
        dists = [bin((ph[a] ^ ph[b]) & (2**64 - 1)).count("1") for b in ids[:i]]
        m = min(dists)
        expect[a] = (m <= 6, m if m <= 6 else None)

    rows = [(i, ph[i]) for i in ids]
    got = _image_stream_flags(
        spark, tmp_path, "img_neardup_bands", [rows[:16], rows[16:32], rows[32:]],
        max_hamming=6,
    )
    assert {k: (v[0], v[2]) for k, v in got.items()} == expect
    assert sum(1 for v in got.values() if v[0]) >= 10  # the planted variants

    # the batch answer: best earlier match over the banded pHash pair
    # join, an independent JVM implementation
    assert got == _image_pair_flags(spark, rows)


def test_streaming_image_neardup_bounded_state_evicts_oldest(spark, tmp_path):
    """max_state_per_band=1 keeps only the most recent entry per band:
    with identical phashes A→B→C across micro-batches, C must match B —
    unbounded mode would match A (ties go to the first entry), so a
    B-match proves A was evicted."""
    P = 0x123456789ABCDEF
    batches = [[("a", P)], [("b", P)], [("c", P)]]
    got = _image_stream_flags(
        spark, tmp_path, "bounded_neardup", batches, max_hamming=6, max_state_per_band=1
    )
    assert {k: (v[0], v[1]) for k, v in got.items()} == {
        "a": (False, None), "b": (True, "a"), "c": (True, "b")
    }
    # the unbounded reference: best earlier match over the pair join
    bgot = {k: v[1] for k, v in _image_pair_flags(spark, [r for b in batches for r in b]).items()}
    assert bgot == {"a": None, "b": "a", "c": "a"}  # unbounded: ties → first


def test_streaming_image_neardup_radius_zero(spark, tmp_path):
    """max_hamming=0 is one 64-bit band whose key is the whole phash:
    the stream flags exactly the images whose phash equals an EARLIER
    one (1-bit neighbours stay unflagged), including phashes with the
    sign bit set."""
    neg = -0x123456789ABCDEF
    batches = [
        [("a", 7), ("b", neg), ("c", 7 ^ 1)],
        [("d", 7), ("e", neg), ("f", neg ^ (1 << 40))],
        [("g", neg ^ (1 << 40)), ("h", 1 << 62)],
    ]
    got = _image_stream_flags(spark, tmp_path, "radius_zero", batches, max_hamming=0)
    assert got == {
        "a": (False, None, None),
        "b": (False, None, None),
        "c": (False, None, None),
        "d": (True, "a", 0),
        "e": (True, "b", 0),
        "f": (False, None, None),
        "g": (True, "f", 0),
        "h": (False, None, None),
    }
    assert got == _image_pair_flags(spark, [r for b in batches for r in b], 0)
