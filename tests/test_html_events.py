"""HTML boilerplate-strip, embedding near-dup, and windowed-event tests
(batch + Structured Streaming parity)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from pdfparser_spark.textops import dedup, events, html


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=0, text="alpha beta gamma delta epsilon zeta eta theta"),
        Row(doc_id=7, text=""),  # empty main: heuristic picks boilerplate
        Row(doc_id=13, text="x"),
    ]
    return spark.createDataFrame(rows)


def test_html_main_content_picks_article(docs):
    res = {r["doc_id"]: r for r in html.html_main_content(docs).collect()}
    assert res[0]["main_text"] == "alpha beta gamma delta epsilon zeta eta theta"
    # block order: nav=0, ad=1, article=2, footer=3
    assert res[0]["block_idx"] == 2
    assert res[0]["score"] == len(res[0]["main_text"])
    # one winning block per doc
    assert len(res) == 3


def test_html_empty_main_falls_to_ad_block(docs):
    res = {r["doc_id"]: r for r in html.html_main_content(docs).collect()}
    # empty article scores 0; nav/footer are link-penalized negative;
    # the ad div ("AD: BUY NOW offer 0", no links) wins — the classic
    # boilerplate-heuristic failure mode, deterministic and documented.
    assert res[7]["block_idx"] == 1
    assert res[7]["main_text"] == "AD: BUY NOW offer 0"


def test_html_link_penalty_beats_length(spark):
    # The nav block's raw markup is longer than this article text, but the
    # link penalty (3 links x 20) must push nav far below the article; the
    # article must also beat the 19-char ad block.
    d = spark.createDataFrame([Row(doc_id=1, text="twenty-plus characters of body")])
    res = html.html_main_content(d).collect()[0]
    assert res["main_text"] == "twenty-plus characters of body"
    assert res["block_idx"] == 2


def test_embedding_neardup_exact(spark):
    e = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.8, 0.6]),  # cos with 0 = 0.8
            Row(vec_id=2, embedding=[0.0, 1.0]),  # cos with 0 = 0.0
        ]
    )
    got = {(r["vec_a"], r["vec_b"]): r["cos_sim"] for r in dedup.embedding_neardup(e, tau=0.5).collect()}
    assert got == {(0, 1): 0.8, (1, 2): 0.6}


@pytest.fixture(scope="module")
def ev(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(event_id=0, ts=base + dt.timedelta(minutes=10), event_type="click", value=1.0),
        Row(event_id=1, ts=base + dt.timedelta(minutes=50), event_type="click", value=2.0),
        Row(event_id=2, ts=base + dt.timedelta(minutes=70), event_type="click", value=4.0),
        Row(event_id=3, ts=base + dt.timedelta(minutes=10), event_type="view", value=8.0),
    ]
    return spark.createDataFrame(rows)


def test_tumbling_window_batch(ev):
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events.tumbling_window(ev).collect()
    }
    assert got == {
        (0, "click"): (2, 3.0),
        (1, "click"): (1, 4.0),
        (0, "view"): (1, 8.0),
    }


def test_stream_matches_batch(spark, ev, tmp_path):
    path = str(tmp_path / "events_parquet")
    ev.write.parquet(path)
    batch = sorted(map(tuple, events.tumbling_window(spark.read.parquet(path)).collect()))
    stream = sorted(map(tuple, events.stream_tumbling_window(spark, path).collect()))
    assert stream == batch
    assert len(stream) == 3


def test_file_sink_holds_closed_windows(spark, ev, tmp_path):
    """Production sink shape: append-mode parquet sink holds exactly the
    watermark-CLOSED windows (end <= max(ts) - 2h), read back from files."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "events_parquet")
    ev.write.parquet(path)
    out_dir = str(tmp_path / "sink")
    got = sorted(
        map(tuple, events.stream_window_file_sink(spark, path, out_dir).collect())
    )
    # real files landed in the sink dir (executor-written, not driver-resident)
    assert sorted(map(tuple, spark.read.parquet(out_dir + "/data").collect())) == got
    mx = ev.agg(F.max("ts")).first()[0]
    cut = mx - dt.timedelta(hours=2)
    batch = sorted(
        map(
            tuple,
            events.tumbling_window(ev)
            .filter(F.col("window_start") + F.expr("interval 1 hour") <= F.lit(cut))
            .collect(),
        )
    )
    assert got == batch


def test_file_sink_boundary_window_emits(spark, tmp_path):
    """A watermark landing EXACTLY on a window end emits that window
    (boundary is <=) — pins the oracle's HAVING cutoff."""
    rows = [
        Row(event_id=0, user_id=1, event_type="a", value=1.0, ts=dt.datetime(2024, 1, 1, 10, 30)),
        Row(event_id=1, user_id=1, event_type="a", value=1.0, ts=dt.datetime(2024, 1, 1, 11, 30)),
        Row(event_id=2, user_id=1, event_type="a", value=1.0, ts=dt.datetime(2024, 1, 1, 13, 0)),
    ]
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "ev")
    df.repartition(1).write.parquet(path)
    got = events.stream_window_file_sink(spark, path, str(tmp_path / "sink")).collect()
    assert [(r["window_start"], r["n_events"]) for r in got] == [
        (dt.datetime(2024, 1, 1, 10, 0), 1)
    ]


def test_asof_join_semantics(spark):
    """Pins the as-of contract: <= boundary (same-instant click matches),
    latest-preceding pick, equal-ts quote tie -> max event_id, probes with
    no preceding quote dropped."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: clicks at t+0 (ids 10, 11 — tie) and t+5; purchases at t+5 and t+2
        Row(event_id=10, ts=base, user_id=1, event_type="click", value=0.0),
        Row(event_id=11, ts=base, user_id=1, event_type="click", value=0.0),
        Row(event_id=20, ts=base + dt.timedelta(minutes=5), user_id=1, event_type="click", value=0.0),
        Row(event_id=30, ts=base + dt.timedelta(minutes=5), user_id=1, event_type="purchase", value=1.0),
        Row(event_id=31, ts=base + dt.timedelta(minutes=2), user_id=1, event_type="purchase", value=1.0),
        # user 2: purchase BEFORE any click -> dropped
        Row(event_id=40, ts=base, user_id=2, event_type="purchase", value=1.0),
        Row(event_id=41, ts=base + dt.timedelta(minutes=1), user_id=2, event_type="click", value=0.0),
    ]
    got = {
        r["probe_id"]: (r["quote_id"], r["quote_ts"])
        for r in events.asof_join(spark.createDataFrame(rows)).collect()
    }
    assert got == {
        30: (20, base + dt.timedelta(minutes=5)),  # same-instant click matches (<=)
        31: (11, base),  # equal-ts tie -> max event_id
    }


def test_daily_funnel_semantics(spark):
    """Pins the funnel contract: purchase counts only at-or-after a click
    within the same (user, day); same-instant ties resolve by event_id
    order; day boundaries split sequences."""
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # user 1 day 1: click then purchase -> converted
        Row(event_id=1, ts=base, user_id=1, event_type="click", value=0.0),
        Row(event_id=2, ts=base + dt.timedelta(hours=1), user_id=1, event_type="purchase", value=1.0),
        # user 2 day 1: purchase BEFORE click -> first but not converted
        Row(event_id=3, ts=base, user_id=2, event_type="purchase", value=1.0),
        Row(event_id=4, ts=base + dt.timedelta(hours=1), user_id=2, event_type="click", value=0.0),
        # user 3 day 1: same instant, click id < purchase id -> converted
        Row(event_id=5, ts=base, user_id=3, event_type="click", value=0.0),
        Row(event_id=6, ts=base, user_id=3, event_type="purchase", value=1.0),
        # user 4: click day 1, purchase day 2 -> neither day converts
        Row(event_id=7, ts=base, user_id=4, event_type="click", value=0.0),
        Row(event_id=8, ts=base + dt.timedelta(days=1), user_id=4, event_type="purchase", value=1.0),
        # user 5 day 1: view only -> active, no first, no convert
        Row(event_id=9, ts=base, user_id=5, event_type="view", value=0.0),
    ]
    got = {
        str(r["day"]): (r["n_active_users"], r["n_first_users"], r["n_converted_users"])
        for r in events.daily_funnel(spark.createDataFrame(rows)).collect()
    }
    assert got == {"2024-03-01": (5, 4, 2), "2024-03-02": (1, 0, 0)}


def test_stratified_sample_fixed_size_per_lang(spark, sf_dir):
    from pdfparser_spark.textops import sketch

    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    out = sketch.stratified_sample(docs, per_group=7).collect()
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert all(len(v) == 7 for v in by_lang.values()) and len(by_lang) >= 2
    # deterministic: a second run picks the identical documents
    again = sketch.stratified_sample(docs, per_group=7).collect()
    assert {(r["doc_id"], r["lang"]) for r in again} == {
        (r["doc_id"], r["lang"]) for r in out
    }


def test_media_frame_sample_and_resize(spark):
    from pdfparser_spark.textops import media

    meta = spark.createDataFrame(
        [
            # (doc_id, media_ref, fmt, width, height, n_frames)
            (1, "Im1", "mp4-stub", 32, 48, 25),
            (2, "Im2", "jpeg-stub", 128, 16, 1),
        ],
        schema="doc_id long, media_ref string, fmt string, width int, height int, n_frames int",
    )
    frames = {(r.doc_id, r.frame_idx) for r in media.media_frame_sample(meta).collect()}
    assert frames == {(1, 0), (1, 10), (1, 20), (2, 0)}

    rs = {r.doc_id: r for r in media.media_resize(meta).collect()}
    assert (rs[1].out_w, rs[1].out_h) == (64, 96)   # 48 * 64/32
    assert (rs[2].out_w, rs[2].out_h) == (64, 8)    # 16 * 64/128
    import hashlib
    assert rs[1].resized_md5 == hashlib.md5(b"1:Im1:64x96").hexdigest()


def test_sessionize_gap_merge(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two events 10 min apart (one session), then a 2h gap (new session)
        Row(event_id=0, ts=base, user_id=1, event_type="a", value=1.0),
        Row(event_id=1, ts=base + dt.timedelta(minutes=10), user_id=1, event_type="a", value=2.0),
        Row(event_id=2, ts=base + dt.timedelta(hours=3), user_id=1, event_type="a", value=4.0),
        # user 2: single event
        Row(event_id=3, ts=base + dt.timedelta(minutes=5), user_id=2, event_type="b", value=8.0),
    ]
    got = {
        (r.user_id, r.session_start): (r.n_events, r.sum_value)
        for r in events.sessionize(spark.createDataFrame(rows)).collect()
    }
    assert got == {
        (1, base): (2, 3.0),
        (1, base + dt.timedelta(hours=3)): (1, 4.0),
        (2, base + dt.timedelta(minutes=5)): (1, 8.0),
    }


def test_stateful_stream_totals_match_batch(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(event_id=0, ts=base, user_id=1, event_type="a", value=1.0),
        Row(event_id=1, ts=base + dt.timedelta(minutes=1), user_id=1, event_type="a", value=2.0),
        Row(event_id=2, ts=base + dt.timedelta(minutes=2), user_id=1, event_type="a", value=4.0),
        Row(event_id=3, ts=base + dt.timedelta(minutes=3), user_id=2, event_type="b", value=8.0),
    ]
    path = str(tmp_path / "ev_state")
    spark.createDataFrame(rows).write.parquet(path)
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in events.stream_user_totals(spark, path).collect()
    }
    assert got == {1: (3, 7.0), 2: (1, 8.0)}


def test_sessionize_exact_gap_boundary(spark):
    """ADVICE r01 asked for the exact-gap boundary to be pinned: Spark's
    session_window MERGES an event exactly `gap` after its predecessor
    (touching windows merge — inclusive boundary), while one microsecond
    past the gap starts a new session.  The DuckDB oracle therefore keeps
    strict `>` as its new-session predicate."""
    import datetime as dt

    from pyspark.sql import Row

    from pdfparser_spark.textops.events import sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        Row(user_id=1, ts=t0, value=1.0),
        Row(user_id=1, ts=t0 + dt.timedelta(minutes=30), value=1.0),  # exact gap -> merges
        Row(user_id=2, ts=t0, value=1.0),
        Row(user_id=2, ts=t0 + dt.timedelta(minutes=30, seconds=1), value=1.0),  # past gap
    ]
    res = sessionize(spark.createDataFrame(rows), gap="30 minutes").collect()
    by_user = {}
    for r in res:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 1 and by_user[1][0].n_events == 2  # inclusive boundary
    assert len(by_user[2]) == 2  # strictly past the gap -> new session


def test_stream_interval_join_matches_batch(spark, sf_dir):
    """Batch-parity for the stream-stream interval join (the other two
    streaming surfaces already have parity tests): the watermarked
    streaming result must equal the plain batch self-join."""
    import os

    from pyspark.sql import functions as F

    from pdfparser_spark.textops.events import stream_interval_join

    path = os.path.join(sf_dir, "events.parquet")
    got = {(r.id_a, r.id_b) for r in stream_interval_join(spark, path).collect()}
    ev = spark.read.parquet(path).select("event_id", "user_id", "ts")
    a = ev.select(F.col("event_id").alias("id_a"), "user_id", F.col("ts").alias("ts_a"))
    b = ev.select(F.col("event_id").alias("id_b"), F.col("user_id").alias("u2"), F.col("ts").alias("ts_b"))
    want = {
        (r.id_a, r.id_b)
        for r in a.join(
            b,
            (a.user_id == b.u2)
            & (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("interval 5 minutes")),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_outer_interval_join_equals_batch_left_join(spark, sf_dir):
    # outer rows emit at watermark-driven state expiry; the sentinel
    # harness flushes them deterministically — union equals batch LEFT
    import os

    import duckdb

    from pdfparser_spark.textops.events import stream_interval_join_outer

    path = os.path.join(sf_dir, "events.parquet")
    got = sorted(
        (r["id_a"], r["id_b"]) for r in stream_interval_join_outer(spark, path).collect()
    )
    exp = sorted(
        duckdb.sql(
            f"""SELECT a.event_id, b.event_id
                FROM read_parquet('{path}') a LEFT JOIN read_parquet('{path}') b
                  ON a.user_id = b.user_id AND b.ts > a.ts
                 AND b.ts <= a.ts + INTERVAL 5 MINUTE"""
        ).fetchall()
    )
    assert got == exp
    assert any(b is None for _a, b in got)  # real outer rows flushed


def test_events_horizon_is_past_every_scale_factor(sf_dir):
    # events_stream_outer_join passes EVENTS_HORIZON instead of scanning
    # for the max timestamp; a corpus reaching it would leave the outer
    # state unflushed and drop the null-extended rows
    import glob
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    horizon = dt.datetime.fromisoformat(events.EVENTS_HORIZON)
    paths = glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*", "events.parquet"))
    assert paths
    for path in paths:
        ts = pq.read_table(path, columns=["ts"])["ts"]
        assert pc.max(ts).as_py() < horizon, path
