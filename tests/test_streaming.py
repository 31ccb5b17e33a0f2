"""Structured Streaming tests: streaming ingest produces the batch-identical
triple stream and side rows (exactly-once via the streaming checkpoint), and
the watermarked windowed aggregation matches its batch equivalent."""

import contextlib
import os

from pyspark.sql import functions as F

from olkg.fixtures import corpus_lines
from olkg.pagesgen import build_pages_df


@contextlib.contextmanager
def _few_state_partitions(spark, n=4):
    """Streaming queries capture shuffle_partitions at FIRST start as the
    state-store partition count; the session default (32) means every
    micro-batch of every stateful test pays 32 state stores of commit
    overhead for a handful of rows.  4 keeps the same code paths (still
    parallel state) at ~1/8th the fixed cost — this is what cut the suite
    wall, not reduced coverage."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_stream_extract_matches_batch(spark, tmp_path):
    from olkg.extract import extract_triples_with_side_sink, read_side_rows
    from olkg.streaming import stream_extract

    lines = corpus_lines(include_reference=False)
    pages = build_pages_df(spark, lines)
    in_dir = str(tmp_path / "pages_in")
    pages.write.mode("overwrite").parquet(in_dir)

    out_dir = str(tmp_path / "stream_out")
    with _few_state_partitions(spark):
        q = stream_extract(spark, in_dir, out_dir)
        q.awaitTermination(120)

    # the batch extract job on the same pages
    acc = spark.sparkContext.accumulator(0)
    sink = str(tmp_path / "batch_sides")
    want_triples = {tuple(r) for r in extract_triples_with_side_sink(
        pages, sink, side_count_acc=acc).collect()}
    sides = read_side_rows(spark, sink, expected_rows=acc.value)
    want_sides = {tuple(r) for r in sides.collect()}
    assert want_triples and want_sides

    # the idempotent sink partitions by batch_id; project it away to compare
    dest = os.path.join(out_dir, "extract_stream")

    def streamed(table, cols):
        return spark.read.parquet(os.path.join(dest, table)).select(*cols)

    got_triples = streamed("triples", ["subj", "pred", "obj", "obj_kind",
                                       "obj_datatype"])
    got_sides = streamed("sides", sides.columns)
    assert {tuple(r) for r in got_triples.collect()} == want_triples
    assert {tuple(r) for r in got_sides.collect()} == want_sides
    n_rows = got_triples.count() + got_sides.count()

    # restart with the same checkpoint: no new input → no duplicate rows
    with _few_state_partitions(spark):
        q2 = stream_extract(spark, in_dir, out_dir)
        q2.awaitTermination(120)
    assert (streamed("triples", ["subj"]).count()
            + streamed("sides", ["kind"]).count()) == n_rows


def test_stream_events_hourly_matches_batch(spark, tmp_path):
    from olkg.streaming import stream_events_hourly

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "events_in")
    ev.write.mode("overwrite").parquet(in_dir)

    stream = (spark.readStream.schema(ev.schema).parquet(in_dir))
    agg = stream_events_hourly(stream)
    # complete mode + memory sink: append mode would hold every window in
    # state until the watermark passes it, which never happens on a finite
    # drained source — the standard finite-source test pattern
    with _few_state_partitions(spark):
        q = (agg.writeStream.outputMode("complete")
             .format("memory").queryName("evh_test")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    got = spark.sql("SELECT * FROM evh_test")
    want = (ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("sum_value"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00:00")
                    .alias("hour"), "user_id", "n_events", "sum_value"))
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    # append mode emits only windows the watermark has closed; with
    # availableNow over a finite file source every window closes
    assert g == w and len(g) > 0


def test_stream_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch gap closes a session;
    the trailing open session survives in state and closes on a later
    batch's event (exactly-once across restarts via the checkpoint)."""
    import datetime as dt
    from olkg.streaming import stream_sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    rows_a = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=5), 2.0),
        (1, t0 + dt.timedelta(minutes=60), 4.0),   # > 30 min gap → new sess
        (2, t0, 8.0),
    ]
    dfa = spark.createDataFrame(rows_a, "user_id long, ts timestamp, value double")
    dfa.write.parquet(str(in_dir / "a.parquet"))

    out = str(tmp_path / "sess_out")
    ck = str(tmp_path / "sess_ck")

    def run_once():
        with _few_state_partitions(spark):
            stream = (spark.readStream
                      .schema("user_id long, ts timestamp, value double")
                      .parquet(str(in_dir) + "/*"))
            q = (stream_sessionize(stream, gap_minutes=30)
                 .writeStream.outputMode("append")
                 .option("checkpointLocation", ck)
                 .format("parquet").option("path", out)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

    run_once()
    got = {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
           for r in spark.read.parquet(out).collect()}
    assert (1, t0, t0 + dt.timedelta(minutes=5), 2, 3.0) in got
    # open sessions (user1 @t0+60, user2 @t0) not yet emitted
    assert len(got) == 1

    # batch B: a much later event closes user 1's open session
    rows_b = [(1, t0 + dt.timedelta(minutes=200), 16.0)]
    dfb = spark.createDataFrame(rows_b, "user_id long, ts timestamp, value double")
    dfb.write.parquet(str(in_dir / "b.parquet"))
    run_once()
    got2 = {(r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.read.parquet(out).collect()}
    assert (1, t0 + dt.timedelta(minutes=60),
            t0 + dt.timedelta(minutes=60), 1) in got2


def _run_sessionize(spark, in_dir, out, ck, gap_minutes=30,
                    watermark_minutes=None):
    from olkg.streaming import stream_sessionize
    with _few_state_partitions(spark):
        stream = (spark.readStream
                  .schema("user_id long, ts timestamp, value double")
                  .parquet(str(in_dir) + "/*"))
        q = (stream_sessionize(stream, gap_minutes=gap_minutes,
                               watermark_minutes=watermark_minutes)
             .writeStream.outputMode("append")
             .option("checkpointLocation", ck)
             .format("parquet").option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)


def test_stream_sessionize_late_event_merges_without_regression(spark, tmp_path):
    """A late-but-within-watermark event for an already-OPEN session arriving
    in a LATER batch merges into it (n_events grows) and never moves
    session_end backwards — matching the batch twin's global time order."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    in_dir = tmp_path / "late_in"
    in_dir.mkdir()
    out, ck = str(tmp_path / "late_out"), str(tmp_path / "late_ck")

    def write(name, rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).write.parquet(str(in_dir / name))

    # batch A: open session [t0, t0+10] for user 1
    write("a.parquet", [(1, t0, 1.0),
                        (1, t0 + dt.timedelta(minutes=10), 2.0)])
    _run_sessionize(spark, in_dir, out, ck)
    # batch B: ts=t0+5 is EARLIER than the open session's end (within the
    # 30-min watermark) — must merge, not regress session_end or split
    write("b.parquet", [(1, t0 + dt.timedelta(minutes=5), 4.0)])
    _run_sessionize(spark, in_dir, out, ck)
    # batch C: t0+60 gaps out the open session → it closes with ALL 3 events
    write("c.parquet", [(1, t0 + dt.timedelta(minutes=60), 8.0)])
    _run_sessionize(spark, in_dir, out, ck)

    got = {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
           for r in spark.read.parquet(out).collect()}
    assert (1, t0, t0 + dt.timedelta(minutes=10), 3, 7.0) in got, got


def test_stream_sessionize_event_after_timeout_starts_new_session(spark, tmp_path):
    """Once the event-time timeout closed a session (watermark passed
    session_end + gap), a later event for that user starts a NEW session —
    it never resurrects the emitted one."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    in_dir = tmp_path / "to_in"
    in_dir.mkdir()
    out, ck = str(tmp_path / "to_out"), str(tmp_path / "to_ck")

    def write(name, rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).write.parquet(str(in_dir / name))

    # batch A: user 1 opens [t0, t0]
    write("a.parquet", [(1, t0, 1.0)])
    _run_sessionize(spark, in_dir, out, ck)
    # batch B: user 2's far-future event advances the watermark past
    # t0 + gap → user 1's timeout FIRES and emits [t0, t0]
    write("b.parquet", [(2, t0 + dt.timedelta(minutes=120), 2.0)])
    _run_sessionize(spark, in_dir, out, ck)
    fired = {(r.user_id, r.session_start, r.session_end, r.n_events)
             for r in spark.read.parquet(out).collect()}
    assert (1, t0, t0, 1) in fired, fired

    # batch C: a new user-1 event (at/above the watermark) → fresh session,
    # closed by batch D's gap; the emitted pair must be two DISTINCT sessions
    t_new = t0 + dt.timedelta(minutes=130)
    write("c.parquet", [(1, t_new, 4.0)])
    _run_sessionize(spark, in_dir, out, ck)
    write("d.parquet", [(1, t_new + dt.timedelta(minutes=60), 8.0)])
    _run_sessionize(spark, in_dir, out, ck)
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.read.parquet(out).collect()}
    assert (1, t0, t0, 1) in got, got
    assert (1, t_new, t_new, 1) in got, got


def test_stream_sessionize_pre_session_late_events_merge(spark, tmp_path):
    """With a lateness tolerance LARGER than the gap (watermark 120 min,
    gap 30 — with watermark == gap the engine drops such rows before the
    state function ever sees them), multiple late events that each precede
    the open session by > gap but lie within gap of EACH OTHER merge into
    ONE earlier closed session (the batch twin's grouping), not one
    singleton session each; and a pre-batch group that chains to within
    gap of where an in-gap merge pulled the open session's start joins the
    OPEN session instead of closing separately."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    in_dir = tmp_path / "pre_in"
    in_dir.mkdir()
    out, ck = str(tmp_path / "pre_out"), str(tmp_path / "pre_ck")

    def write(name, rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).write.parquet(str(in_dir / name))

    # batch A: open session [t0+100, t0+100] for user 1
    m = dt.timedelta
    write("a.parquet", [(1, t0 + m(minutes=100), 1.0)])
    _run_sessionize(spark, in_dir, out, ck, gap_minutes=30,
                    watermark_minutes=120)
    # batch B: two late events at t0+0 and t0+20 — each > 30 min before the
    # open session, but within 30 min of each other → ONE closed session
    write("b.parquet", [(1, t0, 2.0), (1, t0 + m(minutes=20), 4.0)])
    _run_sessionize(spark, in_dir, out, ck, gap_minutes=30,
                    watermark_minutes=120)
    got = {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
           for r in spark.read.parquet(out).collect()}
    assert (1, t0, t0 + m(minutes=20), 2, 6.0) in got, got
    assert len(got) == 1, got   # NOT two singletons

    # user 2: open session at t0+100; one batch carries both a pre event at
    # t0+45 and an in-gap event at t0+72 — the in-gap merge pulls the open
    # start to t0+72, which puts t0+45 within gap of the OPEN session → it
    # must merge there (3-event open session), not close as a singleton
    write("c.parquet", [(2, t0 + m(minutes=100), 1.0)])
    _run_sessionize(spark, in_dir, out, ck, gap_minutes=30,
                    watermark_minutes=120)
    write("d.parquet", [(2, t0 + m(minutes=45), 2.0),
                        (2, t0 + m(minutes=72), 4.0)])
    _run_sessionize(spark, in_dir, out, ck, gap_minutes=30,
                    watermark_minutes=120)
    # close user 2's open session via gap-out
    write("e.parquet", [(2, t0 + m(minutes=200), 8.0)])
    _run_sessionize(spark, in_dir, out, ck, gap_minutes=30,
                    watermark_minutes=120)
    got2 = {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
            for r in spark.read.parquet(out).collect()}
    assert (2, t0 + m(minutes=45), t0 + m(minutes=100), 3, 7.0) in got2, got2


def test_stream_sessionize_pre_group_merges_into_session_closed_same_batch(
        spark, tmp_path):
    """A late chain AND the event that gaps the open session out arrive in
    the SAME micro-batch (gap 30, watermark 120): open [t0+100]; batch
    {t0+45, t0+72, t0+200}.  45 chains to 72 chains to 100, so the closed
    session is [t0+45, t0+100] with all three events — the late group must
    reconcile against the session being CLOSED in this batch, not only
    against the final open one (a per-event classification emitted
    [45,45] + [72,100] here)."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    m = dt.timedelta
    in_dir = tmp_path / "sbc_in"
    in_dir.mkdir()
    out, ck = str(tmp_path / "sbc_out"), str(tmp_path / "sbc_ck")

    def write(name, rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).write.parquet(str(in_dir / name))

    write("a.parquet", [(1, t0 + m(minutes=100), 1.0)])
    _run_sessionize(spark, in_dir, out, ck, gap_minutes=30,
                    watermark_minutes=120)
    write("b.parquet", [(1, t0 + m(minutes=45), 2.0),
                        (1, t0 + m(minutes=72), 4.0),
                        (1, t0 + m(minutes=200), 8.0)])
    _run_sessionize(spark, in_dir, out, ck, gap_minutes=30,
                    watermark_minutes=120)
    got = {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
           for r in spark.read.parquet(out).collect()}
    assert (1, t0 + m(minutes=45), t0 + m(minutes=100), 3, 7.0) in got, got
    assert len(got) == 1, got      # no [45,45] / [72,100] split
