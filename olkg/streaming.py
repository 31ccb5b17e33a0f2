"""Structured Streaming surfaces.

The reference is a batch converter; these wrap the same extraction semantics
for continuous ingest, the way a crawl feed would arrive in production:

- :func:`stream_extract`: file-source stream of pages → the pipeline's own
  extract job on each micro-batch (triple stream + validated side sink).
  ``foreachBatch`` + the streaming checkpoint give exactly-once per
  micro-batch on restart; resume = restart with the same checkpoint
  location (north_rule's idempotent-resume posture, streaming flavor).
- :func:`stream_events_hourly`: watermarked sliding-window aggregation over
  an event stream — the late-data-tolerant stateful operator pattern
  (watermark bounds state; late rows beyond it are dropped deterministically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio
from .fsio import pjoin
from .schema import PAGES_SCHEMA


def stream_extract(spark: SparkSession, input_dir: str, out_dir: str,
                   trigger_available_now: bool = True):
    """Continuous KG ingest: watch ``input_dir`` for pages parquet files and
    run the pipeline's extract job
    (:func:`olkg.extract.extract_triples_with_side_sink`) on each
    micro-batch.  Batch N writes its triple stream to
    ``<out_dir>/extract_stream/triples/batch_id=N`` and its side sink to
    ``<out_dir>/extract_stream/sides/batch_id=N``; the sink is validated
    against the executors' row census (:func:`olkg.extract.read_side_rows`)
    as in :func:`olkg.pipeline.run_pipeline`.  The byte-identity audit is
    :func:`olkg.extract.audit_pages` over the same pages.

    Returns the StreamingQuery.  With ``trigger_available_now`` the query
    drains everything currently present and stops (the test/backfill mode);
    without it, it runs until stopped (the production mode)."""
    from .extract import extract_triples_with_side_sink, read_side_rows

    dest = pjoin(out_dir, "extract_stream")
    checkpoint = pjoin(out_dir, "_stream_checkpoint")

    pages = (spark.readStream
             .schema(PAGES_SCHEMA)
             .parquet(input_dir))

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent per-batch sink: a crash between a (partial) write and
        # the checkpoint commit re-runs the batch, which first deletes its
        # OWN batch_id directories, so its output lands exactly once —
        # exactly-once OUTPUT, not just exactly-once processing.  Readers
        # see the union via partition discovery on each table.
        triples = pjoin(dest, "triples", f"batch_id={batch_id}")
        sides = pjoin(dest, "sides", f"batch_id={batch_id}")
        fsio.delete(spark, triples)
        fsio.delete(spark, sides)
        side_acc = spark.sparkContext.accumulator(0)
        (extract_triples_with_side_sink(batch_df, sides,
                                        side_count_acc=side_acc)
         .write.parquet(triples))
        read_side_rows(spark, sides, expected_rows=side_acc.value)

    writer = (pages.writeStream
              .foreachBatch(_process)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_events_hourly(events: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked hourly windowed aggregation over a streaming events
    DataFrame (ts, user_id, value): late rows within ``watermark`` still
    merge into their window; older ones are dropped and the window state is
    evicted — bounded state at any stream length."""
    return (events
            # watermarks require TIMESTAMP (not NTZ); session TZ is UTC
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("sum_value"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00:00")
                    .alias("hour"), "user_id", "n_events", "sum_value"))


def stream_sessionize(events: DataFrame, gap_minutes: int = 30,
                      watermark_minutes: int | None = None) -> DataFrame:
    """Custom stateful operator: gap-based per-user sessionization via
    ``applyInPandasWithState`` (the arbitrary-stateful-processing escape
    hatch when windowed aggs can't express the semantics — a session has no
    fixed window).

    Emits CLOSED sessions: within a micro-batch, a gap > ``gap_minutes``
    between consecutive events of a user closes the earlier session; the
    trailing open session is carried in state and closed either by a later
    batch's events or by the event-time timeout (watermark passing
    session_end + gap).  State per user is one fixed-width row — bounded
    regardless of stream length.

    ``watermark_minutes`` (default: the gap) is the lateness tolerance —
    rows older than the watermark are dropped by the engine before they
    reach the state function.  Setting it LARGER than the gap admits late
    events that precede the open session by more than a whole gap; those
    are grouped among themselves with the same gap rule and emitted as
    earlier closed sessions (or merged into the open session when they
    chain into it), matching the batch twin's global time order."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("user_id bigint, session_start timestamp, "
                  "session_end timestamp, n_events bigint, sum_value double")
    state_schema = ("session_start timestamp, session_end timestamp, "
                    "n_events bigint, sum_value double")
    gap_ms = gap_minutes * 60 * 1000

    def fn(key, pdf_iter, state):
        import pandas as pd

        user_id = key[0]
        cols = ["user_id", "session_start", "session_end", "n_events",
                "sum_value"]

        if state.hasTimedOut:
            st, en, n, s = state.get
            state.remove()
            yield pd.DataFrame([(user_id, st, en, n, s)], columns=cols)
            return

        # One global sort over the whole micro-batch: pdf_iter may deliver
        # several Arrow chunks, and sorting each independently would process
        # events out of time order (diverging from the batch twin,
        # textops.sessionize_events, which sorts globally).
        chunks = list(pdf_iter)
        batch = (pd.concat(chunks, ignore_index=True).sort_values("ts")
                 if chunks else pd.DataFrame(columns=["ts", "value"]))
        # ONE interval-merge pass over the open state session (a
        # first-class interval — its span is internally gap-consistent by
        # construction) plus every batch event (a point interval), sorted
        # by start.  Two adjacent items merge when the later one starts
        # within gap of the earlier group's end — exactly the batch twin's
        # global sort + gap rule, with no branch ordering to get wrong: a
        # previous formulation that classified events against the open
        # session one at a time emitted buffered pre-session groups
        # without reconciling them against a session being closed in the
        # SAME batch (late chain {45,72} + closer 200 against open
        # [100,100] split [45..100] into [45,45] + [72,100]).
        items = []
        if state.exists:
            st, en, n, s = state.get
            items.append([st, en, n, float(s)])
        items.extend([ts, ts, 1, float(val)]
                     for ts, val in zip(batch["ts"], batch["value"]))
        items.sort(key=lambda it: (it[0], it[1]))
        sessions = []
        for it in items:
            if (sessions and (it[0] - sessions[-1][1]).total_seconds()
                    * 1000 <= gap_ms):
                g = sessions[-1]
                g[1] = max(g[1], it[1])
                g[2] += it[2]
                g[3] += it[3]
            else:
                sessions.append(it)
        closed = [(user_id, *g) for g in sessions[:-1]]
        cur = sessions[-1] if sessions else None
        if cur is not None:
            state.update(tuple(cur))
            # close the trailing session when the watermark passes its gap
            state.setTimeoutTimestamp(
                int(cur[1].timestamp() * 1000) + gap_ms)
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    wm = watermark_minutes if watermark_minutes is not None else gap_minutes
    return (events
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", f"{wm} minutes")
            .groupBy("user_id")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))
