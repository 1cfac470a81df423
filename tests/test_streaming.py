"""Structured Streaming coverage: every streaming operator replays the
events table with ``trigger(availableNow=True)`` and must agree exactly
with its batch twin (same engine, same data ⇒ equality is exact, not
approximate)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from cql_xmlpipe_spark.operators.xmlpipe import xml_documents
from cql_xmlpipe_spark.plans import QUERIES
from cql_xmlpipe_spark.sources.registry import load_table
from cql_xmlpipe_spark.streaming import (
    running_user_stats,
    session_window_stats,
    sliding_window_counts,
    stream_events,
    tumbling_window_counts,
    write_xmlpipe_stream,
)

SF = "/root/testdata/sf0.001"


def _run_to_memory(df, name: str, mode: str, spark):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark):
    got = _run_to_memory(
        tumbling_window_counts(stream_events(spark, SF)), "t_tumble", "update", spark
    )
    want = QUERIES["events_tumbling_window"](spark, SF)
    cols = ["event_type", "bucket_start", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_stream_equals_batch(spark):
    got = _run_to_memory(
        sliding_window_counts(stream_events(spark, SF)), "t_slide", "update", spark
    ).drop("bucket_end")
    want = QUERIES["events_sliding_window"](spark, SF)
    cols = ["event_type", "bucket_start", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_window_stream_equals_batch(spark):
    # session-window aggs reject update mode; complete emits every session
    # regardless of watermark, which is exactly what batch-equality needs
    got = _run_to_memory(
        session_window_stats(stream_events(spark, SF), gap="10 minutes"),
        "t_session",
        "complete",
        spark,
    )
    want = QUERIES["events_sessionize"](spark, SF)
    # session_window end = last event + gap; the batch twin records the last
    # event itself — align by subtracting the gap.
    gap_us = 10 * 60 * 1_000_000
    got_rows = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"] - gap_us, r["n_events"])
        for r in got.collect()
    )
    want_rows = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in want.collect()
    )
    assert got_rows == want_rows


def test_session_window_append_equals_batch_closed_sessions(spark):
    """The PRODUCTION append+watermark session plan: emitted rows must be
    exactly the batch sessions already CLOSED at the final watermark
    (end + gap strictly before max_ts(ms-floor) - 1 h — the empirically
    pinned Spark emission rule), the emission must be non-trivial on the
    gate corpus, and every emitted session's state was evictable (append
    never emits an open session)."""
    from cql_xmlpipe_spark.plans import QUERIES
    from cql_xmlpipe_spark.sources.registry import load_table

    got = QUERIES["streaming_session_window_append"](spark, SF)
    gap_us = 10 * 60 * 1_000_000
    max_us = load_table(spark, "events", SF).agg(
        F.max(F.unix_micros("ts"))
    ).collect()[0][0]
    wm_us = (max_us // 1000 - 3_600_000) * 1000
    want = QUERIES["events_sessionize"](spark, SF).filter(
        F.col("session_end_us") + gap_us < wm_us
    )
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
    got_rows = _rows(got, cols)
    assert got_rows == _rows(want, cols)
    assert len(got_rows) > 0  # the gate actually exercises emission
    # and some sessions remain open/held: append < complete
    n_all = QUERIES["events_sessionize"](spark, SF).count()
    assert len(got_rows) < n_all


def test_stream_stream_interval_join_equals_batch(spark):
    from cql_xmlpipe_spark.streaming.joins import purchases_with_recent_clicks

    got = _run_to_memory(
        purchases_with_recent_clicks(stream_events(spark, SF)),
        "t_ssjoin",
        "append",
        spark,
    )
    want = QUERIES["interval_join_purchase_clicks"](spark, SF)
    cols = ["user_id", "purchase_id", "p_ts_us", "purchase_value", "click_id", "c_ts_us"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stateful_running_stats_equals_batch(spark):
    got = _run_to_memory(
        running_user_stats(stream_events(spark, SF)), "t_state", "update", spark
    )
    # one availableNow batch -> exactly one update per user
    e = load_table(spark, "events", SF)
    want = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        F.max(F.unix_micros("ts")).alias("last_seen_us"),
        F.size(F.collect_set("event_type")).alias("n_event_types"),
    )
    cols = ["user_id", "n_events", "sum_value_cents", "last_seen_us", "n_event_types"]
    assert _rows(got, cols) == _rows(want, cols)


def test_xmlpipe_stream_sink_equals_batch(spark, tmp_path):
    out = str(tmp_path / "xml_out")
    q = write_xmlpipe_stream(
        stream_events(spark, SF), ["event_id"], out, available_now=True
    )
    q.awaitTermination(120)
    lines: list[str] = []
    for part in glob.glob(f"{out}/batch=*/part-*"):
        with open(part, encoding="utf-8") as fh:
            lines.extend(ln for ln in fh.read().split("\n") if ln)
    batch_docs = xml_documents(load_table(spark, "events", SF), ["event_id"])
    want = sorted(r["xml"].lstrip("\n") for r in batch_docs.collect())
    assert sorted(lines) == want
    # envelope parts present for consumer-side concatenation
    assert glob.glob(f"{out}/_PROLOG") and glob.glob(f"{out}/_CLOSE")


def test_stateful_all_null_values_user_matches_sql_sum(spark, tmp_path):
    """SQL SUM over only NULLs is NULL, not 0 — a user whose every event
    has value=NULL must surface sum_value_cents as NULL so the stateful
    profile stays hash-identical to its aggregate oracle."""
    import os
    from datetime import datetime

    sf = str(tmp_path)
    t0 = datetime(2024, 1, 1)
    rows = [
        (0, t0, 1, "click", 2.5, "{}"),
        (1, t0, 1, "view", None, "{}"),
        (2, t0, 2, "click", None, "{}"),
        (3, t0, 2, "view", None, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    got = _run_to_memory(
        running_user_stats(stream_events(spark, sf)), "t_state_nulls", "update", spark
    )
    by_user = {r["user_id"]: r for r in got.collect()}
    assert by_user[1]["sum_value_cents"] == 250
    assert by_user[2]["sum_value_cents"] is None
    assert by_user[2]["n_events"] == 2


def test_stream_events_sees_single_file_rewritten_in_place(spark, tmp_path):
    """A single-file events.parquet rewritten in place (same path, new
    ``ts`` physical type) must get a fresh staged dir and a fresh schema
    probe: a stale NANOS-as-long schema cannot read a MICROS file."""
    import os
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cql_xmlpipe_spark.streaming import sources as SRC

    sf = str(tmp_path)
    t0 = datetime(2024, 1, 1, 12, 0, 0, 123456)
    t0_us = int(t0.replace(tzinfo=timezone.utc).timestamp()) * 10**6 + 123456

    def write(unit: str, n: int) -> None:
        pq.write_table(
            pa.table({
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([t0] * n, pa.timestamp(unit, tz="UTC")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["click"] * n),
                "value": pa.array([1.0] * n),
                "props": pa.array(["{}"] * n),
            }),
            os.path.join(sf, "events.parquet"),
        )

    seen = []
    for i, (unit, n) in enumerate([("ns", 3), ("us", 4)]):
        write(unit, n)
        d = SRC._stage_dir(sf)
        got = _run_to_memory(
            stream_events(spark, sf), f"t_rewrite_{i}", "append", spark
        )
        rows = sorted(
            tuple(r) for r in got.select("event_id", F.unix_micros("ts")).collect()
        )
        assert rows == [(j, t0_us) for j in range(n)], unit
        seen.append((d, SRC._SCHEMA_CACHE[d]["ts"].dataType.typeName()))
    assert seen[0][0] != seen[1][0]
    assert [t for _, t in seen] == ["long", "timestamp"]

def test_streaming_incremental_probe_equals_batch(spark, tmp_path):
    """The foreachBatch ingest-dedup composition (VERDICT r10 #6): a
    multi-file staged replay of an increment, deduped per micro-batch
    against the standing corpus over the SHARED staged LSH geometry,
    must produce exactly the pairs one batch probe of the whole
    increment finds — pair fate depends only on the two texts, so the
    per-batch union composes exactly. Also pins the idempotent sink
    layout (one batch=<id> partition per micro-batch, overwrite mode)."""
    import os
    import time

    from pyspark.sql import types as T

    from cql_xmlpipe_spark.operators import dedup as DD
    from cql_xmlpipe_spark.streaming.dedup import incremental_probe_sink

    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fam_b = "one two three four five six seven eight nine ten eleven"
    corpus = spark.createDataFrame(
        [(1, fam_a), (2, fam_a), (10, fam_b),
         (20, "an unrelated corpus document about something else entirely")],
        "doc_id long, text string",
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    src = tmp_path / "inc_src"
    src.mkdir()
    batches = [
        [(100, fam_a), (101, "novel batch doc with fresh words")],
        [(102, fam_b), (103, fam_a)],
        [(104, fam_b + " twelve"), (105, "another novel one right here")],
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time()
    for i, rows in enumerate(batches):
        f = str(src / f"part-{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            f,
        )
        os.utime(f, (now - 300 + 100 * i, now - 300 + 100 * i))

    out = str(tmp_path / "pairs_out")
    sink = incremental_probe_sink(corpus, out, threshold=0.35, k=3)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "probe_ckpt"))
        .start()
    )
    assert q.awaitTermination(300)

    got_df = spark.read.parquet(out)
    # one partition directory per micro-batch (maxFilesPerTrigger=1)
    assert sorted(r["batch"] for r in got_df.select("batch").distinct().collect()) == [0, 1, 2]
    got = _rows(got_df, ["inc_id", "corpus_id", "jaccard"])

    increment = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    )
    expected_df = DD.incremental_probe_pairs(corpus, increment, threshold=0.35, k=3)
    expected = _rows(expected_df, ["inc_id", "corpus_id", "jaccard"])
    DD.unpersist_intermediates(expected_df)
    assert got == expected
    # the planted cross pairs actually happened: the fam_a clones hit
    # both corpus members, fam_b docs hit doc 10
    assert {(100, 1), (100, 2), (103, 1), (102, 10)} <= {(a, b) for a, b, _ in got}


def test_streaming_roster_maintenance_equals_batch(spark, tmp_path):
    """The stateful roster-maintenance sink: after a 3-micro-batch
    staged replay, the LATEST roster snapshot equals the from-scratch
    rosters over corpus ∪ every batch (the streamed form of the
    iterated-ingest property), intermediate snapshots reflect their
    prefix of the stream, and a FULL REPLAY with a fresh checkpoint
    (at-least-once delivery) short-circuits on the committed snapshots
    and changes nothing."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from cql_xmlpipe_spark.operators import dedup as DD
    from cql_xmlpipe_spark.streaming.dedup import roster_maintenance_sink

    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    new_fam = "first seen in batch one text with recurring tokens here"
    corpus = spark.createDataFrame(
        [(0, fam_a), (1, fam_a), (10, "unique corpus doc number ten words")],
        "doc_id long, text string",
    )
    batches = [
        [(100, new_fam), (101, fam_a)],
        [(200, new_fam)],
        [(300, "novel third batch doc nothing shared at all")],
    ]
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    src = tmp_path / "roster_src"
    src.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        f = str(src / f"part-{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            f,
        )
        os.utime(f, (now - 300 + 100 * i, now - 300 + 100 * i))

    state = str(tmp_path / "roster_state")
    sink = roster_maintenance_sink(corpus, state, threshold=0.35, k=3)

    def run(ckpt: str) -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        assert q.awaitTermination(300)

    run("roster_ckpt_1")
    import glob as _glob

    versions = sorted(
        int(p.rsplit("=", 1)[1]) for p in _glob.glob(f"{state}/rosters/v=*")
    )
    assert versions == [-1, 0, 1, 2]

    union = corpus
    for rows in batches:
        union = union.unionByName(spark.createDataFrame(rows, schema))
    scratch = DD.minhash_groups_collapsed(union, threshold=0.35, k=3)
    expected = _rows(scratch, ["cluster_id", "cluster_size"])
    DD.unpersist_intermediates(scratch)
    final = spark.read.parquet(f"{state}/rosters/v=2")
    assert _rows(final, ["cluster_id", "cluster_size"]) == expected
    members = {r["cluster_id"]: tuple(r["members"]) for r in final.collect()}
    assert members[0] == (0, 1, 101)      # batch-0 doc joined the corpus family
    assert members[100] == (100, 200)     # batch-1 doc joined the batch-0 family

    # the v=1 snapshot reflects exactly the first two batches
    mid = spark.read.parquet(f"{state}/rosters/v=1")
    mid_members = {r["cluster_id"]: tuple(r["members"]) for r in mid.collect()}
    assert mid_members[100] == (100, 200)

    # full at-least-once replay: fresh checkpoint reprocesses every file;
    # the committed snapshots short-circuit and the state is unchanged
    before = _rows(final, ["cluster_id", "cluster_size"])
    run("roster_ckpt_2")
    after_versions = sorted(
        int(p.rsplit("=", 1)[1]) for p in _glob.glob(f"{state}/rosters/v=*")
    )
    assert after_versions == [-1, 0, 1, 2]
    after = _rows(
        spark.read.parquet(f"{state}/rosters/v=2"), ["cluster_id", "cluster_size"]
    )
    assert after == before

    # restart with half-committed state: kill the last snapshot, build a
    # FRESH sink object (empty in-memory staged index) and replay — the
    # committed batches short-circuit, batch 2 re-runs after re-signing
    # the prior batches from their parquet, and v=2 is rebuilt identically
    import shutil

    shutil.rmtree(f"{state}/rosters/v=2")
    sink2 = roster_maintenance_sink(corpus, state, threshold=0.35, k=3)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink2)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "roster_ckpt_3"))
        .start()
    )
    assert q.awaitTermination(300)
    rebuilt = _rows(
        spark.read.parquet(f"{state}/rosters/v=2"), ["cluster_id", "cluster_size"]
    )
    assert rebuilt == before


def test_streaming_incremental_probe_guard_fails_loudly(spark, tmp_path):
    """The documented guard semantics of the foreachBatch sink: a hot
    micro-batch over the cross-set cap FAILS the streaming query with
    the budget exception in the cause — never a silent skip that would
    publish an incomplete pair set."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import types as T

    from cql_xmlpipe_spark.streaming.dedup import incremental_probe_sink

    hot = "the same hot document text shared across batch and corpus"
    corpus = spark.createDataFrame(
        [(i, hot) for i in range(200)], "doc_id long, text string"
    )
    src = tmp_path / "hot_src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([10_000 + i for i in range(50)], pa.int64()),
                "text": pa.array([hot] * 50, pa.string()),
            }
        ),
        str(src / "part-0.parquet"),
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    sink = incremental_probe_sink(
        corpus, str(tmp_path / "hot_out"), threshold=0.5, k=3, max_pairs=1000
    )
    q = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "hot_ckpt"))
        .start()
    )
    with pytest.raises(StreamingQueryException) as ei:
        q.awaitTermination(300)
    assert "10,000" in str(ei.value)  # 50 x 200 cross pairs priced pre-flight


def test_session_window_append_late_data_semantics(spark, tmp_path):
    """Production lateness semantics of the append+watermark session plan,
    pinned on a MULTI-file staged replay (the gate corpus is one file →
    one micro-batch → nothing can ever be late; this drives the path the
    plans/queries.py docstring promises but the gate can't reach).

    Spark ≥3.4 runs TWO watermarks per batch (SPARK-42931): late-event
    FILTERING uses the previous batch's watermark; state EVICTION uses
    the current one. Both sides pinned here:

    * batch 1's 00:07 event for user 7 is older than the just-advanced
      09:00 watermark, but the late-filter watermark still lags at 0 —
      it MERGES into the open session (3 events, end 00:07+gap), which
      is then evicted+emitted by the 09:00 eviction watermark;
    * batch 2's 00:08 event faces a late-filter watermark of 09:00 —
      it is DROPPED (numRowsDroppedByWatermark) and, decisively, does
      NOT resurrect the already-emitted session as a spurious second
      append row (exactly-once emission per session)."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    base = dt.datetime(2024, 1, 1)

    def us(minutes):
        return base + dt.timedelta(minutes=minutes)

    def write_file(path, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            path,
        )

    d = tmp_path / "stream_src"
    d.mkdir()
    f1, f2, f3 = (str(d / f"part-{i}.parquet") for i in (1, 2, 3))
    # f1: user 7 session (00:00, 00:05); sentinel 99 @ 10:00 -> wm 09:00
    write_file(f1, [(1, us(0), 7), (2, us(5), 7), (3, us(600), 99)])
    # f2: late-but-filter-lagged 00:07 for user 7 (merges); sentinel @
    # 20:00 -> wm 19:00 (also evicts+emits user 7's merged session)
    write_file(f2, [(4, us(7), 7), (5, us(1200), 99)])
    # f3: 00:08 for user 7 — now truly late (filter wm 09:00) -> dropped
    write_file(f3, [(6, us(8), 7)])
    now = time.time()  # file source orders by mtime
    for i, f in enumerate((f1, f2, f3)):
        os.utime(f, (now - 200 + 100 * i, now - 200 + 100 * i))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        session_window_stats(stream, gap="10 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("t_late_semantics")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(300)
    dropped = [
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    ]
    assert sum(dropped) == 1  # exactly the f3 row
    rows = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.table("t_late_semantics").collect()
    )
    min_us = 60 * 1_000_000
    gap_us = 10 * min_us
    epoch = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert rows == [
        # user 7: ONE row — merged to 3 events by the lagged filter,
        # never resurrected by the truly-late f3 row
        (7, epoch, epoch + 7 * min_us + gap_us, 3),
        # sentinel's 10:00 singleton closed at the 19:00 eviction wm;
        # its 20:00 session stays open/held (no row)
        (99, epoch + 600 * min_us, epoch + 600 * min_us + gap_us, 1),
    ]


# ---------------------------------------------------------------------------
# round 12: roster-sink state hardening (compaction, delta layout, replay
# validation, disjointness guard, embedding twins, cleanup handles)
# ---------------------------------------------------------------------------


def _stage_parquet_batches(src_dir, batches, build_table):
    """Write one parquet file per batch with strictly increasing mtimes
    so maxFilesPerTrigger=1 replays them as ordered micro-batches."""
    import os
    import time

    import pyarrow.parquet as pq

    src_dir.mkdir(parents=True, exist_ok=True)
    now = time.time()
    for i, rows in enumerate(batches):
        f = str(src_dir / f"part-{i}.parquet")
        pq.write_table(build_table(rows), f)
        os.utime(f, (now - 600 + 60 * i, now - 600 + 60 * i))


def _text_table(rows):
    import pyarrow as pa

    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )


def _emb_table(rows):
    import pyarrow as pa

    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
        }
    )


_TEXT_SCHEMA = "doc_id long, text string"
_EMB_SCHEMA = "vec_id long, embedding array<float>"


def _drain(spark, src, schema_ddl, sink, ckpt, max_files=1):
    from pyspark.sql import types as T

    q = (
        spark.readStream.schema(T._parse_datatype_string(schema_ddl))
        .option("maxFilesPerTrigger", max_files)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    assert q.awaitTermination(600)


def test_roster_sink_compaction_bounds_state(spark, tmp_path):
    """VERDICT r11 #1: the staged ingest index is COMPACTED every K
    batches — after a 9-batch drain at K=3 the in-memory state is one
    parquet-backed base frame (upto=8) plus an EMPTY pending set (plan
    width O(K), not O(stream lifetime)), superseded index snapshots are
    pruned, a fresh sink (restart) resumes from the compacted snapshot
    instead of re-signing history, and the final rosters still equal
    the from-scratch build."""
    from cql_xmlpipe_spark.operators import dedup as DD
    from cql_xmlpipe_spark.streaming.dedup import (
        read_rosters,
        roster_maintenance_sink,
    )

    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(0, fam_a), (1, fam_a), (10, "unique corpus doc number ten words")],
        _TEXT_SCHEMA,
    )
    batches = [
        [(1000 + 2 * i, fam_a), (1001 + 2 * i, f"novel batch {i} doc with distinct words w{i}a w{i}b")]
        for i in range(9)
    ]
    src = tmp_path / "cmp_src"
    _stage_parquet_batches(src, batches, _text_table)
    state = str(tmp_path / "cmp_state")
    sink = roster_maintenance_sink(
        corpus, state, threshold=0.35, k=3, compact_every=3
    )
    pending_sizes = []

    def spy(df, bid):
        sink(df, bid)
        pending_sizes.append(len(sink.state["pending"]))

    _drain(spark, src, _TEXT_SCHEMA, spy, tmp_path / "cmp_ckpt")

    # bounded in-memory state: compactions fired at batches 2, 5, 8
    assert max(pending_sizes) <= 3 - 1  # never reaches K uncompacted
    assert sink.state["base_upto"] == 8
    assert sink.state["pending"] == {}
    assert sink.state["covered"] == set(range(9))
    # superseded index snapshots pruned; only upto=8 remains
    assert sorted(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{state}/index/upto=*")
    ) == [8]

    union = corpus
    for rows in batches:
        union = union.unionByName(spark.createDataFrame(rows, _TEXT_SCHEMA))
    scratch = DD.minhash_groups_collapsed(union, threshold=0.35, k=3)
    expected = _rows(scratch, ["cluster_id", "cluster_size"])
    DD.unpersist_intermediates(scratch)
    assert _rows(read_rosters(spark, state), ["cluster_id", "cluster_size"]) == expected
    sink.close()
    assert sink.state["base"] is None

    # restart: a fresh sink resumes from the compacted snapshot — no
    # per-batch re-signing of committed history
    sink2 = roster_maintenance_sink(
        corpus, state, threshold=0.35, k=3, compact_every=3
    )
    assert sink2.state["base_upto"] == 8
    assert sink2.state["covered"] == set(range(9))
    assert sink2.state["pending"] == {}
    # full at-least-once replay under the restarted sink: every batch
    # short-circuits (after replay validation), state unchanged
    _drain(spark, src, _TEXT_SCHEMA, sink2, tmp_path / "cmp_ckpt2")
    assert _rows(read_rosters(spark, state), ["cluster_id", "cluster_size"]) == expected
    sink2.close()


def test_roster_sink_delta_layout(spark, tmp_path):
    """VERDICT r11 #2: snapshot="delta" writes O(touched-families) rows
    per trigger — new/changed rosters plus tombstones for retired
    labels — with periodic full bases, and read_rosters reconstructs
    exactly the from-scratch state at every as_of."""
    from cql_xmlpipe_spark.operators import dedup as DD
    from cql_xmlpipe_spark.streaming.dedup import (
        read_rosters,
        roster_maintenance_sink,
    )

    fam_b = " ".join(f"bee{i}" for i in range(40))
    fam_e = " ".join(f"eel{i}" for i in range(40))
    new_fam = "first seen in batch zero text with recurring tokens here"
    corpus_rows = [(10, fam_b), (11, fam_b), (15, fam_e), (16, fam_e),
                   (20, "unique corpus doc about nothing shared at all")]
    # 200 untouched filler clone-families: the standing state the delta
    # layout exists to NOT rewrite per trigger
    corpus_rows += [
        (5000 + 2 * i + half, f"filler family {i} " + " ".join(
            f"f{i}w{t}" for t in range(10)))
        for i in range(200) for half in (0, 1)
    ]
    corpus = spark.createDataFrame(corpus_rows, _TEXT_SCHEMA)
    batches = [
        [(100, new_fam), (101, new_fam)],                      # new family
        [(130 + j, fam_b + " " + fam_e + f" glue{j}") for j in range(4)],  # merge B+E
        [(200, new_fam)],                                      # extend {100,101}
    ]
    src = tmp_path / "delta_src"
    _stage_parquet_batches(src, batches, _text_table)
    state = str(tmp_path / "delta_state")
    sink = roster_maintenance_sink(
        corpus, state, threshold=0.35, k=3, snapshot="delta", compact_every=2
    )
    _drain(spark, src, _TEXT_SCHEMA, sink, tmp_path / "delta_ckpt")
    sink.close()

    # per-trigger write amplification is touched-families only
    v0 = _rows(spark.read.parquet(f"{state}/rosters/v=0"),
               ["cluster_id", "cluster_size"])
    assert v0 == [(100, 2)]
    v1 = _rows(spark.read.parquet(f"{state}/rosters/v=1"),
               ["cluster_id", "cluster_size"])
    assert (15, 0) in v1              # tombstone for the absorbed family
    assert [c for c, s in v1 if s >= 2] == [10]   # merged roster only
    assert all(c != 100 for c, _ in v1)           # untouched family not rewritten
    v2 = _rows(spark.read.parquet(f"{state}/rosters/v=2"),
               ["cluster_id", "cluster_size"])
    assert v2 == [(100, 3)]
    # roster base compaction fired at batch 1 (K=2); middles pruned
    assert sorted(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{state}/rosters_base/upto=*")
    ) == [-1, 1]

    # written BYTES per trigger are O(touched families), not O(standing
    # state): a full-snapshot sink re-serializes all ~203 rosters at
    # batch 2, the delta sink writes the one touched family
    def _du(path):
        import os as _os

        return sum(
            _os.path.getsize(_os.path.join(r, f))
            for r, _, fs in _os.walk(path) for f in fs
        )

    full_state = str(tmp_path / "full_state")
    sink_full = roster_maintenance_sink(
        corpus, full_state, threshold=0.35, k=3, snapshot="full"
    )
    _drain(spark, src, _TEXT_SCHEMA, sink_full, tmp_path / "full_ckpt")
    sink_full.close()
    full_rows = spark.read.parquet(f"{full_state}/rosters/v=2").count()
    assert full_rows >= 202          # every standing family rewritten
    # (200 fillers + merged B∪E + {100,101,200})
    assert len(v2) == 1              # the delta wrote one
    assert _du(f"{state}/rosters/v=2") < _du(f"{full_state}/rosters/v=2") / 3
    # and both layouts reconstruct to the same state
    assert _rows(read_rosters(spark, full_state),
                 ["cluster_id", "cluster_size", "members"]) == _rows(
        read_rosters(spark, state), ["cluster_id", "cluster_size", "members"]
    )

    # reconstruction equals from-scratch at every prefix
    union = corpus
    for i, rows in enumerate(batches):
        union = union.unionByName(spark.createDataFrame(rows, _TEXT_SCHEMA))
        scratch = DD.minhash_groups_collapsed(union, threshold=0.35, k=3)
        expected = _rows(scratch, ["cluster_id", "cluster_size", "members"])
        DD.unpersist_intermediates(scratch)
        got = _rows(read_rosters(spark, state, as_of=i),
                    ["cluster_id", "cluster_size", "members"])
        assert got == expected, f"as_of={i}"
    assert _rows(read_rosters(spark, state),
                 ["cluster_id", "cluster_size", "members"]) == expected

    # full replay with a fresh checkpoint is a no-op (commit markers)
    sink2 = roster_maintenance_sink(
        corpus, state, threshold=0.35, k=3, snapshot="delta", compact_every=2
    )
    _drain(spark, src, _TEXT_SCHEMA, sink2, tmp_path / "delta_ckpt2")
    sink2.close()
    assert _rows(read_rosters(spark, state),
                 ["cluster_id", "cluster_size", "members"]) == expected


def test_embedding_roster_sink_equals_batch(spark, tmp_path):
    """VERDICT r11 #3: the embedding foreachBatch roster composition —
    a multi-file staged replay of planted power-of-two twins must leave
    exactly the from-scratch embedding rosters (geometry resolved ONCE
    at sink construction and threaded everywhere, so the equality is
    non-vacuous through the real sign-LSH path)."""
    import random as _random

    from cql_xmlpipe_spark.operators import dedup as DD
    from cql_xmlpipe_spark.streaming.dedup import (
        embedding_roster_maintenance_sink,
        read_rosters,
    )

    rng = _random.Random(1207)
    base = [
        [rng.uniform(-1.0, 1.0) for _ in range(16)] for _ in range(6)
    ]
    w = [rng.uniform(-1.0, 1.0) for _ in range(16)]
    corpus_rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    corpus_rows += [(10, [float(x) for x in w]), (11, [float(x) for x in w])]
    corpus = spark.createDataFrame(corpus_rows, _EMB_SCHEMA)
    batches = [
        [(100, [2.0 * x for x in base[0]]),
         (101, [float(x) for x in [rng.uniform(-1.0, 1.0) for _ in range(16)]])],
        [(102, [2.0 * x for x in w]),          # extends the clone family
         (103, [4.0 * x for x in base[0]])],   # extends {0, 100} cross-batch
        [(104, [2.0 * x for x in base[1]])],
    ]
    src = tmp_path / "emb_src"
    _stage_parquet_batches(src, batches, _emb_table)
    state = str(tmp_path / "emb_state")
    sink = embedding_roster_maintenance_sink(
        corpus, state, threshold=0.95, n_bands=8, band_bits=8,
        snapshot="delta", compact_every=2,
    )
    assert sink.state["corpus_staged"][0].is_cached
    _drain(spark, src, _EMB_SCHEMA, sink, tmp_path / "emb_ckpt")
    sink.close()

    union = corpus
    for rows in batches:
        union = union.unionByName(spark.createDataFrame(rows, _EMB_SCHEMA))
    scratch = DD.embedding_near_dup_groups(
        union, threshold=0.95, n_bands=8, band_bits=8
    )
    expected = _rows(scratch, ["cluster_id", "cluster_size", "members"])
    DD.unpersist_intermediates(scratch)
    got = _rows(read_rosters(spark, state),
                ["cluster_id", "cluster_size", "members"])
    assert got == expected
    by_label = {c: tuple(m) for c, _, m in got}
    assert by_label[0] == (0, 100, 103)      # cross-batch ×2/×4 family
    assert by_label[10] == (10, 11, 102)     # clone family extended


def test_embedding_probe_sink_equals_batch(spark, tmp_path):
    """The embedding probe sink twin: per-micro-batch cross pairs union
    to exactly one batch probe of the whole increment at the sink's
    frozen geometry."""
    from cql_xmlpipe_spark.operators import dedup as DD
    from cql_xmlpipe_spark.streaming.dedup import embedding_incremental_probe_sink

    vecs = [
        [float((i * 7 + j) % 5 - 2) or 1.0 for j in range(8)] for i in range(4)
    ]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], _EMB_SCHEMA
    )
    batches = [
        [(100, [2.0 * x for x in vecs[0]]), (101, [2.0 * x for x in vecs[1]])],
        [(102, [2.0 * x for x in vecs[2]])],
    ]
    src = tmp_path / "ep_src"
    _stage_parquet_batches(src, batches, _emb_table)
    out = str(tmp_path / "ep_out")
    sink = embedding_incremental_probe_sink(
        corpus, out, threshold=0.95, n_bands=8, band_bits=8
    )
    nb, bb = sink.geometry
    assert (nb, bb) == (8, 8)
    _drain(spark, src, _EMB_SCHEMA, sink, tmp_path / "ep_ckpt")

    got = _rows(spark.read.parquet(out), ["inc_id", "corpus_id", "cos"])
    increment = spark.createDataFrame(
        [r for rows in batches for r in rows], _EMB_SCHEMA
    )
    expected_df = DD.embedding_incremental_probe_pairs(
        corpus, increment, threshold=0.95, n_bands=8, band_bits=8
    )
    expected = _rows(expected_df, ["inc_id", "corpus_id", "cos"])
    DD.unpersist_intermediates(expected_df)
    assert got == expected
    assert {(100, 0), (101, 1), (102, 2)} <= {(a, b) for a, b, _ in got}
    # cleanup handle releases the staged corpus index
    assert sink.staged.is_cached
    sink.close()
    assert not sink.staged.is_cached


def test_probe_sink_close_releases_caches(spark):
    """ADVICE r11: the text probe sink exposes close() so a long-lived
    ingest session can release the staged corpus index."""
    from cql_xmlpipe_spark.streaming.dedup import incremental_probe_sink

    corpus = spark.createDataFrame(
        [(1, "some corpus document text here"), (2, "another corpus doc")],
        _TEXT_SCHEMA,
    )
    sink = incremental_probe_sink(corpus, "/tmp/unused_probe_out")
    sets, buckets = sink.staged
    assert sets.is_cached and buckets.is_cached
    sink.close()
    assert not sets.is_cached and not buckets.is_cached


def test_roster_sink_rejects_redelivered_ids(spark, tmp_path):
    """VERDICT r11 #4: a NEW batch carrying an already-ingested doc_id
    (an upstream update, not a Spark replay) violates the roster
    update's disjointness precondition and fails the stream loudly
    with the remediation, instead of silently double-counting."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from cql_xmlpipe_spark.streaming.dedup import roster_maintenance_sink

    fam = "shared family text with many common tokens across documents"
    corpus = spark.createDataFrame(
        [(1, fam), (2, fam), (3, "other unique corpus text entirely")],
        _TEXT_SCHEMA,
    )
    src = tmp_path / "redeliver_src"
    _stage_parquet_batches(
        src, [[(100, fam)], [(1, fam + " updated upstream")]], _text_table
    )
    state = str(tmp_path / "redeliver_state")
    sink = roster_maintenance_sink(corpus, state, threshold=0.35, k=3)
    from pyspark.sql import types as T

    q = (
        spark.readStream.schema(T._parse_datatype_string(_TEXT_SCHEMA))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "redeliver_ckpt"))
        .start()
    )
    with pytest.raises(StreamingQueryException) as ei:
        q.awaitTermination(600)
    sink.close()
    assert "redelivers already-ingested ids [1]" in str(ei.value)
    assert "anti-join" in str(ei.value)


def test_roster_sink_rejects_foreign_state(spark, tmp_path):
    """ADVICE r11: pointing a NEW stream (fresh checkpoint, different
    source) at an existing state_path must fail loudly instead of
    silently dropping the new batches as phantom replays — the sink
    validates every replayed batch against the stored batch's rows."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from cql_xmlpipe_spark.streaming.dedup import roster_maintenance_sink

    fam = "shared family text with many common tokens across documents"
    corpus = spark.createDataFrame(
        [(1, fam), (2, fam)], _TEXT_SCHEMA
    )
    src_a = tmp_path / "foreign_src_a"
    _stage_parquet_batches(src_a, [[(100, fam)]], _text_table)
    state = str(tmp_path / "foreign_state")
    sink = roster_maintenance_sink(corpus, state, threshold=0.35, k=3)
    _drain(spark, src_a, _TEXT_SCHEMA, sink, tmp_path / "foreign_ckpt_a")
    sink.close()

    # unrelated source, fresh checkpoint, SAME state_path: its batch 0
    # collides with the committed batch 0 and must be refused
    src_b = tmp_path / "foreign_src_b"
    _stage_parquet_batches(
        src_b, [[(500, "completely different stream content here")]], _text_table
    )
    sink2 = roster_maintenance_sink(corpus, state, threshold=0.35, k=3)
    from pyspark.sql import types as T

    q = (
        spark.readStream.schema(T._parse_datatype_string(_TEXT_SCHEMA))
        .parquet(str(src_b))
        .writeStream.foreachBatch(sink2)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "foreign_ckpt_b"))
        .start()
    )
    with pytest.raises(StreamingQueryException) as ei:
        q.awaitTermination(600)
    sink2.close()
    assert "managed as a unit" in str(ei.value)


def test_list_child_ids_skips_junk_dirs(spark, tmp_path):
    """VERDICT r11 #6: a stray non-numeric v=… / batch=… directory in
    the sink state (partial copy, manual touch) is skipped with a
    warning instead of crashing the sink."""
    import warnings as _warnings

    from cql_xmlpipe_spark.streaming.dedup import (
        _list_child_ids,
        roster_maintenance_sink,
    )

    fam = "shared family text with many common tokens across documents"
    corpus = spark.createDataFrame([(1, fam), (2, fam)], _TEXT_SCHEMA)
    state = tmp_path / "junk_state"
    sink = roster_maintenance_sink(corpus, str(state), threshold=0.35, k=3)
    sink.close()
    (state / "rosters" / "v=abc").mkdir(parents=True)
    (state / "rosters" / "v=0.5").mkdir()
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        ids = _list_child_ids(spark, f"{state}/rosters", "v")
        assert ids == [-1]
        assert sum("non-numeric" in str(w.message) for w in caught) == 2
    # a fresh sink over the polluted state still constructs and skips
    # the junk (v=-1 present, so no rebuild)
    sink2 = roster_maintenance_sink(corpus, str(state), threshold=0.35, k=3)
    sink2.close()


def test_streaming_lm_score_equals_batch(spark, tmp_path):
    """The frozen-LM scoring sink: micro-batches scored against the
    once-staged corpus LM must union to exactly the all-at-once scoring
    of the whole increment (scores depend only on the doc's own bigrams
    and the frozen tables). Also exercises the OOV path: batch docs
    carry bigrams the corpus LM never saw."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from cql_xmlpipe_spark.streaming.lm import (
        lm_score_sink,
        score_docs_with_lm,
        stage_bigram_lm,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the cat sat on the mat near the cat"),
            (2, "the dog ran to the mat and the dog sat"),
            (3, "a bird flew over the mat"),
        ],
        "doc_id long, text string",
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    batches = [
        [(100, "the cat sat"), (101, "totally novel words here")],  # OOV-heavy
        [(102, "the dog sat on the mat"), (103, "the mat")],
        [(104, "quantum flux capacitors hum")],
    ]
    src = tmp_path / "lm_src"
    src.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        f = str(src / f"part-{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            f,
        )
        os.utime(f, (now - 300 + 100 * i, now - 300 + 100 * i))

    out = str(tmp_path / "scores_out")
    sink = lm_score_sink(corpus, out)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "lm_ckpt"))
        .start()
    )
    assert q.awaitTermination(300)
    sink.close()

    got = {
        r["doc_id"]: (r["n_bigrams"], r["n_oov_bigrams"], r["ce_nats"])
        for r in spark.read.parquet(out).collect()
    }
    increment = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string"
    )
    lm = stage_bigram_lm(corpus)
    want = {
        r["doc_id"]: (r["n_bigrams"], r["n_oov_bigrams"], r["ce_nats"])
        for r in score_docs_with_lm(lm, increment).collect()
    }
    for fr in lm[:2]:
        fr.unpersist()
    assert got == want
    # the all-novel docs are fully OOV; corpus-phrased docs are not
    assert got[101][1] == got[101][0] > 0
    assert got[104][1] == got[104][0] > 0
    assert got[102][1] < got[102][0]
    # OOV-heavy docs score strictly worse (higher ce) than in-LM docs
    assert got[101][2] > got[102][2]


def test_ann_topk_probe_sink_equals_batch(spark, tmp_path):
    """r13 verdict task 5: the retrieval twin of the dedup probe sinks.
    The IVF/PQ index is built ONCE at sink construction; per-micro-batch
    top-k outputs union to exactly one query of the whole increment
    (per-query independence), and close() releases the cached index."""
    import pyarrow as pa

    from cql_xmlpipe_spark.operators.similarity import (
        ivf_query,
        ivfpq_query,
        pq_query,
    )
    from cql_xmlpipe_spark.streaming.ann import ann_topk_probe_sink

    def _q_table(rows):
        return pa.table(
            {
                "q_id": pa.array([r[0] for r in rows], pa.int64()),
                "q_emb": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
            }
        )

    import math
    import random

    rng = random.Random(5)
    dim = 16
    rows = []
    vid = 0
    for c in range(8):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        for _ in range(10):
            v = [x + rng.gauss(0, 0.1) for x in center]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((vid, [float(x / n) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(rows, _EMB_SCHEMA).persist()
    corpus.count()
    queries = [(1000 + i, rows[i * 9][1]) for i in range(6)]
    batches = [queries[:2], queries[2:5], queries[5:]]
    q_schema = "q_id long, q_emb array<float>"

    for algo in ("ivf", "pq", "ivfpq"):
        src = tmp_path / f"ann_src_{algo}"
        _stage_parquet_batches(src, batches, _q_table)
        out = str(tmp_path / f"ann_out_{algo}")
        sink = ann_topk_probe_sink(
            corpus, out, algo=algo, k=5, n_cells=6, n_probe=2, m=4, ks=8,
            shortlist=20,
        )
        assert sink.params["kind"] == algo
        _drain(spark, src, q_schema, sink, tmp_path / f"ann_ckpt_{algo}")

        got = _rows(spark.read.parquet(out), ["q_id", "vec_id", "rank", "cos"])
        all_q = spark.createDataFrame(queries, q_schema)
        if algo == "ivf":
            want_df = ivf_query(
                corpus, all_q, sink.index_rows, sink.params["centers"],
                k=5, n_probe=2,
            )
        elif algo == "ivfpq":
            want_df = ivfpq_query(
                corpus, all_q, sink.index_rows, sink.params["centers"],
                sink.params["books"], k=5, n_probe=2, shortlist=20,
            )
        else:
            want_df = pq_query(
                corpus, all_q, sink.index_rows, sink.params["books"],
                k=5, shortlist=20,
            )
        assert got == _rows(want_df, ["q_id", "vec_id", "rank", "cos"])
        assert len(got) == 6 * 5
        assert sink.index_rows.is_cached
        sink.close()
        assert not sink.index_rows.is_cached
