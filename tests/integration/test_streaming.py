"""Streaming tests (SURVEY §2 A8, C3-C6 [R] gates): file-source →
processor pipeline → memory sink; windowed/session aggs with
watermarks; built-in and applyInPandasWithState stateful ops.

All queries run with ``availableNow`` triggers so results are
deterministic and bounded."""

import json

import pytest

from tests.conftest import slow_tier

from logprep_spark.operators import Calculator, FieldManager
from logprep_spark.sources import DummyOutput, JsonlInput
from logprep_spark.streaming import (
    StreamingPipeline,
    dedupe_stream,
    running_totals,
    sessionize_stream,
    tumbling_counts,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _events(tmp_path, rows, name="stream-in"):
    d = tmp_path / name
    d.mkdir()
    (d / "part-0.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    return str(d)


def _run(query):
    query.awaitTermination(120)
    query.stop()


def _ts(minute, second=0):
    # minutes past 59 roll into the hour (a "10:60:00" literal would
    # silently parse to null and freeze the watermark)
    return f"2026-01-01T{10 + minute // 60:02d}:{minute % 60:02d}:{second:02d}Z"


ROWS = [
    {"event_id": 1, "ts": _ts(0), "user_id": 1, "event_type": "login", "value": 1.0},
    {"event_id": 2, "ts": _ts(0, 30), "user_id": 1, "event_type": "click", "value": 2.0},
    {"event_id": 3, "ts": _ts(1), "user_id": 2, "event_type": "click", "value": 3.0},
    {"event_id": 4, "ts": _ts(45), "user_id": 1, "event_type": "click", "value": 4.0},
]


@pytest.fixture()
def stream_df(spark, tmp_path):
    return JsonlInput(_events(tmp_path, ROWS), SCHEMA).read_stream(spark)


def test_streaming_pipeline_same_processors_as_batch(spark, tmp_path):
    """The batch Processor objects run unchanged on a stream."""
    procs = [
        Calculator(rules=[{"filter": "event_type: click",
                           "calculator": {"target_field": "value_x10",
                                          "calc": "${value} * 10"}}]),
        FieldManager(rules=[{"filter": "*",
                             "field_manager": {"source_fields": ["user_id"],
                                               "target_field": "meta.uid"}}]),
    ]
    pipe = StreamingPipeline(
        JsonlInput(_events(tmp_path, ROWS), SCHEMA), procs, DummyOutput()
    )
    query = pipe.run(spark, query_name="pipe_out")
    _run(query)
    out = {r.event_id: r for r in spark.sql("SELECT * FROM pipe_out").collect()}
    assert out[2].value_x10 == 20.0
    assert out[1].value_x10 is None  # login: rule filter didn't match
    assert out[3].meta.uid == 2


def test_tumbling_counts_watermark(spark, stream_df):
    q = (
        tumbling_counts(stream_df, window="1 minute", watermark="5 minutes")
        .writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    got = {
        (r.window_start.minute, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    # watermark advanced to 10:40 by the minute-45 event → first two
    # windows closed and emitted in append mode; the 10:45 window stays open
    assert got[(0, "login")] == 1
    assert got[(0, "click")] == 1
    assert got[(1, "click")] == 1
    assert (45, "click") not in got


def test_sessionize_stream(spark, stream_df):
    q = (
        sessionize_stream(stream_df, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    got = sorted(
        (r.user_id, r.n_events, r.session_start.minute)
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    )
    # user 1: events at 10:00/10:00:30 then 10:45 → two sessions (gap>30m)
    assert got == [(1, 1, 45), (1, 2, 0), (2, 1, 1)]


def test_dedupe_stream(spark, tmp_path):
    rows = ROWS + [
        {"event_id": 5, "ts": _ts(1, 10), "user_id": 9, "event_type": "click", "value": 9.0},
    ]
    df = JsonlInput(_events(tmp_path, rows), SCHEMA).read_stream(spark)
    q = (
        dedupe_stream(df, keys=["event_type"], watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    out = spark.sql("SELECT event_type, count(*) n FROM dedup_out GROUP BY 1").collect()
    assert {r.event_type: r.n for r in out} == {"login": 1, "click": 1}


def _two_batch_source(spark, tmp_path, name, batch1_rows, batch2_rows, schema=SCHEMA):
    """File source split into two ordered micro-batches (mtime orders
    FileStreamSource's oldest-first listing; maxFilesPerTrigger=1)."""
    import os
    import time

    d = tmp_path / name
    d.mkdir()
    f0, f1 = d / "part-0.jsonl", d / "part-1.jsonl"
    f0.write_text("\n".join(json.dumps(r) for r in batch1_rows) + "\n")
    f1.write_text("\n".join(json.dumps(r) for r in batch2_rows) + "\n")
    now = time.time()
    os.utime(f0, (now - 60, now - 60))
    os.utime(f1, (now, now))
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(d))
    )


def test_watermark_advances_across_batches(spark, tmp_path):
    """Append-mode finality across micro-batches: batch 1's windows
    stay open (watermark behind), batch 2's 10:45 event advances the
    watermark to 10:40 which closes and emits them; the 10:45 window
    itself remains open and must NOT be in the sink."""
    early = [r for r in ROWS if r["event_id"] != 4]
    late_batch = [dict(ROWS[3])]  # the 10:45 event arrives later
    src = _two_batch_source(spark, tmp_path, "wm-in", early, late_batch)
    q = (
        tumbling_counts(src, window="1 minute", watermark="5 minutes")
        .writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    got = {
        (r.window_start.minute, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM wm_out").collect()
    }
    assert got == {(0, "login"): 1, (0, "click"): 1, (1, "click"): 1}


def test_dedupe_stream_drops_late_duplicate(spark, tmp_path):
    """dropDuplicatesWithinWatermark filters input below the watermark:
    a duplicate key arriving after the watermark passed its event time
    is dropped as late — NOT re-emitted even though its dedup state
    was already evicted. (Streaming aggregation does not make this
    guarantee in Spark 4 — only dedup/joins filter late input.)"""
    batch1 = [
        {"event_id": 1, "ts": _ts(0), "user_id": 1, "event_type": "login", "value": 1.0},
        {"event_id": 4, "ts": _ts(45), "user_id": 1, "event_type": "click", "value": 4.0},
    ]
    # same dedup key as event 1, event time far below watermark (10:35)
    batch2 = [
        {"event_id": 9, "ts": _ts(0, 5), "user_id": 9, "event_type": "login", "value": 9.0},
    ]
    src = _two_batch_source(spark, tmp_path, "latedup-in", batch1, batch2)
    q = (
        dedupe_stream(src, keys=["event_type"], watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("latedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    out = spark.sql("SELECT event_type, count(*) n FROM latedup_out GROUP BY 1").collect()
    assert {r.event_type: r.n for r in out} == {"login": 1, "click": 1}


def test_stream_static_broadcast_enrich(spark, stream_df):
    """Stream-static join: the static dim is broadcast per micro-batch
    (no stream-side shuffle) — the streaming face of generic_adder's
    big-list enrichment path."""
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [("login", "auth"), ("click", "ui")], "event_type string, category string"
    )
    enriched = stream_df.join(F.broadcast(dim), "event_type", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    got = {r.event_id: r.category for r in spark.sql("SELECT * FROM enrich_out").collect()}
    assert got == {1: "auth", 2: "ui", 3: "ui", 4: "ui"}


def test_pre_detector_stream_side_output(spark, tmp_path):
    """Extra-event emission on a stream: the same source feeds the
    main pipeline sink AND the alert side-output sink as two queries."""
    from logprep_spark.operators import PreDetector

    rows = [dict(r, **{"@timestamp": r["ts"]}) for r in ROWS]
    src_dir = _events(tmp_path, rows, "pd-in")
    schema = SCHEMA + ", `@timestamp` string"
    proc = PreDetector(
        [{"filter": "event_type: login", "pre_detector": {
            "id": "rule-1", "title": "login seen", "severity": "low",
            "mitre": ["T1078"]}}],
        id_fields=["event_id"],
    )

    src = JsonlInput(src_dir, schema).read_stream(spark)
    main_q = (
        proc.transform(src)
        .writeStream.format("memory").queryName("pd_main")
        .trigger(availableNow=True).start()
    )
    alert_q = (
        proc.detections(JsonlInput(src_dir, schema).read_stream(spark))
        .writeStream.format("memory").queryName("pd_alerts")
        .trigger(availableNow=True).start()
    )
    _run(main_q)
    _run(alert_q)
    main = {r.event_id: r for r in spark.sql("SELECT * FROM pd_main").collect()}
    alerts = spark.sql("SELECT * FROM pd_alerts").collect()
    assert main[1].pre_detection_id is not None
    assert main[2].pre_detection_id is None
    assert len(alerts) == 1
    assert alerts[0].rule_id == "rule-1" and alerts[0].severity == "low"
    assert alerts[0].pre_detection_id == main[1].pre_detection_id


def test_running_totals_stateful(spark, stream_df):
    q = (
        running_totals(stream_df)
        .writeStream.format("memory")
        .queryName("totals_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    got = {r.user_id: (r.n_events, r.sum_value)
           for r in spark.sql("SELECT * FROM totals_out").collect()}
    assert got[1] == (3, 7.0)
    assert got[2] == (1, 3.0)


def test_dedupe_near_stream(spark, tmp_path):
    """Signature-identical docs (exact near-dup fingerprint) are
    suppressed within the watermark; distinct docs pass."""
    from logprep_spark.streaming import dedupe_near_stream

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        {"doc_id": 1, "ts": _ts(0), "text": base},
        {"doc_id": 2, "ts": _ts(1), "text": base},  # identical signature → dropped
        {"doc_id": 3, "ts": _ts(2), "text": "a completely different document body here"},
    ]
    df = JsonlInput(
        _events(tmp_path, rows, name="neardup-in"),
        "doc_id long, ts timestamp, text string",
    ).read_stream(spark)
    q = (
        dedupe_near_stream(df, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("neardup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    out = spark.sql("SELECT doc_id FROM neardup_out").collect()
    kept = sorted(r.doc_id for r in out)
    assert 3 in kept and len(kept) == 2 and kept[0] in (1, 2)
    cols = spark.sql("SELECT * FROM neardup_out").columns
    assert cols == ["doc_id", "ts", "text"]  # helper columns dropped


def test_sliding_counts_overlapping_windows(spark, stream_df):
    from logprep_spark.streaming import sliding_counts

    out = sliding_counts(stream_df, window="2 minutes", slide="1 minute")
    q = (out.writeStream.format("memory").queryName("slide_out")
         .outputMode("append").trigger(availableNow=True).start())
    _run(q)
    rows = spark.sql(
        "SELECT window_start, event_type, n_events FROM slide_out").collect()
    # event at 10:01 (click, user 2) lands in the [10:00,10:02) and
    # [10:01,10:03) windows
    clicks_1000 = {(str(r.window_start), r.n_events)
                   for r in rows if r.event_type == "click"}
    assert ("2026-01-01 10:00:00", 2) in clicks_1000  # 10:00:30 + 10:01
    assert ("2026-01-01 10:01:00", 1) in clicks_1000  # 10:01 again


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream join: clicks pair with the SAME user's logins in
    the preceding 10 minutes; both sides watermarked so state is
    evictable (the only shape that survives an unbounded run)."""
    from pyspark.sql import functions as F

    from logprep_spark.streaming import interval_join

    logins = [
        {"event_id": 10, "ts": _ts(0), "user_id": 1, "event_type": "login", "value": 0.0},
        {"event_id": 11, "ts": _ts(40), "user_id": 1, "event_type": "login", "value": 0.0},
        {"event_id": 12, "ts": _ts(2), "user_id": 2, "event_type": "login", "value": 0.0},
    ]
    clicks = [
        {"event_id": 20, "ts": _ts(5), "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": 21, "ts": _ts(45), "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": 22, "ts": _ts(30), "user_id": 2, "event_type": "click", "value": 1.0},
    ]
    left = JsonlInput(_events(tmp_path, clicks, "clicks"), SCHEMA).read_stream(spark)
    right = JsonlInput(_events(tmp_path, logins, "logins"), SCHEMA).read_stream(spark)
    joined = interval_join(
        left.select("event_id", "ts", "user_id"),
        right.select(F.col("event_id").alias("login_id"), "ts", "user_id"),
        key="user_id", within="10 minutes",
    )
    q = (joined.writeStream.format("memory").queryName("ssj_out")
         .outputMode("append").trigger(availableNow=True).start())
    _run(q)
    pairs = {(r.event_id, r.login_id)
             for r in spark.sql("SELECT event_id, login_id FROM ssj_out").collect()}
    # click@10:05/u1 ← login@10:00/u1; click@10:45/u1 ← login@10:40/u1;
    # click@10:30/u2 has no login within 10 min (login was 10:02)
    assert pairs == {(20, 10), (21, 11)}


def test_kafka_fake_broker_windowed_agg(spark, tmp_path):
    """KafkaInput against the injectable fake broker: records produced
    across two partitions carry monotonically increasing per-partition
    offsets, flow through the PRODUCTION decode/parse path (value cast
    + from_json), and drive a watermarked tumbling windowed agg.
    Records produced between micro-batches are picked up like new
    broker messages."""
    from pyspark.sql import functions as F

    from logprep_spark.sources import KafkaInput
    from logprep_spark.sources.fake_kafka import FakeKafkaBroker

    broker = FakeKafkaBroker(str(tmp_path / "broker"))

    def produce(minute, second, user, etype, partition):
        row = {"event_id": minute * 100 + second, "ts": _ts(minute, second),
               "user_id": user, "event_type": etype, "value": 1.0}
        return broker.produce("events", json.dumps(row), key=str(user),
                              partition=partition, timestamp=_ts(minute, second))

    assert produce(0, 10, 1, "click", 0) == 0
    assert produce(0, 40, 2, "click", 1) == 0   # own offset sequence
    assert produce(1, 5, 1, "click", 0) == 1
    assert produce(2, 0, 1, "login", 0) == 2

    # wire contract: offsets monotonic per partition, keys/topic real
    wire = broker.wire_frame(spark, "events")
    per_part = {
        (r.partition, r.offset): bytes(r.key).decode()
        for r in wire.collect()
    }
    assert per_part == {(0, 0): "1", (1, 0): "2", (0, 1): "1", (0, 2): "1"}

    source = KafkaInput(
        "fake:9092", "events", schema=SCHEMA,
        kafka_config={"bootstrap.servers": "fake:9092", "group.id": "g"},
        broker=broker,
    ).read_stream(spark)
    agg = (
        source.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").cast("string").alias("w"), "event_type", "n")
    )
    q = (agg.writeStream.format("memory").queryName("kafka_agg")
         .outputMode("complete").trigger(availableNow=True).start())
    _run(q)
    got = {(r.w, r.event_type): r.n
           for r in spark.sql("SELECT * FROM kafka_agg").collect()}
    assert got == {
        ("2026-01-01 10:00:00", "click"): 2,
        ("2026-01-01 10:01:00", "click"): 1,
        ("2026-01-01 10:02:00", "login"): 1,
    }

    # a later produce lands in the next run like a new broker record
    produce(2, 30, 3, "login", 1)
    q2 = (agg.writeStream.format("memory").queryName("kafka_agg2")
          .outputMode("complete").trigger(availableNow=True).start())
    _run(q2)
    got2 = {(r.w, r.event_type): r.n
            for r in spark.sql("SELECT * FROM kafka_agg2").collect()}
    assert got2[("2026-01-01 10:02:00", "login")] == 2


def test_kafka_to_opensearch_full_wire(spark, tmp_path):
    """Production-shaped wire, every hop real: fake-broker kafka
    records -> KafkaInput decode/parse -> batch Processor objects on
    the stream -> foreachBatch OpenSearch bulk over real HTTP to a
    stdlib _bulk listener."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from logprep_spark.sources import KafkaInput
    from logprep_spark.sources.fake_kafka import FakeKafkaBroker
    from logprep_spark.sources.outputs import OpensearchOutput

    state, lock = {"docs": []}, threading.Lock()

    class BulkHandler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            lines = body.decode().splitlines()
            with lock:
                state["docs"].extend(json.loads(d) for d in lines[1::2])
            resp = b'{"errors": false, "items": []}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), BulkHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        broker = FakeKafkaBroker(str(tmp_path / "broker"))
        for i, etype in enumerate(["click", "error", "click"]):
            broker.produce("ev", json.dumps(
                {"event_id": i, "ts": _ts(i), "user_id": 1,
                 "event_type": etype, "value": float(i)}), partition=i % 2)

        source = KafkaInput(
            "fake:9092", "ev", schema=SCHEMA,
            kafka_config={"bootstrap.servers": "fake:9092"}, broker=broker,
        ).read_stream(spark)
        piped = Calculator(rules=[{
            "filter": "event_type: click",
            "calculator": {"target_field": "value_x10", "calc": "${value} * 10"},
        }]).transform(source)
        sink = OpensearchOutput(
            index="wire-idx",
            hosts=[f"http://127.0.0.1:{srv.server_port}"],
        )
        q = sink.write_stream(piped, checkpoint=str(tmp_path / "ckpt"))
        _run(q)
        docs = {d["event_id"]: d for d in state["docs"]}
        assert set(docs) == {0, 1, 2}
        assert docs[0]["value_x10"] == 0.0 and docs[2]["value_x10"] == 20.0
        assert docs[1]["value_x10"] is None  # error event: rule did not match
    finally:
        srv.shutdown()
        srv.server_close()


def test_session_window_over_stream_join_evicts_state(spark, tmp_path):
    """Two chained stateful operators in ONE query — stream-stream
    interval join feeding a session_window agg — with both sides
    watermarked so BOTH state stores evict: the shape that runs
    indefinitely on a cluster. Sessions close as later micro-batches
    advance the watermark, and the progress metrics prove state stays
    bounded (rows removed > 0, totals ≪ rows seen)."""
    from pyspark.sql import functions as F

    def _files(name, files):
        import os as _os
        import time as _time

        d = tmp_path / name
        d.mkdir()
        base = _time.time() - 3600
        for i, rows in enumerate(files):
            p = d / f"p{i}.jsonl"
            p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
            # FileStreamSource orders by mtime; identical timestamps
            # make the per-batch file pick nondeterministic, and the
            # watermark progression (hence which sessions close before
            # stop) depends on that order — pin it
            _os.utime(p, (base + i, base + i))
        return str(d)

    clicks = _files("clicks", [
        [{"event_id": 20, "ts": _ts(5), "user_id": 1, "event_type": "click", "value": 1.0},
         {"event_id": 21, "ts": _ts(6), "user_id": 1, "event_type": "click", "value": 1.0}],
        [{"event_id": 22, "ts": _ts(50), "user_id": 1, "event_type": "click", "value": 1.0}],
        [{"event_id": 23, "ts": _ts(80), "user_id": 2, "event_type": "click", "value": 1.0}],
    ])
    logins = _files("logins", [
        [{"event_id": 10, "ts": _ts(0), "user_id": 1, "event_type": "login", "value": 0.0}],
        [{"event_id": 11, "ts": _ts(48), "user_id": 1, "event_type": "login", "value": 0.0}],
        [{"event_id": 12, "ts": _ts(79), "user_id": 2, "event_type": "login", "value": 0.0}],
    ])
    # maxFilesPerTrigger=1 → one file per micro-batch, so the
    # watermark advances across batches and closes earlier sessions
    left = (spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
            .json(clicks).withWatermark("ts", "10 minutes"))
    right = (spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
             .json(logins)
             .select(F.col("event_id").alias("login_id"),
                     F.col("ts").alias("rts"), F.col("user_id").alias("ruid"))
             .withWatermark("rts", "10 minutes"))
    joined = left.join(
        right,
        (F.col("user_id") == F.col("ruid"))
        & (F.col("rts") <= F.col("ts"))
        & (F.col("rts") >= F.col("ts") - F.expr("INTERVAL 10 minutes")),
        "inner",
    )
    sess = (
        joined.groupBy(F.session_window("ts", "15 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").cast("string").alias("session_start"),
                F.col("win.end").cast("string").alias("session_end"),
                "user_id", "n_events")
    )
    q = (sess.writeStream.format("memory").queryName("sess_join_out")
         .outputMode("append").trigger(availableNow=True).start())
    _run(q)

    rows = {tuple(r) for r in spark.sql(
        "SELECT session_start, user_id, n_events FROM sess_join_out").collect()}
    # u1's two joined clicks at 10:05/10:06 form one session closed by
    # the 10:50 click's watermark; later sessions stay open at stop
    assert ("2026-01-01 10:05:00", 1, 2) in rows

    ops = [
        (s["operatorName"], s["numRowsTotal"], s["numRowsRemoved"])
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    ]
    assert any(n > 0 for op, _, n in ops if "sessionWindow" in op)  # session evicted
    assert any(n > 0 for op, _, n in ops if "symmetricHashJoin" in op)  # join evicted
    # bounded: the join store peaks at 5 (3 clicks + 2 logins inside
    # the watermark horizon at batch 1, before eviction kicks in) and
    # never holds all 7 input rows; the session store never exceeds 2
    assert all(total <= 5 for op, total, _ in ops)
    assert all(total <= 2 for op, total, _ in ops if "sessionWindow" in op)


def test_kafka_neardup_to_opensearch_wire_eviction(spark, tmp_path):
    """Full wire with bounded state: fake-broker kafka docs ->
    KafkaInput decode -> streaming near-dup suppression
    (dropDuplicatesWithinWatermark on the MinHash signature) ->
    foreachBatch OpenSearch bulk over real HTTP. Three runs on one
    checkpoint: a duplicate inside the horizon is suppressed, the
    watermark then evicts the old fingerprints, and the SAME text
    re-posted after the horizon is admitted again — eviction proven
    semantically and by state-store row counts."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from logprep_spark.sources import KafkaInput
    from logprep_spark.sources.fake_kafka import FakeKafkaBroker
    from logprep_spark.sources.outputs import OpensearchOutput
    from logprep_spark.streaming import dedupe_near_stream

    state, lock = {"docs": []}, threading.Lock()

    class BulkHandler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            with lock:
                state["docs"].extend(
                    json.loads(d) for d in body.decode().splitlines()[1::2])
            resp = b'{"errors": false, "items": []}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), BulkHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        broker = FakeKafkaBroker(str(tmp_path / "broker"))
        base = "the quick brown fox jumps over the lazy dog again and again today"
        other = "a completely different document body mentioning unrelated things"
        fresh = "yet another body of text that shares nothing with the others"

        def produce(doc_id, minute, text):
            broker.produce("docs", json.dumps(
                {"doc_id": doc_id, "ts": _ts(minute), "text": text}))

        def run():
            source = KafkaInput(
                "fake:9092", "docs", schema="doc_id long, ts timestamp, text string",
                kafka_config={"bootstrap.servers": "fake:9092"}, broker=broker,
            ).read_stream(spark)
            sink = OpensearchOutput(
                index="docs-idx", hosts=[f"http://127.0.0.1:{srv.server_port}"])
            q = sink.write_stream(
                dedupe_near_stream(source, watermark="10 minutes"),
                checkpoint=str(tmp_path / "ckpt"))
            _run(q)
            return q

        # run 1: dup inside the horizon suppressed
        produce(1, 0, base)
        produce(2, 1, base)
        produce(3, 2, other)
        run()
        ids = sorted(d["doc_id"] for d in state["docs"])
        assert 3 in ids and len(ids) == 2 and ids[0] in (1, 2)

        # run 2: t=60 advances the watermark far past run 1's docs
        # (eviction itself lands at the END of the NEXT batch, which
        # checks state against the batch-START watermark)
        produce(4, 60, fresh)
        run()
        assert sorted(d["doc_id"] for d in state["docs"])[-1] == 4

        # run 3: this batch starts with watermark 10:50, so run 1's
        # fingerprints are evicted while doc 5 is admitted
        produce(5, 62, "yet another fresh body to push one more batch through")
        run()

        # run 4: SAME text as doc 1, after the horizon — its old
        # fingerprint is gone, so it is admitted again
        produce(6, 63, base)
        q4 = run()
        assert sorted(d["doc_id"] for d in state["docs"])[-1] == 6

        totals = [s["numRowsTotal"] for p in q4.recentProgress
                  for s in p.get("stateOperators", [])]
        # state holds only the fingerprints inside the horizon (docs
        # 4, 5, 6), never all 5+ distinct signatures ever seen
        assert totals and max(totals) <= 3
    finally:
        srv.shutdown()
        srv.server_close()


def test_kafka_unknown_topic_rejected(spark, tmp_path):
    """A typo'd topic fails fast like a real broker's unknown-topic
    error instead of yielding a silently empty stream."""
    from logprep_spark.sources.fake_kafka import FakeKafkaBroker
    from logprep_spark.sources.inputs import KafkaInput

    broker = FakeKafkaBroker(str(tmp_path / "broker"))
    broker.produce("events", '{"a": 1}')
    inp = KafkaInput(
        topic="evnets", bootstrap_servers="fake:9092", broker=broker
    )
    with pytest.raises(ValueError, match="unknown topic 'evnets'"):
        inp.read_stream(spark)


def test_heavy_hitters_stream_bounded_state(spark, tmp_path):
    """Skewed items across multiple micro-batches: the hot items
    survive in state with counts within the MG error bound, counts
    accumulate across batches, and every bucket's state stays under
    its k-1 counter cap regardless of distinct-item count."""
    import os as _os
    import time as _time

    from logprep_spark.streaming import heavy_hitters_stream

    d = tmp_path / "hh-in"
    d.mkdir()
    base = _time.time() - 3600
    # 3 files -> 3 micro-batches with maxFilesPerTrigger=1:
    # 'hot' 60x + 'warm' 24x spread over batches, 90 singletons
    for i in range(3):
        rows = (
            [{"item": "hot"}] * 20
            + [{"item": "warm"}] * 8
            + [{"item": f"cold{i}_{j}"} for j in range(30)]
        )
        p = d / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        _os.utime(p, (base + i, base + i))

    df = (spark.readStream.schema("item string")
          .option("maxFilesPerTrigger", 1).json(str(d)))
    k, n_buckets = 8, 4
    q = (heavy_hitters_stream(df, "item", n_buckets=n_buckets, k=k)
         .writeStream.format("memory").queryName("hh_out")
         .outputMode("update").trigger(availableNow=True).start())
    _run(q)

    rows = spark.sql("SELECT * FROM hh_out").collect()
    # final (largest) lower-bound count per item across batch emissions
    final = {}
    for r in rows:
        final[r.item] = max(final.get(r.item, 0), r.count_lb)
    # MG guarantee: undercount by at most n_bucket_items/k; 'hot'
    # shares its bucket with at most all 138 items -> slack 138/8
    assert "hot" in final and final["hot"] >= 60 - 138 // k
    assert final["hot"] <= 60  # lower bound never exceeds the truth
    # state bounded by BUCKET count, not item cardinality: one state
    # row per bucket (each holding <= k-1 counters), never one per
    # distinct item — 120 cold items would otherwise mean 120+ rows
    totals = [
        s["numRowsTotal"]
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    ]
    assert totals and max(totals) <= n_buckets


def test_rate_anomaly_stream_flags_spike(spark, tmp_path):
    """Four learn batches at a steady per-type rate, then a 10x spike
    for one type: only that (type, batch) is flagged, the learn
    batches never alert, and state stays one row per key."""
    import os as _os
    import time as _time

    from logprep_spark.streaming import rate_anomaly_stream

    d = tmp_path / "anom-in"
    d.mkdir()
    base = _time.time() - 3600
    # batches 0-3: login 10/batch +-1, error 5/batch (learning)
    counts = [(10, 5), (11, 5), (9, 5), (10, 5)]
    for i, (n_login, n_err) in enumerate(counts):
        rows = [{"event_type": "login"}] * n_login + [{"event_type": "error"}] * n_err
        p = d / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        _os.utime(p, (base + i, base + i))
    # batch 4: login spikes 10x, error stays flat
    p = d / "b4.jsonl"
    rows = [{"event_type": "login"}] * 100 + [{"event_type": "error"}] * 5
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    _os.utime(p, (base + 4, base + 4))

    df = (spark.readStream.schema("event_type string")
          .option("maxFilesPerTrigger", 1).json(str(d)))
    q = (rate_anomaly_stream(df, "event_type", z_threshold=3.0, min_periods=3)
         .writeStream.format("memory").queryName("anom_out")
         .outputMode("update").trigger(availableNow=True).start())
    _run(q)

    rows = spark.sql("SELECT * FROM anom_out ORDER BY n_prior").collect()
    flagged = [(r.key, r.batch_count) for r in rows if r.is_anomaly]
    assert flagged == [("login", 100)]
    spike = next(r for r in rows if r.is_anomaly)
    assert spike.n_prior == 4 and spike.z_milli > 3000
    # 'error' ran at zero variance throughout: its post-learn batches
    # carry the zero z, never the sentinel, never a flag
    err_rows = [r for r in rows if r.key == "error" and r.n_prior >= 3]
    assert err_rows and all(r.z_milli == 0 and not r.is_anomaly for r in err_rows)
    # state is one row per distinct key
    totals = [
        s["numRowsTotal"]
        for p_ in q.recentProgress
        for s in p_.get("stateOperators", [])
    ]
    assert totals and max(totals) <= 2


def test_drift_psi_stream_chained_stateful(spark, tmp_path):
    """Streaming PSI against a static baseline, exercising CHAINED
    stateful aggs in append mode: a window matching the baseline
    scores near zero; a shifted window scores clearly higher; the
    watermark closes windows (rows only appear once final)."""
    import os as _os
    import time as _time

    from logprep_spark.streaming import drift_psi_stream, psi_baseline

    # static baseline: uniform values 0..99
    base = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "value double"
    )
    bounds, fracs = psi_baseline(base)
    assert len(bounds) == 9 and len(fracs) == 10
    assert abs(sum(fracs) - 1000) <= 10

    d = tmp_path / "psi-in"
    d.mkdir()
    t0 = _time.time()
    # window 1 (10:00): matches baseline; window 2 (10:10): values
    # concentrated high (drift); a late file advances the watermark
    # past both windows so they close
    rows1 = [{"ts": "2024-03-01 10:00:%02d" % (i % 60), "value": float(i % 100)}
             for i in range(300)]
    rows2 = [{"ts": "2024-03-01 10:10:%02d" % (i % 60), "value": 90.0 + (i % 10)}
             for i in range(300)]
    rows3 = [{"ts": "2024-03-01 10:45:00", "value": 1.0}]
    for j, rows in enumerate((rows1, rows2, rows3)):
        p = d / f"b{j}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        _os.utime(p, (t0 + j, t0 + j))

    stream = (spark.readStream.schema("ts timestamp, value double")
              .option("maxFilesPerTrigger", 1).json(str(d)))
    out = drift_psi_stream(stream, bounds, fracs)
    q = (out.writeStream.format("memory").queryName("psi_out")
         .outputMode("append").trigger(availableNow=True).start())
    _run(q)

    got = {str(r.window_start): r.psi_micro
           for r in spark.sql("SELECT * FROM psi_out").collect()}
    w1 = got.get("2024-03-01 10:00:00")
    w2 = got.get("2024-03-01 10:10:00")
    assert w1 is not None and w2 is not None
    assert w1 < 100_000            # near-baseline window: small PSI
    assert w2 > 1_000_000          # concentrated window: large PSI
    assert w2 > 10 * max(w1, 1)


def test_streaming_windowed_hll_distinct(spark, tmp_path):
    """HLL++ works as a windowed STREAMING aggregate (fixed-size
    sketch through the watermarked window state): approx distinct
    users per tumbling window lands within the rsd bound of exact."""
    import os as _os
    import time as _time

    d = tmp_path / "hll-in"
    d.mkdir()
    t0 = _time.time()
    rows = []
    for w, base in ((0, 0), (10, 200)):
        for i in range(150):
            rows.append({"ts": f"2024-03-01 10:{w:02d}:{i % 60:02d}",
                         "user_id": base + (i % 57)})
    rows.append({"ts": "2024-03-01 10:45:00", "user_id": 1})
    p = d / "b0.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    _os.utime(p, (t0, t0))

    from pyspark.sql import functions as F

    stream = (spark.readStream.schema("ts timestamp, user_id long")
              .json(str(d)))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx"))
    )
    q = (agg.writeStream.format("memory").queryName("hllw_out")
         .outputMode("append").trigger(availableNow=True).start())
    _run(q)
    got = {str(r["win"]["start"]): r["approx"]
           for r in spark.sql("SELECT * FROM hllw_out").collect()}
    for start in ("2024-03-01 10:00:00", "2024-03-01 10:10:00"):
        assert start in got
        assert abs(got[start] - 57) <= 6  # ~3 sigma at rsd=0.02, small-n slack


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """LEFT OUTER stream-stream join: a click with no login in its
    10-minute lookback must STILL emit — with NULL login columns —
    once the watermark proves no matching login can arrive. The
    watermark is pushed past the eviction horizon by late traffic on
    both sides (outer results only flush when state expires)."""
    from pyspark.sql import functions as F

    from logprep_spark.streaming import interval_join

    logins = [
        {"event_id": 10, "ts": _ts(0), "user_id": 1, "event_type": "login", "value": 0.0},
        # watermark pushers, far past the horizon
        {"event_id": 19, "ts": _ts(300), "user_id": 9, "event_type": "login", "value": 0.0},
    ]
    clicks = [
        {"event_id": 20, "ts": _ts(5), "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": 22, "ts": _ts(30), "user_id": 2, "event_type": "click", "value": 1.0},  # no login
        {"event_id": 29, "ts": _ts(300), "user_id": 9, "event_type": "click", "value": 1.0},
    ]
    left = JsonlInput(_events(tmp_path, clicks, "lo_clicks"), SCHEMA).read_stream(spark)
    right = JsonlInput(_events(tmp_path, logins, "lo_logins"), SCHEMA).read_stream(spark)
    joined = interval_join(
        left.select("event_id", "ts", "user_id"),
        right.select(F.col("event_id").alias("login_id"), "ts", "user_id"),
        key="user_id", within="10 minutes", how="left_outer",
    )
    q = (joined.writeStream.format("memory").queryName("ssj_outer_out")
         .outputMode("append").trigger(availableNow=True).start())
    _run(q)
    rows = {r.event_id: r.login_id
            for r in spark.sql("SELECT event_id, login_id FROM ssj_outer_out").collect()}
    assert rows[20] == 10          # matched pair
    assert 22 in rows and rows[22] is None  # unmatched left emitted with NULLs
    assert rows[29] == 19


def test_checkpoint_restart_recovery_exactly_once(spark, tmp_path):
    """Production recovery drill for the exactly-once sink (C10): a
    streaming job drains batch 1 and STOPS (crash / deploy); new data
    arrives; the SAME checkpoint + sink restart and drain; a third
    restart finds nothing new. The union of committed batch dirs must
    hold every input row exactly once — the checkpoint guarantees no
    loss across restarts, the idempotent rename guarantees no
    duplicates from foreachBatch replay."""
    import os
    import time

    from logprep_spark.sources.outputs import IdempotentBatchOutput

    src = tmp_path / "src"
    src.mkdir()
    f0 = src / "a.jsonl"
    f0.write_text("\n".join(json.dumps(r) for r in ROWS[:2]) + "\n")
    now = time.time()
    os.utime(f0, (now - 60, now - 60))

    sink = IdempotentBatchOutput(str(tmp_path / "sink"))
    ckpt = str(tmp_path / "ckpt")

    def drain():
        df = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = sink.write_stream(df, checkpoint=ckpt)
        q.awaitTermination(120)
        q.stop()

    drain()  # run 1: only batch(es) for f0
    first_batches = sink.committed_batches()
    assert first_batches

    (src / "b.jsonl").write_text(
        "\n".join(json.dumps(r) for r in ROWS[2:]) + "\n"
    )
    drain()  # run 2: restart from checkpoint, drains only the new file
    assert len(sink.committed_batches()) > len(first_batches)

    drain()  # run 3: nothing new -> no further commits
    batches = sink.committed_batches()
    assert len(batches) == len(sink.committed_batches())

    got = spark.read.json(
        [str(tmp_path / "sink" / f"batch-{b}") for b in batches]
    )
    ids = sorted(r.event_id for r in got.select("event_id").collect())
    assert ids == [r["event_id"] for r in ROWS]  # every row exactly once


def test_token_bucket_stream_throttles_and_refills(spark, tmp_path):
    """Per-key token bucket across micro-batches: a burst beyond
    capacity drops the excess; the bucket refills in EVENT time, so
    the second batch (one minute later) has tokens again; state
    carries (tokens, last_seen) across batches."""
    from logprep_spark.streaming import token_bucket_stream

    burst = [
        {"event_id": i, "ts": _ts(0, i), "user_id": 1,
         "event_type": "click", "value": 1.0}
        for i in range(8)  # 8 events in 8 seconds vs capacity 3
    ]
    later = [
        {"event_id": 100 + i, "ts": _ts(5, i), "user_id": 1,
         "event_type": "click", "value": 1.0}
        for i in range(4)  # ~5 min later: bucket refilled to capacity
    ]
    quiet = [
        {"event_id": 200, "ts": _ts(0, 30), "user_id": 2,
         "event_type": "click", "value": 1.0}
    ]
    df = _two_batch_source(
        spark, tmp_path, "bucket-src", burst + quiet, later
    )
    q = (
        token_bucket_stream(df, capacity=3.0, refill_per_sec=0.01)
        .writeStream.format("memory")
        .queryName("bucket_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    rows = spark.sql(
        "SELECT * FROM bucket_out ORDER BY user_id, batch_events"
    ).collect()
    by_batch = [
        (r.user_id, r.batch_events, r.allowed, r.dropped) for r in rows
    ]
    # batch 1: user 1's 8-event burst spends the 3 tokens (plus the
    # ~0.07 refilled during the 8 s burst -> still 3 allowed), user 2
    # passes; batch 2: ~300 s * 0.01/s refills the bucket to full ->
    # 3 of 4 allowed
    assert (1, 8, 3, 5) in by_batch
    assert (2, 1, 1, 0) in by_batch
    assert (1, 4, 3, 1) in by_batch


def test_theta_window_stream_sketch_and_eviction(spark, tmp_path):
    """Streaming theta-sketch twin (functions/sketch.py
    theta_sketch_slices): per-(window, slice) KMV state stays at most
    k hashes, the watermark-driven timeout emits the window's FINAL
    sketch row and removes the state, and the final estimate equals
    the pure-Python md5 KMV replica exactly (estimate mode) / the
    exact count (exact mode)."""
    import hashlib
    import os as _os
    import time as _time

    from logprep_spark.streaming import theta_window_stream

    k = 16
    d = tmp_path / "theta-in"
    d.mkdir()
    t0 = _time.time()
    # batch 0: window 10:00-10:10 — slice s1 sees 200 events over 120
    # distinct values (estimate mode at k=16), slice s2 sees 10
    # distinct (exact mode)
    rows = [
        {"ts": f"2026-03-01 10:0{i % 6}:{i % 60:02d}",
         "slice": "s1", "value": f"u{i % 120}"}
        for i in range(200)
    ] + [
        {"ts": "2026-03-01 10:05:00", "slice": "s2", "value": f"v{j}"}
        for j in range(10)
    ]
    # batches 1/2: watermark pushers — b1's 10:30 event advances the
    # watermark to 10:20 for batch 2's processing, past the 10:10
    # window end, so the timeout (eviction + final emit) fires in b2
    for i, batch in enumerate(
        (rows,
         [{"ts": "2026-03-01 10:30:00", "slice": "s3", "value": "x"}],
         [{"ts": "2026-03-01 10:40:00", "slice": "s3", "value": "y"}])
    ):
        p = d / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch) + "\n")
        _os.utime(p, (t0 + i, t0 + i))

    df = (spark.readStream.schema("ts timestamp, slice string, value string")
          .option("maxFilesPerTrigger", 1).json(str(d)))
    q = (theta_window_stream(df, "ts", "slice", "value",
                             window="10 minutes", watermark="10 minutes", k=k)
         .writeStream.format("memory").queryName("theta_out")
         .outputMode("update").trigger(availableNow=True).start())
    _run(q)

    rows_out = spark.sql("SELECT * FROM theta_out").collect()
    finals = {(r.slice, str(r.win_start)): r for r in rows_out if r.is_final}
    updates = [r for r in rows_out if not r.is_final]
    assert updates  # live running estimates were emitted per batch

    # exact mode: 10 distinct < k -> exact count
    f2 = finals[("s2", "2026-03-01 10:00:00")]
    assert f2.est_distinct == 10.0 and f2.n_kept == 10

    # estimate mode: equals the Python KMV replica bit-for-bit, and
    # the emitted row IS the sketch (theta + retained sample), exactly
    # the theta_sketch_slices convention
    f1 = finals[("s1", "2026-03-01 10:00:00")]
    hs = sorted(
        int(hashlib.md5(f"u{v}".encode()).hexdigest()[:15], 16)
        for v in range(120)
    )
    expected = round((k - 1) * float(1 << 60) / hs[k - 1], 2)
    assert f1.n_kept == k
    assert f1.est_distinct == expected
    assert abs(f1.est_distinct - 120) / 120 < 3 / (k - 1) ** 0.5
    assert f1.theta == hs[k - 1] and list(f1.sample) == hs[: k - 1]

    # MERGEABILITY: the evicted rows feed the batch union math
    # directly — theta_U = min theta, pool = union-sample hashes
    # below it — and match a from-scratch KMV union over both slices
    # (s1's 120 users + s2's 10, disjoint -> 130 distinct)
    theta_u = min(f1.theta, f2.theta)
    pool = {h for f in (f1, f2) for h in f.sample if h < theta_u}
    union_est = round(len(pool) * float(1 << 60) / theta_u, 2)
    all_hs = sorted(hs + [
        int(hashlib.md5(f"v{j}".encode()).hexdigest()[:15], 16)
        for j in range(10)
    ])
    # replica: same union math over full per-slice KMV sketches
    r_pool = {h for h in hs[: k - 1] if h < theta_u} | {
        h for h in all_hs if h in set(
            int(hashlib.md5(f"v{j}".encode()).hexdigest()[:15], 16)
            for j in range(10)
        ) and h < theta_u
    }
    assert union_est == round(len(r_pool) * float(1 << 60) / theta_u, 2)
    assert abs(union_est - 130) / 130 < 3 / (k - 1) ** 0.5

    # bounded state: never more rows than open (window, slice) groups,
    # each holding <= k hashes; eviction shrinks the store after the
    # timeout batch (s1/s2 windows removed)
    totals = [
        s["numRowsTotal"]
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    ]
    assert totals and max(totals) <= 4  # s1, s2, and the s3 windows
    assert totals[-1] < max(totals)


def test_cm_window_stream_sketch_and_eviction(spark, tmp_path):
    """Streaming Count-Min twin (functions/sketch.py cm_sketch):
    per-(window, hash-row) state stays at most w counters, the
    watermark-driven timeout emits the window's FINAL cells and
    removes the state, and the final cells equal the batch cm_sketch
    construction bit-for-bit — so evicted windows merge into batch
    sketches by plain cell-wise addition."""
    import hashlib
    import os as _os
    import time as _time

    from logprep_spark.streaming import cm_window_stream

    d_rows, w = 3, 16
    indir = tmp_path / "cm-in"
    indir.mkdir()
    t0 = _time.time()
    # window 10:00-10:10: a zipf-ish item mix (item i appears 60//(i+1)
    # times over 12 items, 40 > w counters' worth of cells exercised)
    items = [f"item{i}" for i in range(12) for _ in range(60 // (i + 1))]
    rows = [
        {"ts": f"2026-03-01 10:0{n % 6}:{n % 60:02d}", "item": it}
        for n, it in enumerate(items)
    ]
    for i, batch in enumerate(
        (rows,
         [{"ts": "2026-03-01 10:30:00", "item": "late1"}],
         [{"ts": "2026-03-01 10:40:00", "item": "late2"}])
    ):
        p = indir / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch) + "\n")
        _os.utime(p, (t0 + i, t0 + i))

    df = (spark.readStream.schema("ts timestamp, item string")
          .option("maxFilesPerTrigger", 1).json(str(indir)))
    q = (cm_window_stream(df, "ts", "item",
                          window="10 minutes", watermark="10 minutes",
                          d=d_rows, w=w)
         .writeStream.format("memory").queryName("cm_out")
         .outputMode("update").trigger(availableNow=True).start())
    _run(q)

    out = spark.sql("SELECT * FROM cm_out").collect()
    finals = [r for r in out if r.is_final
              and str(r.win_start) == "2026-03-01 10:00:00"]
    assert [r for r in out if not r.is_final]  # running cells emitted

    # bit-equality with the batch construction (and hence the Python
    # replica): same md5 family, same cells, same counts
    def h60(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    expected: dict = {}
    for it in items:
        for r in range(d_rows):
            key = (r, h60(f"{r}:{it}") % w)
            expected[key] = expected.get(key, 0) + 1
    got = {(r.row, r.col): r.cnt for r in finals}
    assert got == expected

    # bounded state: every hash row held at most w cells
    for r in range(d_rows):
        assert len([1 for (rr, _) in got if rr == r]) <= w

    # the evicted rows ARE the mergeable artifact: cell-wise addition
    # with a batch cm_sketch over a second corpus equals the sketch
    # of the union, and point estimates never undercount
    from logprep_spark.functions.sketch import cm_sketch

    other = spark.createDataFrame(
        [(f"item{i % 5}",) for i in range(40)], ["item"]
    )
    batch_cells = {
        (r.row, r.col): r.cnt
        for r in cm_sketch(other, "item", d=d_rows, w=w).collect()
    }
    merged: dict = dict(got)
    for k2, v in batch_cells.items():
        merged[k2] = merged.get(k2, 0) + v
    union_items = items + [f"item{i % 5}" for i in range(40)]
    whole: dict = {}
    for it in union_items:
        for r in range(d_rows):
            key = (r, h60(f"{r}:{it}") % w)
            whole[key] = whole.get(key, 0) + 1
    assert merged == whole
    true_item0 = sum(1 for it in union_items if it == "item0")
    est_item0 = min(
        merged.get((r, h60(f"{r}:item0") % w), 0) for r in range(d_rows)
    )
    assert est_item0 >= true_item0


def test_bloom_window_stream_sketch_and_eviction(spark, tmp_path):
    """Streaming Bloom twin (functions/sketch.py bloom_bits):
    per-(window, shard) state stays at most ~m/n_shards positions, the
    watermark-driven timeout emits the window's FINAL (shard, pos)
    rows and removes the state, and the final rows' distinct union
    equals the batch bloom_bits construction bit-for-bit — so evicted
    windows merge into stored batch filters by plain position-row
    distinct, and probes keep the no-false-negatives guarantee."""
    import hashlib
    import os as _os
    import time as _time

    from logprep_spark.streaming import bloom_window_stream

    m, j, n_shards = 64, 3, 4
    indir = tmp_path / "bloom-in"
    indir.mkdir()
    t0 = _time.time()
    # window 10:00-10:10: 20 distinct users, some repeated (repeats
    # must not change the bit-set)
    vals = [f"user{i % 20}" for i in range(50)]
    rows = [
        {"ts": f"2026-03-01 10:0{n % 6}:{n % 60:02d}", "value": v}
        for n, v in enumerate(vals)
    ]
    for i, batch in enumerate(
        (rows,
         [{"ts": "2026-03-01 10:30:00", "value": "late1"}],
         [{"ts": "2026-03-01 10:40:00", "value": "late2"}])
    ):
        p = indir / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch) + "\n")
        _os.utime(p, (t0 + i, t0 + i))

    df = (spark.readStream.schema("ts timestamp, value string")
          .option("maxFilesPerTrigger", 1).json(str(indir)))
    q = (bloom_window_stream(df, "ts", "value",
                             window="10 minutes", watermark="10 minutes",
                             m=m, j=j, n_shards=n_shards)
         .writeStream.format("memory").queryName("bloom_out")
         .outputMode("update").trigger(availableNow=True).start())
    _run(q)

    out = spark.sql("SELECT * FROM bloom_out").collect()
    finals = [r for r in out if r.is_final
              and str(r.win_start) == "2026-03-01 10:00:00"]
    assert [r for r in out if not r.is_final]  # running bit-set emitted

    # bit-equality with the batch construction (and hence the Python
    # replica): same md5 family, same positions
    def h60(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    expected = {h60(f"{i}:{v}") % m for v in set(vals) for i in range(j)}
    got = {r.pos for r in finals}
    assert got == expected
    # shard key is derived from the position itself, so rows land in
    # the shard they claim and no position appears twice
    assert len(finals) == len(got)
    assert all(r.pos % n_shards == r.shard for r in finals)

    # bounded state: each shard held only its residue class of the
    # <= m positions
    for s in range(n_shards):
        n_in_shard = len([1 for r in finals if r.shard == s])
        assert n_in_shard <= (m + n_shards - 1) // n_shards

    # the evicted rows ARE the mergeable artifact: distinct union with
    # a batch bloom_bits frame over a second corpus equals the filter
    # of the union corpus, and probes never miss a present value
    from logprep_spark.functions.sketch import bloom_bits

    other = spark.createDataFrame(
        [(f"user{i % 7}",) for i in range(30)] + [("extra",)], ["value"]
    )
    batch_pos = {r.pos for r in bloom_bits(other, "value", m=m, j=j).collect()}
    merged = got | batch_pos
    union_vals = set(vals) | {f"user{i % 7}" for i in range(30)} | {"extra"}
    whole = {h60(f"{i}:{v}") % m for v in union_vals for i in range(j)}
    assert merged == whole
    for v in union_vals:  # no false negatives against the merged filter
        assert all(h60(f"{i}:{v}") % m in merged for i in range(j))


def test_sq_window_stream_pool_and_eviction(spark, tmp_path):
    """Streaming sample-quantile twin (functions/sketch.py
    sq_sketch_slices): per-(window, slice) state stays at most k
    (hash, value) pairs, the watermark-driven timeout emits the FINAL
    pool and removes the state, and the final pool is bit-identical
    to the batch construction over the same rows — so evicted rows
    feed sq_union_range directly."""
    import hashlib
    import os as _os
    import time as _time

    from logprep_spark.functions.sketch import (
        sq_sketch_slices,
        sq_union_range,
    )
    from logprep_spark.streaming import sq_window_stream

    k = 16
    d = tmp_path / "sq-in"
    d.mkdir()
    t0 = _time.time()
    # window 10:00-10:10: slice s1 sees 120 rows (sketch mode at
    # k=16), slice s2 sees 8 rows (exact mode); one NULL-value row
    # and one NULL-key row must sketch nowhere
    rows = [
        {"ts": f"2026-03-01 10:0{i % 6}:{i % 60:02d}", "slice": "s1",
         "key": f"k{i}", "value": float((i * 37) % 211)}
        for i in range(120)
    ] + [
        {"ts": "2026-03-01 10:05:00", "slice": "s2",
         "key": f"e{j}", "value": float(j)}
        for j in range(8)
    ] + [
        {"ts": "2026-03-01 10:05:00", "slice": "s1", "key": "knull",
         "value": None},
        {"ts": "2026-03-01 10:05:00", "slice": "s1", "key": None,
         "value": 3.0},
    ]
    for i, batch in enumerate(
        (rows,
         [{"ts": "2026-03-01 10:30:00", "slice": "s3", "key": "x",
           "value": 1.0}],
         [{"ts": "2026-03-01 10:40:00", "slice": "s3", "key": "y",
           "value": 1.0}])
    ):
        p = d / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch) + "\n")
        _os.utime(p, (t0 + i, t0 + i))

    df = (spark.readStream
          .schema("ts timestamp, slice string, key string, value double")
          .option("maxFilesPerTrigger", 1).json(str(d)))
    q = (sq_window_stream(df, "ts", "slice", "key", "value",
                          window="10 minutes", watermark="10 minutes", k=k)
         .writeStream.format("memory").queryName("sq_out")
         .outputMode("update").trigger(availableNow=True).start())
    _run(q)

    out = spark.sql("SELECT * FROM sq_out").collect()
    finals = {(r.slice, str(r.win_start)): r for r in out if r.is_final}
    assert [r for r in out if not r.is_final]  # running updates emitted

    def replica(pairs_in, kk):
        hp = sorted(
            (int(hashlib.md5(f"sq:{key}".encode()).hexdigest()[:15], 16), v)
            for key, v in pairs_in
        )
        return hp[:kk]

    # sketch mode: pool == Python replica AND == the batch build
    f1 = finals[("s1", "2026-03-01 10:00:00")]
    want1 = replica([(f"k{i}", float((i * 37) % 211)) for i in range(120)], k)
    assert f1.n_rows == 120 and f1.n_kept == k
    assert list(zip(f1.pool_h, f1.pool_v)) == want1

    batch_df = spark.createDataFrame(
        [("s1", f"k{i}", float((i * 37) % 211)) for i in range(120)],
        ["slice", "key", "value"],
    )
    (b1,) = sq_sketch_slices(batch_df, "slice", "key", "value", k=k).collect()
    assert [(p["_h"], p["_v"]) for p in b1["_pool"]] == list(
        zip(f1.pool_h, f1.pool_v)
    )

    # exact mode: the pool IS the slice
    f2 = finals[("s2", "2026-03-01 10:00:00")]
    assert f2.n_rows == 8 == f2.n_kept

    # evicted rows feed the batch range algebra directly: zip the
    # parallel arrays into the (h, v) struct pool and ask for the
    # range p50 across both closed slices
    import pyspark.sql.functions as F

    stored = spark.sql(
        "SELECT slice, n_rows AS _n_rows, n_kept AS _n_kept, "
        "arrays_zip(pool_h, pool_v) AS _z FROM sq_out WHERE is_final"
    ).select(
        "slice", "_n_rows", "_n_kept",
        F.transform(
            "_z",
            lambda x: F.struct(
                x["pool_h"].alias("_h"), x["pool_v"].alias("_v")
            ),
        ).alias("_pool"),
    )
    (rng,) = sq_union_range(stored, "slice", "s1", "s2", k=k).collect()
    union_pool = replica(
        [(f"k{i}", float((i * 37) % 211)) for i in range(120)]
        + [(f"e{j}", float(j)) for j in range(8)],
        k,
    )
    byv = sorted((v, h) for h, v in union_pool)
    assert rng["n_rows"] == 128 and rng["n_kept"] == k
    assert rng["q500"] == byv[max((500 * k + 999) // 1000, 1) - 1][0]

    # bounded state + eviction: the s1/s2 windows are gone after the
    # timeout batch — only the open s3 windows remain
    prog = q.lastProgress
    if prog and prog.get("stateOperators"):
        assert prog["stateOperators"][0]["numRowsTotal"] <= 2


def test_holt_window_stream_fit_and_eviction(spark, tmp_path):
    """Streaming Holt twin (plans/analytics.py holt_forecast):
    per-(group, window) state holds at most windows/period counters,
    eviction emits the fitted level/trend/forecast row, and the final
    fit is bit-identical to the batch fold over the same rows'
    per-period series — regardless of arrival order (the late batch
    delivers earlier hours)."""
    import os as _os
    import time as _time

    from logprep_spark.plans.analytics import holt_forecast
    from logprep_spark.streaming import holt_window_stream

    d = tmp_path / "holt-in"
    d.mkdir()
    t0 = _time.time()
    # day window 2026-03-01: hours 0..5 with rising counts 2,4,6,8,10,12
    # — but hours arrive OUT OF ORDER across two batches
    def hour_rows(hours):
        return [
            {"ts": f"2026-03-01 {h:02d}:{m:02d}:00", "grp": "a"}
            for h in hours
            for m in range(2 * (h + 1))
        ]

    batches = (
        hour_rows([1, 3, 5]),
        hour_rows([0, 2, 4]),          # earlier hours arrive later
        [{"ts": "2026-03-03 12:00:00", "grp": "z"}],  # watermark pusher
        [{"ts": "2026-03-05 12:00:00", "grp": "z"}],
    )
    for i, batch in enumerate(batches):
        p = d / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch) + "\n")
        _os.utime(p, (t0 + i, t0 + i))

    df = (spark.readStream.schema("ts timestamp, grp string")
          .option("maxFilesPerTrigger", 1).json(str(d)))
    q = (holt_window_stream(df, "ts", "grp",
                            window="1 day", period="1 hour",
                            watermark="1 hour")
         .writeStream.format("memory").queryName("holt_out")
         .outputMode("update").trigger(availableNow=True).start())
    _run(q)

    out = spark.sql("SELECT * FROM holt_out").collect()
    finals = {(r.grp, str(r.win_start)): r for r in out if r.is_final}
    f = finals[("a", "2026-03-01 00:00:00")]
    assert f.n_periods == 6

    # batch equivalence: same rows -> per-hour series -> batch fold
    series = spark.createDataFrame(
        [("a", h, 2 * (h + 1)) for h in range(6)], ["grp", "period", "x"]
    )
    (want,) = holt_forecast(series, "grp", "period", "x").collect()
    assert f.level_milli == want["level_milli"]
    assert f.trend_milli == want["trend_milli"]
    assert f.forecast_milli == want["forecast_milli"]
    assert f.max_resid_milli == want["max_resid_milli"]
    # rising series -> positive trend, forecast above last level
    assert f.trend_milli > 0


def test_hw_window_stream_seasonal_fit_and_eviction(spark, tmp_path):
    """Streaming Holt-Winters twin: per-(group, window) state is the
    same period counters as holt's (seasonal slots exist only inside
    the emit fold), eviction emits the triple-smoothed row, and the
    final fit is bit-identical to the batch holt_winters_forecast
    over the same rows' series — with hours arriving OUT OF ORDER."""
    import os as _os
    import time as _time

    from logprep_spark.plans.analytics import holt_winters_forecast
    from logprep_spark.streaming import hw_window_stream

    d = tmp_path / "hw-in"
    d.mkdir()
    t0 = _time.time()
    # one daily window 2026-03-01, hourly periods 0..23 following a
    # 6-hour cycle with a deep dip (the "quiet hours" shape)
    cycle = [6, 7, 8, 6, 3, 2]
    counts = {h: cycle[h % 6] for h in range(24)}

    def hour_rows(hours):
        return [
            {"ts": f"2026-03-01 {h:02d}:{m:02d}:00", "grp": "a"}
            for h in hours
            for m in range(counts[h])
        ]

    batches = (
        hour_rows([1, 4, 7, 10, 13, 16, 19, 22]),
        hour_rows([0, 3, 6, 9, 12, 15, 18, 21]),  # earlier hours later
        hour_rows([2, 5, 8, 11, 14, 17, 20, 23]),
        [{"ts": "2026-03-03 12:00:00", "grp": "z"}],  # watermark pusher
        [{"ts": "2026-03-05 12:00:00", "grp": "z"}],
    )
    for i, batch in enumerate(batches):
        p = d / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch) + "\n")
        _os.utime(p, (t0 + i, t0 + i))

    df = (spark.readStream.schema("ts timestamp, grp string")
          .option("maxFilesPerTrigger", 1).json(str(d)))
    q = (hw_window_stream(df, "ts", "grp",
                          window="1 day", period="1 hour",
                          watermark="1 hour", season=6)
         .writeStream.format("memory").queryName("hw_out")
         .outputMode("update").trigger(availableNow=True).start())
    _run(q)

    out = spark.sql("SELECT * FROM hw_out").collect()
    finals = {(r.grp, str(r.win_start)): r for r in out if r.is_final}
    f = finals[("a", "2026-03-01 00:00:00")]
    assert f.n_periods == 24

    series = spark.createDataFrame(
        [("a", h, counts[h]) for h in range(24)], ["grp", "period", "x"]
    )
    (want,) = holt_winters_forecast(
        series, "grp", "period", "x", period=6
    ).collect()
    for col in ("level_milli", "trend_milli", "forecast_milli",
                "season_amp_milli", "max_resid_milli"):
        assert f[col] == want[col], col
    # the cycle is real: amplitude captured, not flattened into resid
    assert f.season_amp_milli > 2000


def test_cusum_window_stream_shift_detection(spark, tmp_path):
    """Streaming CUSUM twin: hourly counts hold a steady baseline
    for 7 hours then drop ~25% persistently; the evicted final row
    is bit-identical to the batch cusum_shift over the same series
    (hours arriving OUT OF ORDER), and the alarm genuinely fires."""
    import os as _os
    import time as _time

    from logprep_spark.plans.analytics import cusum_shift
    from logprep_spark.streaming import cusum_window_stream

    d = tmp_path / "cusum-in"
    d.mkdir()
    t0 = _time.time()
    counts = {h: (8 if h < 7 else 6) for h in range(24)}

    def hour_rows(hours):
        return [
            {"ts": f"2026-03-01 {h:02d}:{m:02d}:00", "grp": "a"}
            for h in hours
            for m in range(counts[h])
        ]

    batches = (
        hour_rows(list(range(1, 24, 2))),
        hour_rows(list(range(0, 24, 2))),   # earlier hours later
        [{"ts": "2026-03-03 12:00:00", "grp": "z"}],
        [{"ts": "2026-03-05 12:00:00", "grp": "z"}],
    )
    for i, batch in enumerate(batches):
        p = d / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch) + "\n")
        _os.utime(p, (t0 + i, t0 + i))

    df = (spark.readStream.schema("ts timestamp, grp string")
          .option("maxFilesPerTrigger", 1).json(str(d)))
    q = (cusum_window_stream(df, "ts", "grp",
                             window="1 day", period="1 hour",
                             watermark="1 hour", baseline_periods=7)
         .writeStream.format("memory").queryName("cusum_out")
         .outputMode("update").trigger(availableNow=True).start())
    _run(q)

    out = spark.sql("SELECT * FROM cusum_out").collect()
    finals = {(r.grp, str(r.win_start)): r for r in out if r.is_final}
    f = finals[("a", "2026-03-01 00:00:00")]
    assert f.n_periods == 24

    series = spark.createDataFrame(
        [("a", h, counts[h]) for h in range(24)], ["grp", "period", "x"]
    )
    (want,) = cusum_shift(series, "grp", "period", "x").collect()
    for col in ("mu_milli", "max_cusum_milli", "first_alarm_period",
                "n_alarm_periods"):
        assert f[col] == want[col], col
    # the 25% persistent drop trips the low side
    assert f.first_alarm_period > 7 and f.n_alarm_periods > 0


def test_hampel_stream_rejects_even_window(spark):
    """r12 (r11 advice): s[window // 2] is the exact middle element
    only for odd lengths — an even window would silently take the
    upper-middle value and break bit-parity with the batch Hampel
    row, so the constructor refuses it instead of approximating."""
    import pytest as _pytest

    from logprep_spark.streaming import hampel_stream

    df = spark.readStream.format("rate").load()
    for bad in (6, 0, -3):
        with _pytest.raises(ValueError, match="ODD"):
            hampel_stream(df, "value", window=bad)
    # the default stays constructible
    hampel_stream(df, "value", window=7)


def test_hampel_stream_despikes_and_recovers(spark, tmp_path):
    """The streaming Hampel twin of the batch A107 row: 7 learn
    batches at a steady per-type rate, then a 10x spike for one type,
    then a return to normal. Only the spike batch flags; the constant
    type stays silent (MAD = 0, x == med); the post-spike normal
    batch is judged against a median the spike cannot move (the
    robustness property that separates Hampel from the z-score); and
    state stays one bounded row per key."""
    import os as _os
    import time as _time

    from logprep_spark.streaming import hampel_stream

    d = tmp_path / "hampel-in"
    d.mkdir()
    base = _time.time() - 3600
    counts = [10, 11, 9, 10, 10, 11, 9]  # 7 learn batches
    for i, n_login in enumerate(counts):
        rows = [{"event_type": "login"}] * n_login + [
            {"event_type": "error"}
        ] * 5
        p = d / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        _os.utime(p, (base + i, base + i))
    # batch 7: login spikes 10x; batch 8: back to normal
    for i, n_login in ((7, 100), (8, 10)):
        rows = [{"event_type": "login"}] * n_login + [
            {"event_type": "error"}
        ] * 5
        p = d / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        _os.utime(p, (base + i, base + i))

    df = (
        spark.readStream.schema("event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        hampel_stream(df, "event_type", window=7)
        .writeStream.format("memory")
        .queryName("hampel_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)

    rows = spark.sql(
        "SELECT * FROM hampel_out ORDER BY key, n_prior"
    ).collect()
    flagged = [(r.key, r.batch_count) for r in rows if r.is_spike]
    assert flagged == [("login", 100)]
    spike = next(r for r in rows if r.is_spike)
    # decision used the full prior window: med 10, MAD 0 -> wait, the
    # learn counts vary so MAD = 1: 10000*|100-10| > 44478*1
    assert spike.n_prior == 7 and spike.med_prior == 10
    assert spike.mad_prior == 1
    # the post-spike normal batch: the spike is IN the window now but
    # cannot move its median — judged med 10 again, not flagged
    post = [r for r in rows if r.key == "login" and r.batch_count == 10
            and r.n_prior == 7]
    # (two login batches read 10 with a full window: batch 3/4-era
    # rows have n_prior < 7; the post-spike one is the last row)
    last_login = [r for r in rows if r.key == "login"][-1]
    assert last_login.batch_count == 10
    assert last_login.med_prior == 10 and not last_login.is_spike
    # constant type: MAD = 0 and x == med -> silent throughout
    err_full = [r for r in rows if r.key == "error" and r.n_prior >= 7]
    assert err_full and all(
        r.mad_prior == 0 and not r.is_spike for r in err_full
    )
    # bounded state: one row per distinct key
    totals = [
        s["numRowsTotal"]
        for p_ in q.recentProgress
        for s in p_.get("stateOperators", [])
    ]
    assert totals and max(totals) <= 2


@slow_tier
def test_incremental_corpus_stream_restart_parity(spark, tmp_path):
    """The incremental flagship's delta path as a REAL stream (r11
    verdict ask #7): micro-batches of raw docs probe the PERSISTED
    fingerprint/band/shingle stores, commit survivors exactly-once
    (C10 idempotent sink), and fold back into the stores so later
    batches see earlier delta docs as history. The drill: drain two
    files, STOP (crash/deploy), a third file lands, the SAME
    checkpoint restarts and drains only it, a third restart commits
    nothing — and the union of committed survivor batches equals the
    BATCH delta pass over the concatenated delta (parity across
    arbitrary micro-batch boundaries and restarts). Every kill class
    is planted: exact-vs-base (fp seed store), near-vs-base (band
    seed store), near-vs-earlier-BATCH (band fold-in), and
    exact-vs-earlier-BATCH (fp fold-in)."""
    import os
    import time

    from pyspark.sql import functions as F

    from logprep_spark.functions.dedup import (
        exact_dedup,
        incremental_dedup_vs_store,
        minhash_bands,
        minhash_dedup,
        near_dup_vs_band_store,
        shingle_arrays,
        tokens,
    )
    from logprep_spark.functions.text import gopher_filter
    from logprep_spark.session import fan_out
    from logprep_spark.streaming import IncrementalCorpusStream

    # short stems keep the mean word length inside the Gopher gate's
    # 3.0-10.0 band (a long stem fails the gate and empties the test)
    def text(seed, n=58):
        return " ".join([f"{seed}w{i}" for i in range(n)] + ["the", "and"])

    def twin(seed, n=58):
        return " ".join(
            [f"{seed}w{i}" for i in range(1, n)]
            + [f"{seed}zz", "the", "and"]
        )

    base_rows = [
        (1, text("alpha")),
        (2, text("beta")),
        (3, text("gamma")),
    ]
    delta_rows_1 = [
        (101, text("beta")),    # exact dup of base 2 -> fp seed kill
        (102, twin("alpha")),   # near dup of base 1 -> band seed kill
        (103, text("delta")),   # fresh survivor
    ]
    delta_rows_2 = [
        (104, twin("delta")),   # near dup of batch-1's 103 -> fold-in kill
        (105, text("omega")),   # fresh survivor
    ]
    delta_rows_3 = [
        (106, text("delta")),   # exact dup of batch-1's 103 -> fp fold-in
        (107, text("sigma")),   # fresh survivor
    ]

    # --- seed stores from the base corpus (the batch row's artifacts)
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    base_g = gopher_filter(base, min_stop_hits=1)
    base_exact = exact_dedup(base_g)
    seed = tmp_path / "seed"
    base_g.select(
        F.md5(F.array_join(tokens(F.col("text")), " ")).alias("fp")
    ).distinct().write.parquet(str(seed / "fp"))
    minhash_bands(fan_out(base_exact)).select(
        F.col("doc_id").alias("hist_id"), "band_id", "band_key"
    ).write.parquet(str(seed / "bands"))
    shingle_arrays(base_exact).select(
        F.col("doc_id").alias("hist_id"), "sh"
    ).write.parquet(str(seed / "shingles"))

    src = tmp_path / "delta-src"
    src.mkdir()

    def land(name, rows, age=0):
        p = src / name
        p.write_text(
            "\n".join(
                json.dumps({"doc_id": i, "text": t}) for i, t in rows
            )
            + "\n"
        )
        now = time.time()
        os.utime(p, (now - age, now - age))

    land("f1.jsonl", delta_rows_1, age=60)
    land("f2.jsonl", delta_rows_2, age=30)

    stream = IncrementalCorpusStream(
        store_dir=str(tmp_path / "stores"),
        out_dir=str(tmp_path / "sink"),
        min_stop_hits=1,
        seed_fp=str(seed / "fp"),
        seed_bands=str(seed / "bands"),
        seed_shingles=str(seed / "shingles"),
    )
    ckpt = str(tmp_path / "ckpt")

    def drain():
        df = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = stream.write_stream(df, checkpoint=ckpt)
        q.awaitTermination(180)
        q.stop()

    drain()  # run 1: f1 then f2 as separate micro-batches
    first = stream.out.committed_batches()
    assert len(first) >= 2  # maxFilesPerTrigger=1 -> one batch per file

    land("f3.jsonl", delta_rows_3)
    drain()  # run 2: restart from checkpoint, drains only f3
    second = stream.out.committed_batches()
    assert len(second) == len(first) + 1

    drain()  # run 3: nothing new -> no further commits
    assert stream.out.committed_batches() == second

    got = (
        spark.read.schema("doc_id long, text string")
        .json(
            [
                str(tmp_path / "sink" / f"batch-{b}")
                for b in second
            ]
        )
    )
    stream_ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())

    # --- batch parity: the same delta as ONE batch against the seeds
    all_delta = spark.createDataFrame(
        delta_rows_1 + delta_rows_2 + delta_rows_3,
        "doc_id long, text string",
    )
    gated = gopher_filter(all_delta, min_stop_hits=1)
    exact = incremental_dedup_vs_store(
        gated, spark.read.parquet(str(seed / "fp"))
    )
    hist_kill = (
        near_dup_vs_band_store(
            exact,
            spark.read.parquet(str(seed / "bands")),
            spark.read.parquet(str(seed / "shingles")),
            threshold=0.7,
        )
        .select("doc_id")
        .distinct()
    )
    batch_kill = (
        minhash_dedup(exact, threshold=0.7)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    batch_ids = sorted(
        r["doc_id"]
        for r in exact.join(
            hist_kill.unionByName(batch_kill).distinct(),
            "doc_id",
            "left_anti",
        )
        .select("doc_id")
        .collect()
    )
    assert stream_ids == batch_ids == [103, 105, 107]

    # the stores grew: every batch folded in (fingerprints per batch)
    assert stream.fp_store.committed_batches() == second
    assert stream.band_store.committed_batches() == second
    assert stream.shingle_store.committed_batches() == second


def test_incremental_corpus_stream_bloom_gate(spark, tmp_path):
    """With ``bloom_bits`` set, a micro-batch passes the same 13-gram
    Bloom decontamination gate as the batch pipelines: a doc sharing
    a window with the benchmark is never committed, a clean doc is,
    and the committed set equals the batch gate's survivors."""
    from pyspark.sql import functions as F

    from logprep_spark.functions.dedup import window_hashes
    from logprep_spark.functions.sketch import bloom_bits, bloom_window_gate
    from logprep_spark.streaming import IncrementalCorpusStream

    def text(seed, n=58):
        return " ".join([f"{seed}w{i}" for i in range(n)] + ["the", "and"])

    bench = spark.createDataFrame([(1, text("delta"))], "doc_id long, text string")
    bits = bloom_bits(
        window_hashes(bench, 13).select("window_hash").distinct(),
        "window_hash", m=524288, j=3,
    )
    # shares 20 leading tokens (8 13-gram windows) with the benchmark;
    # "the" keeps it past the Gopher stop-word gate
    leaked = " ".join(
        text("delta").split()[:20] + text("kappa").split()[:40] + ["the"]
    )
    batch = spark.createDataFrame(
        [(11, text("alpha")), (12, leaked), (13, text("omega"))],
        "doc_id long, text string",
    )
    stream = IncrementalCorpusStream(
        store_dir=str(tmp_path / "stores"),
        out_dir=str(tmp_path / "sink"),
        bloom_bits=bits,
    )
    stream.process_batch(batch, 0)
    got = sorted(
        r["doc_id"]
        for r in spark.read.schema("doc_id long, text string")
        .json(str(tmp_path / "sink" / "batch-0"))
        .collect()
    )
    want = sorted(
        r["doc_id"]
        for r in bloom_window_gate(batch, bits, 524288, 3)
        .select(F.col("doc_id"))
        .collect()
    )
    assert got == want == [11, 13]


@slow_tier
def test_incremental_corpus_stream_crash_between_fold_ins(spark, tmp_path):
    """Replay-stability in the EXACT crash window the fold-ins open
    (r12 advice, high): foreachBatch is at-least-once and one batch
    commits four stores sequentially (out, fp, bands, shingles). A
    crash after the fp fold-in but before the band/shingle fold-ins
    replays the batch with its OWN fingerprints already on disk;
    without the pre-batch store view (`_read` filters committed
    batches to b < batch_id) the replay would anti-join the batch
    against itself, kill every doc, and permanently commit EMPTY
    band/shingle dirs — silently disabling near-dup kills against
    this batch's survivors for the rest of the stream. The drill
    plants exactly that crash and asserts the replayed state is
    bit-identical to a crash-free run, including a batch-2 near-dup
    twin that must still die against batch-1's band fold-in."""
    import shutil

    from logprep_spark.streaming import IncrementalCorpusStream

    def text(seed, n=58):
        return " ".join([f"{seed}w{i}" for i in range(n)] + ["the", "and"])

    def twin(seed, n=58):
        return " ".join(
            [f"{seed}w{i}" for i in range(1, n)] + [f"{seed}zz", "the", "and"]
        )

    batch0 = [(1, text("alpha")), (2, text("beta"))]
    batch1 = [(101, text("delta")), (102, text("omega"))]
    batch2 = [
        (201, twin("delta")),   # near dup of batch-1's 101: needs the
                                # batch-1 band fold-in to be REAL
        (202, text("beta")),    # exact dup of batch-0's 2
        (203, text("sigma")),   # fresh survivor
    ]
    dfs = [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in (batch0, batch1, batch2)
    ]

    def run(root, crash_after_fp_of_batch=None):
        stream = IncrementalCorpusStream(
            store_dir=str(root / "stores"),
            out_dir=str(root / "sink"),
            min_stop_hits=1,
        )
        for bid, df in enumerate(dfs):
            stream.process_batch(df, bid)
            if bid == crash_after_fp_of_batch:
                # reproduce the crash state: out + fp committed, the
                # band/shingle fold-ins never happened ...
                shutil.rmtree(str(root / "stores" / "bands" / f"batch-{bid}"))
                shutil.rmtree(str(root / "stores" / "shingles" / f"batch-{bid}"))
                # ... then the checkpoint replays the same batch
                stream.process_batch(df, bid)
        return stream

    clean = run(tmp_path / "clean")
    crashed = run(tmp_path / "crashed", crash_after_fp_of_batch=1)

    def survivors(stream):
        return sorted(
            r["doc_id"]
            for b in stream.out.committed_batches()
            for r in spark.read.schema("doc_id long, text string")
            .json(stream.out.path + f"/batch-{b}")
            .select("doc_id")
            .collect()
        )

    assert survivors(crashed) == survivors(clean) == [1, 2, 101, 102, 203]

    # the replayed band/shingle fold-ins are non-empty and identical
    # to the crash-free run's (the old bug committed them EMPTY)
    for store, order_cols in (
        ("band_store", ["hist_id", "band_id", "band_key"]),
        ("shingle_store", ["hist_id"]),
    ):
        a = spark.read.parquet(getattr(clean, store).path + "/batch-1")
        b = spark.read.parquet(getattr(crashed, store).path + "/batch-1")
        assert b.count() == a.count() > 0
        assert (
            a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        )

    # and the replayed output batch was skipped, not rewritten: the
    # sink still holds one dir per batch with the right survivors
    assert clean.out.committed_batches() == crashed.out.committed_batches()


@slow_tier
def test_incremental_corpus_stream_split_inheritance(spark, tmp_path):
    """The streamed corpus is TRAINING-READY (r12 verdict ask #6):
    every emitted survivor carries a cluster-atomic ``split`` column
    with split_incremental_atomic's (L140) semantics per micro-batch.
    Plants, all verified-pair geometry pre-tuned against the real
    minhash/shingle pipeline:

    * the delta-twin-of-train-doc chain: survivor A near-dups only
      its KILLED in-batch twin B, which near-dups base train doc T1 —
      A must inherit 'train' (its naive per-doc hash says 'test');
    * a historical LSH-miss pair (T2, H2 at J=0.786 but seeded as
      separate clusters) merged by a bridging delta doc X — the
      cluster store must fold REMAP rows re-keying H2 to T2's gid;
    * a post-merge chain: survivor Y reaches history only through
      killed twin K ~ H2, and must inherit the MERGED cluster's
      'train' (naive: 'test') — later batches see the merged view;
    * stream == batch parity: every emitted doc's split equals
      incremental_atomic_split(base, concatenated delta)."""
    import os
    import time

    from pyspark.sql import functions as F

    from logprep_spark.functions.dedup import (
        incremental_atomic_split,
        minhash_bands,
        shingle_arrays,
        tokens,
    )
    from logprep_spark.session import fan_out
    from logprep_spark.streaming import IncrementalCorpusStream

    p = [f"p{i}" for i in range(200)]
    q = [f"q{i}" for i in range(22)]
    a = [f"a{i}" for i in range(22)]
    t = [f"t{i}" for i in range(200)]
    b = [f"b{i}" for i in range(22)]
    g = [f"g{i}" for i in range(22)]
    d = [f"d{i}" for i in range(22)]
    mk = lambda ws: " ".join(ws + ["the", "and"])  # noqa: E731

    T1 = mk(p)                       # id 8, tag(8)=53 -> train
    T2 = mk(t)                       # id 12, tag(12)=40 -> train
    H2 = mk(t[:178] + b)             # id 21, tag(21)=92 -> test; J(T2,H2)=.786
    B_ = mk(p[:178] + q)             # id 561: J(T1,B)=.786 -> killed
    A_ = mk(a + p[22:178] + q)       # id 509: J(A,B)=.8, J(A,T1)=.63 -> survives
    FR = mk([f"fresh{i}" for i in range(58)])    # id 620: fresh survivor
    Xw = t[:189] + b[:11]
    Kw = Xw[22:] + g
    X_ = mk(Xw)                      # id 650: bridges T2 AND H2 -> merge
    K_ = mk(Kw)                      # id 690: J(K,X)=.786 -> killed
    Y_ = mk(Kw[22:] + d)             # id 682: J(Y,K)=.786, J(Y,hist)<.7

    base_rows = [(8, T1), (12, T2), (21, H2)]
    f1 = [(509, A_), (561, B_), (620, FR)]
    f2 = [(650, X_)]
    f3 = [(682, Y_), (690, K_)]

    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    seed = tmp_path / "seed"
    base.select(
        F.md5(F.array_join(tokens(F.col("text")), " ")).alias("fp")
    ).distinct().write.parquet(str(seed / "fp"))
    minhash_bands(fan_out(base)).select(
        F.col("doc_id").alias("hist_id"), "band_id", "band_key"
    ).write.parquet(str(seed / "bands"))
    shingle_arrays(base).select(
        F.col("doc_id").alias("hist_id"), "sh"
    ).write.parquet(str(seed / "shingles"))
    # the LSH-miss premise: T2 and H2 seeded as SEPARATE clusters
    # (no b column — exercises the coalesce(b, -1) seed-read path)
    spark.createDataFrame(
        [(8, 8), (12, 12), (21, 21)], "doc_id long, gid long"
    ).write.parquet(str(seed / "clusters"))

    src = tmp_path / "delta-src"
    src.mkdir()
    now = time.time()
    for name, rows, age in (
        ("f1.jsonl", f1, 60),
        ("f2.jsonl", f2, 40),
        ("f3.jsonl", f3, 20),
    ):
        fp = src / name
        fp.write_text(
            "\n".join(json.dumps({"doc_id": i, "text": x}) for i, x in rows)
            + "\n"
        )
        os.utime(fp, (now - age, now - age))

    stream = IncrementalCorpusStream(
        store_dir=str(tmp_path / "stores"),
        out_dir=str(tmp_path / "sink"),
        min_stop_hits=1,
        seed_fp=str(seed / "fp"),
        seed_bands=str(seed / "bands"),
        seed_shingles=str(seed / "shingles"),
        seed_clusters=str(seed / "clusters"),
    )
    df = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q_ = stream.write_stream(df, checkpoint=str(tmp_path / "ckpt"))
    q_.awaitTermination(180)
    q_.stop()

    emitted = {
        r["doc_id"]: r["split"]
        for bb in stream.out.committed_batches()
        for r in spark.read.schema("doc_id long, text string, split string")
        .json(stream.out.path + f"/batch-{bb}")
        .collect()
    }
    # the planted chains: A and Y inherit 'train' through killed twins
    # (their naive per-doc hashes say 'test': buckets 509->90s, 682->91)
    assert emitted == {509: "train", 620: "train", 682: "train"}

    # the cluster store folded the X-merge: H2 (21) re-keyed to T2's
    # gid (12), and every t-family doc resolves to the merged cluster
    paths = [
        stream.cluster_store.path + f"/batch-{bb}"
        for bb in stream.cluster_store.committed_batches()
    ] + [str(seed / "clusters")]
    view = {
        r["doc_id"]: r["gid"]
        for r in spark.read.schema(IncrementalCorpusStream.CLUSTERS_SCHEMA)
        .parquet(*paths)
        .groupBy("doc_id")
        .agg(F.max_by("gid", F.coalesce("b", F.lit(-1))).alias("gid"))
        .collect()
    }
    assert view[21] == 12 and view[650] == 12
    assert view[509] == 8 and view[561] == 8
    assert view[682] == 12 and view[690] == 12
    assert view[620] == 620

    # stream == batch parity: the one-shot cluster-atomic split over
    # the concatenated delta assigns every EMITTED doc the same split
    delta = spark.createDataFrame(
        f1 + f2 + f3, "doc_id long, text string"
    )
    asn, _pairs = incremental_atomic_split(base, delta, threshold=0.7)
    oneshot = {
        r["doc_id"]: r["split"]
        for r in asn.filter(~F.col("is_base")).collect()
    }
    for doc_id, split in emitted.items():
        assert oneshot[doc_id] == split, (doc_id, split, oneshot[doc_id])


@slow_tier
def test_incremental_corpus_stream_bridge_without_cluster_store(
    spark, tmp_path
):
    """r13 ADVICE (medium): a verified (batch, history) pair whose
    hist_id is missing from the cluster store — seed_bands supplied
    without seed_clusters, the pre-upgrade-store shape — must STILL
    bridge: hist_id is itself a member of its cluster, so the left
    join falls back to it (coalesce(gid, hist_id)); an inner join
    would silently drop the edge and survivor A would fall back to
    its own hash split ('test'), the delta-twin-of-train-doc leak.

    Geometry = the split-inheritance test's first chain: survivor A
    near-dups only its KILLED in-batch twin B, which near-dups base
    train doc T1 (id 8, tag(8)=53 -> train); A's naive per-doc hash
    says 'test'."""
    import os
    import time

    from pyspark.sql import functions as F

    from logprep_spark.functions.dedup import (
        minhash_bands,
        shingle_arrays,
        tokens,
    )
    from logprep_spark.session import fan_out
    from logprep_spark.streaming import IncrementalCorpusStream

    p = [f"p{i}" for i in range(200)]
    q = [f"q{i}" for i in range(22)]
    a = [f"a{i}" for i in range(22)]
    mk = lambda ws: " ".join(ws + ["the", "and"])  # noqa: E731

    T1 = mk(p)                     # id 8 -> train
    B_ = mk(p[:178] + q)           # id 561: J(T1,B)=.786 -> killed
    A_ = mk(a + p[22:178] + q)     # id 509: J(A,B)=.8, J(A,T1)=.63

    base = spark.createDataFrame(
        [(8, T1)], "doc_id long, text string"
    )
    seed = tmp_path / "seed"
    base.select(
        F.md5(F.array_join(tokens(F.col("text")), " ")).alias("fp")
    ).distinct().write.parquet(str(seed / "fp"))
    minhash_bands(fan_out(base)).select(
        F.col("doc_id").alias("hist_id"), "band_id", "band_key"
    ).write.parquet(str(seed / "bands"))
    shingle_arrays(base).select(
        F.col("doc_id").alias("hist_id"), "sh"
    ).write.parquet(str(seed / "shingles"))

    src = tmp_path / "delta-src"
    src.mkdir()
    fp = src / "f1.jsonl"
    fp.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": x})
            for i, x in [(509, A_), (561, B_)]
        )
        + "\n"
    )
    now = time.time()
    os.utime(fp, (now - 60, now - 60))

    # NO seed_clusters — the band store knows id 8, the cluster
    # store has never heard of it
    stream = IncrementalCorpusStream(
        store_dir=str(tmp_path / "stores"),
        out_dir=str(tmp_path / "sink"),
        min_stop_hits=1,
        seed_fp=str(seed / "fp"),
        seed_bands=str(seed / "bands"),
        seed_shingles=str(seed / "shingles"),
    )
    df = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q_ = stream.write_stream(df, checkpoint=str(tmp_path / "ckpt"))
    # generous cap + asserted return: each micro-batch runs the full
    # gate->dedup->cluster fold chain (tens of Spark jobs); under a
    # loaded box 180s truncated the stream mid-batch and the missing
    # batches surfaced as a confusing split-assert failure downstream
    assert q_.awaitTermination(600), "stream did not finish in 600s"
    q_.stop()

    emitted = {
        r["doc_id"]: r["split"]
        for bb in stream.out.committed_batches()
        for r in spark.read.schema("doc_id long, text string, split string")
        .json(stream.out.path + f"/batch-{bb}")
        .collect()
    }
    # A inherits T1's cluster through the hist_id fallback bridge
    # (naive per-doc hash: bucket(509) -> 'test')
    assert emitted == {509: "train"}


@slow_tier
def test_incremental_corpus_stream_merge_after_emit_divergence(
    spark, tmp_path
):
    """The DOCUMENTED split-parity residual (r13 ADVICE, medium;
    docstring scope in streaming/pipeline.py): emitted output is
    immutable, so a LATER batch that merges two previously-emitted
    clusters cannot reach back into committed rows — a survivor
    emitted BEFORE the merge keeps its old cluster's split, while
    the one-shot incremental_atomic_split over the concatenated
    delta (seeing all docs at once) gives it the merged cluster's
    split. This drill PLANTS that geometry and asserts the
    divergence is exactly the documented one — and that the cluster
    store's final view carries the merged gid, so the residual is
    measurable post-hoc (committed split != hash-split of the
    store's final gid).

    Plant: base T2 (id 12 -> train) and H2 (id 21 -> test) seeded
    as SEPARATE clusters (the LSH-miss premise); batch 1 emits S1
    inheriting H2's cluster through killed twin K1 -> 'test';
    batch 2's X2 bridges T2 AND H2 -> merge to gid 12; batch 3's Y2
    inherits the MERGED cluster through killed twin K2 -> 'train'.
    One-shot over the concatenated delta puts S1 in the merged
    cluster -> 'train' != the committed 'test'."""
    import os
    import time

    from pyspark.sql import functions as F

    from logprep_spark.functions.dedup import (
        incremental_atomic_split,
        minhash_bands,
        shingle_arrays,
        tokens,
    )
    from logprep_spark.session import fan_out
    from logprep_spark.streaming import IncrementalCorpusStream

    t = [f"t{i}" for i in range(200)]
    b = [f"b{i}" for i in range(22)]
    q2 = [f"q{i}" for i in range(22)]
    a2 = [f"a{i}" for i in range(22)]
    g2 = [f"g{i}" for i in range(22)]
    d2 = [f"d{i}" for i in range(22)]
    mk = lambda ws: " ".join(ws + ["the", "and"])  # noqa: E731

    T2 = mk(t)                        # id 12, tag(12)=40 -> train
    H2w = t[:178] + b
    H2 = mk(H2w)                      # id 21, tag(21)=92 -> test
    K1w = t[22:178] + b + q2
    K1 = mk(K1w)                      # id 560: J(K1,H2)=.786, J(K1,T2)=.64
    S1 = mk(a2 + K1w[22:])            # id 500: J(S1,K1)=.786, J(S1,H2)=.64
    Xw = t[:189] + b[:11]
    X2 = mk(Xw)                       # id 650: bridges T2 AND H2 -> merge
    K2w = Xw[22:] + g2
    K2 = mk(K2w)                      # id 690: J(K2,X2)=.786 -> killed
    Y2 = mk(K2w[22:] + d2)            # id 682: J(Y2,K2)=.786, J(Y2,hist)<.7

    base = spark.createDataFrame(
        [(12, T2), (21, H2)], "doc_id long, text string"
    )
    seed = tmp_path / "seed"
    base.select(
        F.md5(F.array_join(tokens(F.col("text")), " ")).alias("fp")
    ).distinct().write.parquet(str(seed / "fp"))
    minhash_bands(fan_out(base)).select(
        F.col("doc_id").alias("hist_id"), "band_id", "band_key"
    ).write.parquet(str(seed / "bands"))
    shingle_arrays(base).select(
        F.col("doc_id").alias("hist_id"), "sh"
    ).write.parquet(str(seed / "shingles"))
    spark.createDataFrame(
        [(12, 12), (21, 21)], "doc_id long, gid long"
    ).write.parquet(str(seed / "clusters"))

    src = tmp_path / "delta-src"
    src.mkdir()
    now = time.time()
    for name, rows, age in (
        ("f1.jsonl", [(500, S1), (560, K1)], 60),
        ("f2.jsonl", [(650, X2)], 40),
        ("f3.jsonl", [(682, Y2), (690, K2)], 20),
    ):
        fp = src / name
        fp.write_text(
            "\n".join(json.dumps({"doc_id": i, "text": x}) for i, x in rows)
            + "\n"
        )
        os.utime(fp, (now - age, now - age))

    stream = IncrementalCorpusStream(
        store_dir=str(tmp_path / "stores"),
        out_dir=str(tmp_path / "sink"),
        min_stop_hits=1,
        seed_fp=str(seed / "fp"),
        seed_bands=str(seed / "bands"),
        seed_shingles=str(seed / "shingles"),
        seed_clusters=str(seed / "clusters"),
    )
    df = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q_ = stream.write_stream(df, checkpoint=str(tmp_path / "ckpt"))
    # generous cap + asserted return: each micro-batch runs the full
    # gate->dedup->cluster fold chain (tens of Spark jobs); under a
    # loaded box 180s truncated the stream mid-batch and the missing
    # batches surfaced as a confusing split-assert failure downstream
    assert q_.awaitTermination(600), "stream did not finish in 600s"
    q_.stop()

    emitted = {
        r["doc_id"]: r["split"]
        for bb in stream.out.committed_batches()
        for r in spark.read.schema("doc_id long, text string, split string")
        .json(stream.out.path + f"/batch-{bb}")
        .collect()
    }
    # S1 emitted BEFORE the merge: H2's cluster split ('test').
    # Y2 emitted AFTER: the merged cluster's split ('train').
    assert emitted == {500: "test", 682: "train"}

    # the cluster store's FINAL view has folded the merge for
    # everyone, including the already-emitted S1
    paths = [
        stream.cluster_store.path + f"/batch-{bb}"
        for bb in stream.cluster_store.committed_batches()
    ] + [str(seed / "clusters")]
    view = {
        r["doc_id"]: r["gid"]
        for r in spark.read.schema(IncrementalCorpusStream.CLUSTERS_SCHEMA)
        .parquet(*paths)
        .groupBy("doc_id")
        .agg(F.max_by("gid", F.coalesce("b", F.lit(-1))).alias("gid"))
        .collect()
    }
    assert view[21] == 12 and view[650] == 12
    assert view[500] == 12 and view[682] == 12

    # the one-shot pass DISAGREES on S1 — the documented, measurable
    # residual: parity holds only for survivors emitted after every
    # merge touching their cluster
    delta = spark.createDataFrame(
        [(500, S1), (560, K1), (650, X2), (682, Y2), (690, K2)],
        "doc_id long, text string",
    )
    asn, _pairs = incremental_atomic_split(base, delta, threshold=0.7)
    oneshot = {
        r["doc_id"]: r["split"]
        for r in asn.filter(~F.col("is_base")).collect()
    }
    assert oneshot[682] == "train" == emitted[682]
    assert oneshot[500] == "train" and emitted[500] == "test"
