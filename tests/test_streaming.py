"""Streaming runtime tests: upsert snapshot store, watermark dedup, and the
statement-set runner's quiescence contract (streaming result == batch result
over the same total input, AC-2)."""

import json
import os
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from confluent_data_ingestion_spark.spec import load_spec
from confluent_data_ingestion_spark.streaming import (
    StatementSetRunner,
    UpsertSnapshot,
    file_envelope_stream,
    kafka_source_options,
    watermark_dedup,
)


# ---------------------------------------------------------------------------
# UpsertSnapshot
# ---------------------------------------------------------------------------
def _mk_store(tmp, **kw):
    return UpsertSnapshot(str(tmp / "store"), ["k"], ["seq"], **kw)


def test_upsert_latest_wins(spark, tmp_path):
    store = _mk_store(tmp_path)
    store.upsert(spark.createDataFrame([Row(k=1, seq=1, v="a"), Row(k=2, seq=1, v="b")]))
    store.upsert(spark.createDataFrame([Row(k=1, seq=2, v="a2")]))
    snap = {r["k"]: r["v"] for r in store.snapshot(spark).collect()}
    assert snap == {1: "a2", 2: "b"}


def test_upsert_out_of_order_and_replay_idempotent(spark, tmp_path):
    store = _mk_store(tmp_path)
    b1 = spark.createDataFrame([Row(k=1, seq=5, v="new")])
    b2 = spark.createDataFrame([Row(k=1, seq=3, v="stale")])
    assert store.upsert(b1, batch_id=1)
    assert store.upsert(b2, batch_id=2)  # late arrival: older seq
    assert not store.upsert(b1, batch_id=1)  # replay skipped
    rows = store.snapshot(spark).collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"
    assert store.log(spark).count() == 2  # replay appended nothing


def test_upsert_delete_modes(spark, tmp_path):
    data = [
        Row(k=1, seq=1, v="a", op="I"),
        Row(k=1, seq=2, v="a-del", op="D"),
        Row(k=2, seq=1, v="b", op="I"),
    ]
    excl = UpsertSnapshot(
        str(tmp_path / "x"), ["k"], ["seq"],
        delete_flag_field="op", delete_flag_values=("D",),
    )
    excl.upsert(spark.createDataFrame(data))
    snap = {r["k"]: r["v"] for r in excl.snapshot(spark).collect()}
    assert snap == {1: "a", 2: "b"}  # delete excluded -> previous resurfaces

    tomb = UpsertSnapshot(
        str(tmp_path / "t"), ["k"], ["seq"],
        delete_flag_field="op", delete_flag_values=("D",),
        delete_mode="tombstone",
    )
    tomb.upsert(spark.createDataFrame(data))
    snap = {r["k"]: r["v"] for r in tomb.snapshot(spark).collect()}
    assert snap == {2: "b"}  # delete retracts the key


def test_upsert_delta_contract_matches_parquet_log_on_stub(spark, tmp_path):
    """The upsert contract a MERGE-style backend had to reproduce, pinned on
    the parquet-log store as explicit snapshots for both delete modes:
    ranking on the sequence columns across batches, plus tombstone
    semantics for deletes."""
    # across batches: an out-of-order update, a delete of a key that was
    # never inserted (3), and a delete as key 2's newest event later on
    batches = [
        [Row(k=1, seq=1, v="a", deleted="false"),
         Row(k=2, seq=1, v="b", deleted="false")],
        [Row(k=1, seq=3, v="a3", deleted="false"),
         Row(k=1, seq=2, v="a2", deleted="false"),
         Row(k=3, seq=1, v="c", deleted="true")],
        [Row(k=2, seq=2, v="gone", deleted="true")],
    ]
    expected = {
        "exclude": {(1, 3, "a3"), (2, 1, "b")},
        "tombstone": {(1, 3, "a3")},
    }
    for mode, want in expected.items():
        store = UpsertSnapshot(
            str(tmp_path / f"seq-{mode}"), ["k"], ["seq"],
            delete_flag_field="deleted", delete_mode=mode,
        )
        for i, rows in enumerate(batches):
            store.upsert(spark.createDataFrame(rows), batch_id=i)
        got = {(r["k"], r["seq"], r["v"]) for r in store.snapshot(spark).collect()}
        assert got == want, f"mode={mode}"


def test_compact_preserves_snapshot(spark, tmp_path):
    store = _mk_store(tmp_path)
    for s in range(4):
        store.upsert(spark.createDataFrame([Row(k=i, seq=s, v=f"{i}@{s}") for i in range(3)]))
    before = sorted(map(tuple, store.snapshot(spark).collect()))
    store.compact(spark)
    after = sorted(map(tuple, store.snapshot(spark).collect()))
    assert before == after
    assert store.log(spark).count() == 3  # log collapsed to live keys


# ---------------------------------------------------------------------------
# Source helpers
# ---------------------------------------------------------------------------
def test_kafka_source_options():
    opts = kafka_source_options("b:9092", ["t1", "t2"], max_offsets_per_trigger=500)
    assert opts["subscribe"] == "t1,t2" and opts["maxOffsetsPerTrigger"] == "500"
    assert kafka_source_options("b", topic_pattern="x.*")["subscribePattern"] == "x.*"
    with pytest.raises(ValueError):
        kafka_source_options("b")
    with pytest.raises(ValueError):
        kafka_source_options("b", "t", topic_pattern="x.*")


def test_watermark_dedup_stream(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    rows = [
        {"k": 1, "ts": "2026-01-01T00:00:01", "v": "a"},
        {"k": 1, "ts": "2026-01-01T00:00:05", "v": "dup"},
        {"k": 2, "ts": "2026-01-01T00:00:02", "v": "b"},
    ]
    with open(f"{src}/part1.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    stream = (
        file_envelope_stream(spark, src)
        .select(
            F.get_json_object("val", "$.k").cast("int").alias("k"),
            F.get_json_object("val", "$.ts").cast("timestamp").alias("ts"),
            F.get_json_object("val", "$.v").alias("v"),
        )
    )
    deduped = watermark_dedup(stream, ["k"], "ts", "10 seconds")
    q = (
        deduped.writeStream.format("memory")
        .queryName("wm_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from wm_dedup").collect()
    assert sorted(r["k"] for r in got) == [1, 2]  # one row per key survives


# ---------------------------------------------------------------------------
# Statement-set runner: streaming == batch at quiescence
# ---------------------------------------------------------------------------
def _pipeline_spec(*, soft_delete=False, downstream=True):
    """VIEW -> XREF (latest by seq) -> FGAC / QUARANTINE.  ``soft_delete``
    adds an ``op`` column whose value D flags a delete event; without
    ``downstream`` the spec stops at the XREF table."""
    def R(**kw):
        return kw

    xref_delete = (
        dict(DeleteFlagField="op", DeleteFlagValues="D") if soft_delete else {}
    )
    rows = [
        R(PipelineStage="VIEW", TargetTable="V_ACCT", TargetColumn="acct_id",
          TargetDataType="BIGINT", IsTargetPK="Y", FieldSelector="acct_id",
          FilterPredicate="JSON_VALUE(CAST(val AS STRING), '$.tbl') = 'acct'"),
        R(PipelineStage="VIEW", TargetTable="V_ACCT", TargetColumn="seq",
          TargetDataType="BIGINT", FieldSelector="seq"),
        R(PipelineStage="VIEW", TargetTable="V_ACCT", TargetColumn="status",
          TargetDataType="STRING", FieldSelector="status"),
    ]
    if soft_delete:
        rows.append(R(PipelineStage="VIEW", TargetTable="V_ACCT",
                      TargetColumn="op", TargetDataType="STRING",
                      FieldSelector="op"))
    rows += [
        R(PipelineStage="XREF", TargetTable="XREF_ACCT", TargetColumn="acct_id",
          TargetDataType="BIGINT", IsTargetPK="Y", SourceTable="V_ACCT",
          FieldSelector="acct_id", OrderByFields="seq", **xref_delete),
        R(PipelineStage="XREF", TargetTable="XREF_ACCT", TargetColumn="status",
          SourceTable="V_ACCT", FieldSelector="status"),
    ]
    if soft_delete:
        rows.append(R(PipelineStage="XREF", TargetTable="XREF_ACCT",
                      TargetColumn="op", SourceTable="V_ACCT",
                      FieldSelector="op"))
    if not downstream:
        return load_spec(rows)
    return load_spec(rows + [
        R(PipelineStage="FGAC", TargetTable="FGAC_ACCT", TargetColumn="acct_id",
          TargetDataType="BIGINT", IsTargetPK="Y", SourceTable="XREF_ACCT",
          FieldSelector="s.acct_id", JoinTable="dim", JoinAlias="d",
          JoinType="INNER", JoinCondition="s.acct_id = d.id"),
        R(PipelineStage="FGAC", TargetTable="FGAC_ACCT", TargetColumn="status",
          SourceTable="XREF_ACCT", FieldSelector="s.status"),
        R(PipelineStage="FGAC", TargetTable="FGAC_ACCT", TargetColumn="segment",
          SourceTable="XREF_ACCT", FieldSelector="d.segment"),
        R(PipelineStage="QUARANTINE", TargetTable="Q_ACCT", TargetColumn="acct_id",
          TargetDataType="BIGINT", SourceTable="XREF_ACCT",
          FieldSelector="acct_id", JoinTable="dim", JoinAlias="d",
          JoinCondition="s.acct_id = d.id",
          FilterPredicate="d.id IS NULL"),
    ])


def _write_envelope_files(src_dir, n_files=3, accts=7, updates=3):
    """Deterministic multi-batch envelope: every account gets several
    versions spread across files; acct_id >= 100 has no dim row (quarantine)."""
    os.makedirs(src_dir)
    msgs = []
    seq = 0
    for u in range(updates):
        for a in range(accts):
            aid = a + (100 if a >= accts - 2 else 0)  # last two are orphans
            msgs.append({"tbl": "acct", "acct_id": aid, "seq": seq,
                         "status": f"s{u}-{aid}"})
            seq += 1
    msgs.append({"tbl": "other", "acct_id": 999, "seq": 0, "status": "noise"})
    per = (len(msgs) + n_files - 1) // n_files
    for i in range(n_files):
        with open(f"{src_dir}/f{i}.ndjson", "w") as f:
            f.writelines(json.dumps(m) + "\n" for m in msgs[i * per:(i + 1) * per])


def _sink_rows(spark, path, columns):
    return sorted(map(tuple, spark.read.parquet(path).select(*columns).collect()))


def _assert_streaming_matches_batch(spark, tmp_path, spec, src, dim):
    """Run ``spec`` over the files under ``src`` in batch mode and as a
    one-file-per-microbatch stream; every sink must hold the same rows
    (the append-only quarantine stream compared as a set).  Returns the
    streaming sinks' rows by table."""
    batch_paths = StatementSetRunner(
        spark, spec, {"dim": dim}, str(tmp_path / "out_batch")
    ).run_batch(spark.read.text(src).select(F.col("value").alias("val")))
    stream_runner = StatementSetRunner(
        spark, spec, {"dim": dim}, str(tmp_path / "out_stream"))
    stream_runner.run_streaming(
        file_envelope_stream(spark, src, max_files_per_trigger=1))
    got = {}
    for table, path in batch_paths.items():
        cols = spark.read.parquet(path).columns
        b = _sink_rows(spark, path, cols)
        s = _sink_rows(spark, stream_runner.table_path(table), cols)
        if spec.stage_of(table) == "QUARANTINE":
            b, s = sorted(set(b)), sorted(set(s))
        assert s == b, f"{table}: streaming != batch at quiescence"
        got[table] = s
    return got


def test_statement_set_streaming_matches_batch(spark, tmp_path):
    src = str(tmp_path / "msgs")
    _write_envelope_files(src)
    dim = spark.createDataFrame(
        [Row(id=i, segment=f"seg{i % 2}") for i in range(10)]
    )
    got = _assert_streaming_matches_batch(
        spark, tmp_path, _pipeline_spec(), src, dim)
    assert set(got) == {"XREF_ACCT", "FGAC_ACCT", "Q_ACCT"}
    # sanity: quarantine caught exactly the orphan accounts
    assert got["Q_ACCT"] == [(105,), (106,)]


def test_statement_set_restart_is_noop(spark, tmp_path):
    """Re-running with the same checkpoint re-processes nothing and outputs
    are unchanged (idempotent recovery, PR-3)."""
    src = str(tmp_path / "msgs")
    _write_envelope_files(src, n_files=2)
    dim = spark.createDataFrame([Row(id=i, segment="s") for i in range(10)])
    spec = _pipeline_spec()
    runner = StatementSetRunner(spark, spec, {"dim": dim}, str(tmp_path / "out"))
    stream = file_envelope_stream(spark, src, max_files_per_trigger=1)
    runner.run_streaming(stream)
    before = sorted(map(tuple, spark.read.parquet(runner.table_path("XREF_ACCT")).collect()))
    log_count = runner._xref_store("XREF_ACCT", spec.tables()["XREF_ACCT"]).log(spark).count()

    runner2 = StatementSetRunner(spark, spec, {"dim": dim}, str(tmp_path / "out"))
    stream2 = file_envelope_stream(spark, src, max_files_per_trigger=1)
    runner2.run_streaming(stream2)
    after = sorted(map(tuple, spark.read.parquet(runner2.table_path("XREF_ACCT")).collect()))
    log_count2 = runner2._xref_store("XREF_ACCT", spec.tables()["XREF_ACCT"]).log(spark).count()
    assert before == after
    assert log_count == log_count2  # nothing re-appended


def _write_files(src_dir, files):
    os.makedirs(src_dir)
    for i, msgs in enumerate(files):
        with open(f"{src_dir}/f{i}.ndjson", "w") as f:
            f.writelines(json.dumps({"tbl": "acct", **m}) + "\n" for m in msgs)


def test_statement_set_streaming_matches_batch_on_change_edge_cases(
    spark, tmp_path
):
    """Per-microbatch propagation must not lose or revive rows when a
    file holds an event OLDER than a key's current version, events for a
    key that only ever gets deletes, or a delete of a key's newest
    version (the previous version comes back, in a later file or in the
    same one)."""
    def ev(aid, seq, status, op="U"):
        return {"acct_id": aid, "seq": seq, "status": status, "op": op}

    src = str(tmp_path / "msgs")
    _write_files(src, [
        [ev(1, 10, "a1-v1"), ev(1, 12, "a1-v2"), ev(2, 11, "a2-v1"),
         ev(3, 14, "a3-v1"), ev(6, 15, "a6-v1"), ev(105, 13, "q-v1")],
        [ev(1, 5, "a1-stale"), ev(4, 20, "a4-del", "D"),
         ev(104, 21, "q4-del", "D"), ev(2, 22, "a2-v2"),
         ev(3, 23, "a3-del", "D")],
        [ev(2, 30, "a2-del", "D"), ev(4, 31, "a4-del2", "D"),
         ev(105, 32, "q-del", "D"), ev(1, 6, "a1-stale2"),
         ev(6, 33, "a6-v2"), ev(6, 34, "a6-del", "D")],
    ])
    dim = spark.createDataFrame(
        [Row(id=i, segment=f"seg{i % 2}") for i in range(10)]
    )
    got = _assert_streaming_matches_batch(
        spark, tmp_path, _pipeline_spec(soft_delete=True), src, dim)
    assert got["XREF_ACCT"] == [
        (1, "a1-v2", "U"), (2, "a2-v2", "U"), (3, "a3-v1", "U"),
        (6, "a6-v2", "U"), (105, "q-v1", "U"),
    ]
    assert got["FGAC_ACCT"] == [
        (1, "a1-v2", "seg1"), (2, "a2-v2", "seg0"), (3, "a3-v1", "seg1"),
        (6, "a6-v2", "seg0"),
    ]
    assert got["Q_ACCT"] == [(105,)]


def test_statement_set_xref_only_spec_matches_batch(spark, tmp_path):
    """A spec whose XREF table no later stage reads: no downstream write
    and no materialized post-upsert rows, same quiescent XREF."""
    src = str(tmp_path / "msgs")
    _write_envelope_files(src)
    dim = spark.createDataFrame([Row(id=0, segment="s")])
    got = _assert_streaming_matches_batch(
        spark, tmp_path, _pipeline_spec(downstream=False), src, dim)
    assert set(got) == {"XREF_ACCT"}
    assert len(got["XREF_ACCT"]) == 7


def test_statement_set_streaming_releases_its_blocks(spark, tmp_path):
    """Every microbatch persists its input and checkpoints the post-upsert
    XREF rows; a missed release would leak blocks once per microbatch."""
    jsc = spark.sparkContext._jsc.sc()
    src = str(tmp_path / "msgs")
    _write_envelope_files(src, n_files=4)
    dim = spark.createDataFrame([Row(id=i, segment="s") for i in range(10)])
    base = jsc.getPersistentRDDs().size()
    runner = StatementSetRunner(
        spark, _pipeline_spec(), {"dim": dim}, str(tmp_path / "out"))
    runner.run_streaming(
        file_envelope_stream(spark, src, max_files_per_trigger=1))
    assert spark.read.parquet(runner.table_path("FGAC_ACCT")).count() == 5
    assert jsc.getPersistentRDDs().size() == base


def test_statement_set_sink_writes_reuse_the_runner_threads(spark, tmp_path):
    """Every microbatch's downstream writes run on the runner's writer
    threads, not on threads started per microbatch, and the threads stop
    when the query ends."""
    src = str(tmp_path / "msgs")
    _write_envelope_files(src, n_files=4)
    dim = spark.createDataFrame([Row(id=i, segment="s") for i in range(10)])
    runner = StatementSetRunner(
        spark, _pipeline_spec(), {"dim": dim}, str(tmp_path / "out"))
    threads, batches = set(), set()
    append_once = runner._append_once

    def _recording(df, table, batch_id):
        threads.add(threading.current_thread())
        batches.add(batch_id)
        append_once(df, table, batch_id)

    runner._append_once = _recording
    runner.run_streaming(
        file_envelope_stream(spark, src, max_files_per_trigger=1))
    assert batches == {0, 1, 2, 3}
    # two downstream sinks: the pool holds two threads
    assert 1 <= len(threads) <= 2
    assert all(t.name.startswith("sink-writer") for t in threads)
    assert not any(t.is_alive() for t in threads)
    assert sorted(_sink_rows(spark, runner.table_path("Q_ACCT"), ["acct_id"])) \
        == [(105,)] * 3 + [(106,)] * 3


def test_parse_state_ttl():
    from confluent_data_ingestion_spark.streaming.sources import parse_state_ttl

    assert parse_state_ttl("5 min") == "5 minutes"
    assert parse_state_ttl("900 ms") == "900 milliseconds"
    assert parse_state_ttl("2 h") == "2 hours"
    assert parse_state_ttl("0 ms") is None  # keep state forever
    with pytest.raises(ValueError):
        parse_state_ttl("whenever")


# ---------------------------------------------------------------------------
# Tumbling window aggregation under Structured Streaming (watermarked)
# ---------------------------------------------------------------------------
def test_tumbling_window_streaming_matches_batch(spark, tmp_path):
    from confluent_data_ingestion_spark.operators.temporal import (
        tumbling_window_agg,
    )

    src = str(tmp_path / "win_in")
    os.makedirs(src)
    rows = [
        {"et": "a", "ts": "2026-01-01T00:00:10", "v": 1.0},
        {"et": "a", "ts": "2026-01-01T00:01:10", "v": 2.0},
        {"et": "b", "ts": "2026-01-01T00:00:20", "v": 4.0},
        {"et": "a", "ts": "2026-01-01T00:02:30", "v": 8.0},
    ]
    with open(f"{src}/p1.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)

    def typed(df):
        return df.select(
            F.get_json_object("val", "$.et").alias("event_type"),
            F.get_json_object("val", "$.ts").cast("timestamp").alias("ts"),
            F.get_json_object("val", "$.v").cast("double").alias("value"),
        )

    aggs = [F.count("*").alias("n"), F.sum("value").alias("s")]

    # the SAME operator body runs in both execution modes — watermark added
    # on the streaming side so state is bounded in a real deployment
    stream = typed(file_envelope_stream(spark, src)).withWatermark("ts", "1 minute")
    q = (
        tumbling_window_agg(
            stream, time_col="ts", window_seconds=60,
            group_cols=["event_type"], aggs=aggs,
        )
        .writeStream.format("memory")
        .queryName("win_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_df = spark.read.text(src).select(F.col("value").alias("val"))
    expected = {
        (r["event_type"], str(r["window_start"])): (r["n"], r["s"])
        for r in tumbling_window_agg(
            typed(batch_df), time_col="ts", window_seconds=60,
            group_cols=["event_type"], aggs=aggs,
        ).collect()
    }
    got = {
        (r["event_type"], str(r["window_start"])): (r["n"], r["s"])
        for r in spark.sql("select * from win_stream").collect()
    }
    assert got == expected
    assert got[("a", "2026-01-01 00:00:00")] == (1, 1.0)
    assert got[("a", "2026-01-01 00:01:00")] == (1, 2.0)


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState sessionizer
# ---------------------------------------------------------------------------
def test_stateful_sessionize_across_microbatches(spark, tmp_path):
    from confluent_data_ingestion_spark.streaming.stateful import (
        stateful_sessionize,
    )

    src = str(tmp_path / "ss_in")
    os.makedirs(src)
    # file 1: two clusters for key 1 (session A closed by the 2nd cluster)
    with open(f"{src}/a.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in [
            {"k": 1, "ts": "2026-01-01T00:00:00", "v": 1.0},
            {"k": 1, "ts": "2026-01-01T00:10:00", "v": 2.0},
            {"k": 1, "ts": "2026-01-01T02:00:00", "v": 4.0},
        ])
    # file 2 (separate microbatch): closes key 1's 2nd session, opens 3rd;
    # key 2 appears and stays open (never emitted)
    with open(f"{src}/b.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in [
            {"k": 1, "ts": "2026-01-01T05:00:00", "v": 8.0},
            {"k": 2, "ts": "2026-01-01T00:00:00", "v": 16.0},
        ])
    # the file source orders batches by modification time — pin it so the
    # "state crosses microbatches" scenario is what actually runs
    now = os.path.getmtime(f"{src}/b.ndjson")
    os.utime(f"{src}/a.ndjson", (now - 10, now - 10))

    stream = file_envelope_stream(spark, src, max_files_per_trigger=1).select(
        F.get_json_object("val", "$.k").cast("bigint").alias("k"),
        F.get_json_object("val", "$.ts").cast("timestamp").alias("ts"),
        F.get_json_object("val", "$.v").cast("double").alias("v"),
    )
    q = (
        stateful_sessionize(
            stream, key_col="k", time_col="ts", value_col="v",
            gap_seconds=1800,
        )
        .writeStream.format("memory")
        .queryName("ss_out")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["key"], str(r["session_start"])): (str(r["session_end"]), r["n_events"], r["sum_value"])
        for r in spark.sql("select * from ss_out").collect()
    }
    # session A: 00:00-00:10 (2 events), closed within batch 1
    # session B: 02:00-02:00, closed by batch 2's 05:00 event (state crossed
    # the microbatch boundary); session C (05:00) and key 2 stay open
    assert got == {
        (1, "2026-01-01 00:00:00"): ("2026-01-01 00:10:00", 2, 3.0),
        (1, "2026-01-01 02:00:00"): ("2026-01-01 02:00:00", 1, 4.0),
    }


def test_stateful_sessionize_late_row_merges_into_open_session(spark, tmp_path):
    from confluent_data_ingestion_spark.streaming.stateful import (
        stateful_sessionize,
    )

    src = str(tmp_path / "ss_late")
    os.makedirs(src)
    with open(f"{src}/a.ndjson", "w") as f:
        f.write(json.dumps({"k": 1, "ts": "2026-01-01T01:00:00", "v": 1.0}) + "\n")
    # late row 10 min BEFORE the open session start, then a gap-closer
    with open(f"{src}/b.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in [
            {"k": 1, "ts": "2026-01-01T00:50:00", "v": 2.0},
            {"k": 1, "ts": "2026-01-01T03:00:00", "v": 4.0},
        ])
    now = os.path.getmtime(f"{src}/b.ndjson")
    os.utime(f"{src}/a.ndjson", (now - 10, now - 10))

    stream = file_envelope_stream(spark, src, max_files_per_trigger=1).select(
        F.get_json_object("val", "$.k").cast("bigint").alias("k"),
        F.get_json_object("val", "$.ts").cast("timestamp").alias("ts"),
        F.get_json_object("val", "$.v").cast("double").alias("v"),
    )
    q = (
        stateful_sessionize(stream, key_col="k", time_col="ts",
                            value_col="v", gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("ss_late_out")
        .option("checkpointLocation", str(tmp_path / "ss_late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [
        (r["key"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"], r["sum_value"])
        for r in spark.sql("select * from ss_late_out").collect()
    ]
    # the late 00:50 row merged into the open 01:00 session before 03:00
    # closed it: one session, front-extended
    assert got == [(1, "2026-01-01 00:50:00", "2026-01-01 01:00:00", 2, 3.0)]


def test_session_window_streaming_append_emits_closed_sessions(spark, tmp_path):
    from confluent_data_ingestion_spark.operators.temporal import (
        session_window_agg,
    )

    src = str(tmp_path / "sess_in")
    os.makedirs(src)
    rows = [
        {"k": 1, "ts": "2026-01-01T00:00:00", "v": 1.0},
        {"k": 1, "ts": "2026-01-01T00:10:00", "v": 2.0},
        # far-future row advances the watermark past key 1's session end
        {"k": 2, "ts": "2026-01-02T00:00:00", "v": 4.0},
    ]
    with open(f"{src}/p1.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)

    stream = file_envelope_stream(spark, src).select(
        F.get_json_object("val", "$.k").cast("bigint").alias("k"),
        F.get_json_object("val", "$.ts").cast("timestamp").alias("ts"),
        F.get_json_object("val", "$.v").cast("double").alias("v"),
    ).withWatermark("ts", "1 minute")
    q = (
        session_window_agg(
            stream, time_col="ts", gap_seconds=1800, group_cols=["k"],
            aggs=[F.count("*").alias("n"), F.sum("v").alias("s")],
        )
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["k"], str(r["window_start"])): (str(r["window_end"]), r["n"], r["s"])
        for r in spark.sql("select * from sess_stream").collect()
    }
    # key 1's session closed below the final watermark -> emitted in append
    # mode; key 2's session is still open against the watermark -> withheld
    assert got == {
        (1, "2026-01-01 00:00:00"): ("2026-01-01 00:40:00", 2, 3.0),
    }


# ---------------------------------------------------------------------------
# S1 contract: kafka_envelope_stream against a fake in-process Kafka source.
# The sandbox has no broker and no kafka connector jar, but Spark 4's Python
# Data Source API lets us register a source NAMED "kafka" serving the real
# Kafka wire schema (key/value binary, topic, partition, offset, timestamp,
# timestampType), so the S1 code path — option flow through
# kafka_source_options into readStream.format("kafka") and the value->val
# projection — executes end-to-end.  The fake echoes the options it received
# back into the message payloads, proving subscribe/bootstrap reached the
# source.
# ---------------------------------------------------------------------------
def test_kafka_envelope_stream_against_fake_broker(spark, tmp_path):
    import datetime as dt

    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _FakeKafkaReader(SimpleDataSourceStreamReader):
        N = 3

        def __init__(self, options):
            self._opts = options

        def _rows(self):
            topic = self._opts.get("subscribe", "?")
            boot = self._opts.get("kafka.bootstrap.servers", "?")
            ts = dt.datetime(2026, 1, 1)
            return [
                (
                    b"k%d" % i,
                    json.dumps({"topic": topic, "bootstrap": boot,
                                "n": i}).encode(),
                    topic, 0, i, ts, 1,
                )
                for i in range(self.N)
            ]

        def initialOffset(self):
            return {"offset": 0}

        def read(self, start):
            s = int(start["offset"])
            if s >= self.N:
                return iter([]), start
            return iter(self._rows()[s:]), {"offset": self.N}

        def readBetweenOffsets(self, start, end):
            return iter(self._rows()[int(start["offset"]):int(end["offset"])])

    class _FakeKafka(DataSource):
        @classmethod
        def name(cls):
            # Spark reserves the literal name "kafka" (registration raises
            # DATA_SOURCE_ALREADY_EXISTS), so the fake registers under its
            # own name and the test injects it via format_name.
            return "fakekafka"

        def schema(self):
            return ("key binary, value binary, topic string, partition int, "
                    "offset bigint, timestamp timestamp, timestampType int")

        def simpleStreamReader(self, schema):
            return _FakeKafkaReader(self.options)

    spark.dataSource.register(_FakeKafka)
    from confluent_data_ingestion_spark.streaming.sources import (
        kafka_envelope_stream,
    )

    env = kafka_envelope_stream(spark, "b:9092", "t-orders",
                                format_name="fakekafka",
                                max_offsets_per_trigger=100)
    assert env.isStreaming and env.columns == ["val"]
    q = (
        env.writeStream.format("memory")
        .queryName("kafka_env")
        .option("checkpointLocation", str(tmp_path / "kafka_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    payloads = [json.loads(r["val"])
                for r in spark.sql("select * from kafka_env").collect()]
    assert len(payloads) == 3
    # options round-tripped through the source: S1's WITH-clause contract
    assert all(p["topic"] == "t-orders" for p in payloads)
    assert all(p["bootstrap"] == "b:9092" for p in payloads)


# ---------------------------------------------------------------------------
# Streaming incremental dedup: the index grows ACROSS microbatches — a doc
# first accepted in batch 1 must label dup_exact when it reappears in
# batch 2.
# ---------------------------------------------------------------------------
def test_streaming_ingest_dedup_index_grows_across_batches(spark, tmp_path):
    from confluent_data_ingestion_spark.streaming.incremental import (
        init_dedup_index,
        streaming_ingest_dedup,
    )

    base = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog")]
    )
    idx_dir = str(tmp_path / "index")
    init_dedup_index(base, idx_dir)

    # two NDJSON files -> two microbatches (maxFilesPerTrigger=1),
    # ordered by file modification time (set below).
    d = tmp_path / "in"
    d.mkdir()
    (d / "batch_a.ndjson").write_text("\n".join([
        json.dumps({"doc_id": 10,
                    "text": "the quick brown fox jumps over the lazy dog"}),
        json.dumps({"doc_id": 11,
                    "text": "a wholly novel document body appears right here"}),
    ]))
    (d / "batch_b.ndjson").write_text("\n".join([
        json.dumps({"doc_id": 20,
                    "text": "a wholly novel document body appears right here"}),
        json.dumps({"doc_id": 21,
                    "text": "another entirely different novel text shows up"}),
    ]))
    # FileStreamSource orders by modification time: force a -> b
    t = os.path.getmtime(d / "batch_b.ndjson")
    os.utime(d / "batch_a.ndjson", (t - 60, t - 60))

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
        .select(F.from_json(
            F.col("value"), "doc_id long, text string").alias("j"))
        .select("j.doc_id", "j.text")
    )
    q = streaming_ingest_dedup(
        stream, idx_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = {r["doc_id"]: r["verdict"]
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got[10] == "dup_exact"   # matched the pre-built base index
    assert got[11] == "novel"       # first sighting, accepted into index
    assert got[20] == "dup_exact"   # SAME text as 11 -> caught by grown index
    assert got[21] == "novel"


def test_stateful_funnel_across_microbatches(spark, tmp_path):
    from confluent_data_ingestion_spark.streaming.stateful import (
        stateful_funnel,
    )

    src = str(tmp_path / "fn_in")
    os.makedirs(src)
    # batch 1: u1 views then clicks; u2 clicks BEFORE viewing (click must
    # not count toward stage 2 — wrong order)
    with open(f"{src}/a.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in [
            {"u": 1, "ts": "2026-01-01T00:00:01", "e": "view"},
            {"u": 1, "ts": "2026-01-01T00:00:05", "e": "click"},
            {"u": 2, "ts": "2026-01-01T00:00:02", "e": "click"},
            {"u": 2, "ts": "2026-01-01T00:00:04", "e": "view"},
        ])
    # batch 2: u1 purchases (stage carried in state across the batch
    # boundary); u2 clicks AFTER its view -> advances to stage 2 now
    with open(f"{src}/b.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in [
            {"u": 1, "ts": "2026-01-01T00:01:00", "e": "purchase"},
            {"u": 2, "ts": "2026-01-01T00:01:01", "e": "click"},
        ])
    now = os.path.getmtime(f"{src}/b.ndjson")
    os.utime(f"{src}/a.ndjson", (now - 10, now - 10))

    stream = file_envelope_stream(spark, src, max_files_per_trigger=1).select(
        F.get_json_object("val", "$.u").cast("bigint").alias("u"),
        F.get_json_object("val", "$.ts").cast("timestamp").alias("ts"),
        F.get_json_object("val", "$.e").alias("e"),
    )
    q = (
        stateful_funnel(stream, ["view", "click", "purchase"],
                        user_col="u", time_col="ts", type_col="e")
        .writeStream.format("memory")
        .queryName("fn_out")
        .option("checkpointLocation", str(tmp_path / "fn_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["user_id"], r["stage"]): (r["step_name"], str(r["ts"]))
           for r in spark.sql("select * from fn_out").collect()}
    assert got == {
        (1, 1): ("view", "2026-01-01 00:00:01"),
        (1, 2): ("click", "2026-01-01 00:00:05"),
        (1, 3): ("purchase", "2026-01-01 00:01:00"),   # state crossed batches
        (2, 1): ("view", "2026-01-01 00:00:04"),
        (2, 2): ("click", "2026-01-01 00:01:01"),      # first click ignored
    }

    import pytest as _pytest
    with _pytest.raises(ValueError, match="steps"):
        stateful_funnel(stream, [], user_col="u", time_col="ts",
                        type_col="e")


def test_stateful_funnel_restart_from_checkpoint(spark, tmp_path):
    """A RESTARTED query (same checkpoint) must resume funnel state, not
    re-derive it: the user's stage survives process death."""
    from confluent_data_ingestion_spark.streaming.stateful import (
        stateful_funnel,
    )

    src = str(tmp_path / "fr_in")
    out = str(tmp_path / "fr_out")
    ckpt = str(tmp_path / "fr_ckpt")
    os.makedirs(src)

    def run_once():
        stream = file_envelope_stream(spark, src).select(
            F.get_json_object("val", "$.u").cast("bigint").alias("u"),
            F.get_json_object("val", "$.ts").cast("timestamp").alias("ts"),
            F.get_json_object("val", "$.e").alias("e"),
        )
        q = (
            stateful_funnel(stream, ["view", "click", "purchase"],
                            user_col="u", time_col="ts", type_col="e")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with open(f"{src}/a.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in [
            {"u": 1, "ts": "2026-01-01T00:00:01", "e": "view"},
            {"u": 1, "ts": "2026-01-01T00:00:02", "e": "click"},
        ])
    run_once()                 # first process: reaches stage 2, then dies

    with open(f"{src}/b.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in [
            # would be stage 1+2 again if state were lost; with state it
            # must be ignored (stage already passed) ...
            {"u": 1, "ts": "2026-01-01T00:00:09", "e": "view"},
            # ... and the purchase advances straight to stage 3
            {"u": 1, "ts": "2026-01-01T00:00:10", "e": "purchase"},
        ])
    run_once()                 # second process: resumes from checkpoint

    got = {(r["user_id"], r["stage"]): r["step_name"]
           for r in spark.read.parquet(out).collect()}
    assert got == {
        (1, 1): "view",
        (1, 2): "click",
        (1, 3): "purchase",    # resumed at stage 2 — no duplicate advances
    }


def test_stateful_funnel_drops_null_event_times(spark, tmp_path):
    """A null/NaT event time must not advance the funnel (regression:
    NaT -> astype(int64) garbage could advance stage 0), matching the
    batch funnel's null-dropping min/join semantics."""
    from confluent_data_ingestion_spark.streaming.stateful import (
        stateful_funnel,
    )

    src = str(tmp_path / "fnn_in")
    os.makedirs(src)
    with open(f"{src}/a.ndjson", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in [
            {"u": 1, "ts": None, "e": "view"},              # null ts: ignored
            {"u": 1, "ts": "2026-01-01T00:00:03", "e": "view"},
            {"u": 1, "ts": None, "e": "click"},             # null ts: ignored
            {"u": 2, "ts": None, "e": "view"},              # u2: ONLY null ts
        ])

    stream = file_envelope_stream(spark, src).select(
        F.get_json_object("val", "$.u").cast("bigint").alias("u"),
        F.get_json_object("val", "$.ts").cast("timestamp").alias("ts"),
        F.get_json_object("val", "$.e").alias("e"),
    )
    q = (
        stateful_funnel(stream, ["view", "click"],
                        user_col="u", time_col="ts", type_col="e")
        .writeStream.format("memory")
        .queryName("fnn_out")
        .option("checkpointLocation", str(tmp_path / "fnn_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["user_id"], r["stage"]): (r["step_name"], str(r["ts"]))
           for r in spark.sql("select * from fnn_out").collect()}
    # u1 advances only on its timestamped view; u2 (all-null ts) never
    # appears — neither a bogus advance row nor a garbage timestamp
    assert got == {(1, 1): ("view", "2026-01-01 00:00:03")}


def test_statement_set_mid_batch_failure_exactly_once(spark, tmp_path):
    """Kill the pipeline BETWEEN sink writes inside one microbatch: the
    XREF upsert commits, then the quarantine append dies before writing.
    On restart the batch replays; the marker-commit protocol must skip the
    already-committed XREF (no duplicate log rows) and commit the
    quarantine append exactly once — per-sink exactly-once-effect (the
    reference's PR-3 idempotency requirement)."""
    src = str(tmp_path / "msgs")
    _write_envelope_files(src, n_files=2)
    dim = spark.createDataFrame([Row(id=i, segment="s") for i in range(10)])
    spec = _pipeline_spec()

    # clean reference run
    clean = StatementSetRunner(spark, spec, {"dim": dim}, str(tmp_path / "ok"))
    clean.run_streaming(file_envelope_stream(spark, src, max_files_per_trigger=1))
    clean_xref_log = clean._xref_store(
        "XREF_ACCT", spec.tables()["XREF_ACCT"]).log(spark).count()
    clean_xref = sorted(map(tuple, spark.read.parquet(
        clean.table_path("XREF_ACCT")).collect()))
    clean_q = sorted(map(tuple, spark.read.parquet(
        clean.table_path("Q_ACCT")).collect()))

    # faulty run: die after the first sink (XREF upsert) of batch 0,
    # before the quarantine append writes anything
    out = str(tmp_path / "out")
    faulty = StatementSetRunner(spark, spec, {"dim": dim}, out)

    def _boom(df, table, batch_id):
        raise RuntimeError("injected failure between sinks")

    faulty._append_once = _boom
    import pytest as _pytest

    with _pytest.raises(Exception, match="injected failure"):
        faulty.run_streaming(
            file_envelope_stream(spark, src, max_files_per_trigger=1))
    # the first sink committed before the crash
    store = faulty._xref_store("XREF_ACCT", spec.tables()["XREF_ACCT"])
    assert store.exists() and store.log(spark).count() > 0
    assert not os.path.exists(faulty.table_path("Q_ACCT"))

    # recovery: fresh runner, same out dir + checkpoint — the failed batch
    # replays from the checkpoint with the injection removed
    recovered = StatementSetRunner(spark, spec, {"dim": dim}, out)
    recovered.run_streaming(
        file_envelope_stream(spark, src, max_files_per_trigger=1))

    got_xref_log = recovered._xref_store(
        "XREF_ACCT", spec.tables()["XREF_ACCT"]).log(spark).count()
    got_xref = sorted(map(tuple, spark.read.parquet(
        recovered.table_path("XREF_ACCT")).collect()))
    got_q = sorted(map(tuple, spark.read.parquet(
        recovered.table_path("Q_ACCT")).collect()))
    # no duplicate XREF log rows (replayed batch skipped via marker), no
    # lost/duplicate quarantine rows (append committed exactly once)
    assert got_xref_log == clean_xref_log
    assert got_xref == clean_xref
    assert got_q == clean_q


# ---------------------------------------------------------------------------
# Time travel over the parquet-log store
# ---------------------------------------------------------------------------
def test_snapshot_as_of_each_append(spark, tmp_path):
    from confluent_data_ingestion_spark.streaming.upsert import UpsertSnapshot

    store = UpsertSnapshot(str(tmp_path / "tt"), keys=["k"], order_by=["seq"])
    store.upsert(spark.createDataFrame([Row(k=1, seq=1, v="a")]), batch_id="b0")
    store.upsert(spark.createDataFrame([Row(k=2, seq=1, v="b")]), batch_id="b1")
    store.upsert(spark.createDataFrame([Row(k=1, seq=2, v="a2")]), batch_id="b2")

    def snap(seq):
        return {r["k"]: r["v"] for r in store.snapshot_as_of(spark, seq).collect()}

    assert snap(0) == {1: "a"}
    assert snap(1) == {1: "a", 2: "b"}
    assert snap(2) == {1: "a2", 2: "b"}
    assert store.current_seq() == 2
    # batch ids resolve to their append sequence (string ids welcome)
    assert store.seq_of_batch("b1") == 1
    assert snap(store.seq_of_batch("b1")) == {1: "a", 2: "b"}
    # the current snapshot equals as-of(newest) and carries no __seq column
    cur = store.snapshot(spark)
    assert "__seq" not in cur.columns
    assert {r["k"]: r["v"] for r in cur.collect()} == snap(2)


def test_snapshot_as_of_is_partition_pruned(spark, tmp_path):
    from confluent_data_ingestion_spark.streaming.upsert import UpsertSnapshot

    store = UpsertSnapshot(str(tmp_path / "ttp"), keys=["k"], order_by=["seq"])
    for i in range(4):
        store.upsert(spark.createDataFrame([Row(k=i, seq=1, v=str(i))]))
    plan = (
        store.snapshot_as_of(spark, 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "__seq" in plan


def test_snapshot_as_of_below_compaction_horizon_raises(spark, tmp_path):
    from confluent_data_ingestion_spark.streaming.upsert import UpsertSnapshot

    store = UpsertSnapshot(str(tmp_path / "ttc"), keys=["k"], order_by=["seq"])
    store.upsert(spark.createDataFrame([Row(k=1, seq=1, v="a")]))
    store.upsert(spark.createDataFrame([Row(k=1, seq=2, v="a2")]))
    store.compact(spark)
    # post-compaction: current state still fully answerable at/after horizon
    assert {r["k"]: r["v"] for r in store.snapshot_as_of(spark, 1).collect()} == {
        1: "a2"
    }
    with pytest.raises(ValueError, match="compacted away"):
        store.snapshot_as_of(spark, 0)
    # appends after compaction keep time travel working forward
    store.upsert(spark.createDataFrame([Row(k=1, seq=3, v="a3")]))
    assert {r["k"]: r["v"] for r in store.snapshot_as_of(spark, 2).collect()} == {
        1: "a3"
    }


def test_upsert_log_additive_schema_evolution(spark, tmp_path):
    """Columns added by later appends must survive into the snapshot
    (rows predating the column read NULL) — without mergeSchema Spark
    samples one footer and silently drops them."""
    store = UpsertSnapshot(str(tmp_path / "evo"), ["k"], ["seq"])
    store.upsert(spark.createDataFrame([Row(k=1, seq=1, v="a")]), batch_id=0)
    store.upsert(
        spark.createDataFrame([Row(k=2, seq=1, v="b", extra="X"),
                               Row(k=1, seq=2, v="a2", extra="Y")]),
        batch_id=1,
    )
    snap = {r["k"]: (r["v"], r["extra"])
            for r in store.snapshot(spark).collect()}
    assert snap == {1: ("a2", "Y"), 2: ("b", "X")}
    # time travel BEFORE the column existed: the merged schema still
    # carries it, pre-evolution rows answer NULL
    as_of0 = store.snapshot_as_of(spark, 0).collect()
    assert [(r["k"], r["v"], r["extra"]) for r in as_of0] == [(1, "a", None)]

    # compact() re-homogenizes: the rewritten log holds ONE schema (every
    # file carries the evolved column) and the snapshot is unchanged
    store.compact(spark)
    snap2 = {r["k"]: (r["v"], r["extra"])
             for r in store.snapshot(spark).collect()}
    assert snap2 == snap
    import os as _os

    part_files = [
        _os.path.join(dp, f)
        for dp, _, fs in _os.walk(store.log_dir)
        for f in fs if f.endswith(".parquet")
    ]
    for pf in part_files:
        assert "extra" in spark.read.parquet(pf).columns


def test_snapshot_sees_columns_added_after_a_read(spark, tmp_path):
    """The store caches the log's merged schema at its first read; an
    append that adds a column must drop that cache, before and after a
    compaction (a stale schema would silently drop the new column)."""
    store = UpsertSnapshot(str(tmp_path / "evo_cached"), ["k"], ["seq"])

    def snap():
        return sorted(map(tuple, store.snapshot(spark).collect()))

    store.upsert(spark.createDataFrame([Row(k=1, seq=1, v="a")]))
    assert snap() == [(1, 1, "a")]  # caches the schema
    store.upsert(spark.createDataFrame([Row(k=2, seq=1, v="b", extra="X")]))
    assert store.snapshot(spark).columns == ["k", "seq", "v", "extra"]
    assert snap() == [(1, 1, "a", None), (2, 1, "b", "X")]

    store.compact(spark)
    assert snap() == [(1, 1, "a", None), (2, 1, "b", "X")]  # caches again
    store.upsert(spark.createDataFrame(
        [Row(k=1, seq=2, v="a2", extra="Y", more=7)]))
    assert snap() == [(1, 2, "a2", "Y", 7), (2, 1, "b", "X", None)]
    # an append within the cached schema keeps the cache, and is read
    store.upsert(spark.createDataFrame(
        [Row(k=3, seq=1, v="c", extra="Z", more=8)]))
    assert snap()[-1] == (3, 1, "c", "Z", 8)


def test_latest_of_batch_reads_the_keys_one_append_wrote(spark, tmp_path):
    store = UpsertSnapshot(
        str(tmp_path / "lob"), ["k"], ["seq"],
        delete_flag_field="op", delete_flag_values=("D",),
    )
    store.upsert(spark.createDataFrame([
        Row(k=1, seq=1, v="a", op="U"), Row(k=2, seq=1, v="b", op="U"),
        Row(k=3, seq=1, v="c", op="U"),
    ]), batch_id="b0")
    store.upsert(spark.createDataFrame([
        Row(k=1, seq=0, v="stale", op="U"), Row(k=2, seq=2, v="b-del", op="D"),
        Row(k=4, seq=2, v="d-del", op="D"),
    ]), batch_id="b1")

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    # touched keys 1, 2, 4: global latest for 1 and 2, nothing for the
    # delete-only key 4; key 3 (untouched) is not read back
    assert rows(store.latest_of_batch(spark, "b1")) == [(1, "a"), (2, "b")]
    assert rows(store.latest_of_batch(spark, "b0")) == [
        (1, "a"), (2, "b"), (3, "c")]
    # a marker that does not parse is bad input read from disk: it raises,
    # naming the batch
    with open(store._marker("torn"), "w") as f:
        f.write("")
    with pytest.raises(RuntimeError, match="'torn'"):
        store.latest_of_batch(spark, "torn")
