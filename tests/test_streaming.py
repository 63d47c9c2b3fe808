"""Structured Streaming tests: the same transformation must agree
between batch mode and a real streaming run (file source → availableNow
micro-batches → memory sink), plus the custom stateful operator."""

from __future__ import annotations

import json
import os

import pytest

from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.streaming import (
    hourly_counts,
    running_user_totals,
    session_windows,
    stream_events_from_json,
)


@pytest.fixture(scope="module")
def events_json_dir(spark, sf_dir, tmp_path_factory):
    from pyspark_mrdf_spark.streaming.windows import JSON_TS_FORMAT

    d = str(tmp_path_factory.mktemp("events_json"))
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(4).write.mode("overwrite").option(
        "timestampFormat", JSON_TS_FORMAT
    ).json(d)
    return d


def _rows_set(rows, cols):
    return sorted(tuple(r[c] for c in cols) for r in rows)


def test_hourly_counts_stream_matches_batch(spark, sf_dir, events_json_dir):
    batch = hourly_counts(load_table(spark, sf_dir, "events")).collect()
    stream = stream_events_from_json(spark, events_json_dir)
    q = (
        hourly_counts(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = spark.sql("SELECT * FROM hourly_test").collect()
    q.stop()
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows_set(got, cols) == _rows_set(batch, cols)


def test_sliding_windows_stream_matches_batch(spark, sf_dir, events_json_dir):
    from pyspark_mrdf_spark.streaming import sliding_value_avg

    batch = sliding_value_avg(load_table(spark, sf_dir, "events")).collect()
    stream = stream_events_from_json(spark, events_json_dir)
    q = (
        sliding_value_avg(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = spark.sql("SELECT * FROM sliding_test").collect()
    q.stop()
    cols = ["window_start", "event_type", "avg_value", "n_events"]
    assert _rows_set(got, cols) == _rows_set(batch, cols)


def test_session_windows_batch(spark, sf_dir):
    out = session_windows(load_table(spark, sf_dir, "events"), gap="30 minutes")
    rows = out.collect()
    assert len(rows) > 0
    # every session has ≥1 event and session totals are finite
    assert all(r["n_events"] >= 1 for r in rows)


def test_parquet_sink_with_checkpoint(spark, sf_dir, events_json_dir, tmp_path_factory):
    # durable sink path: file source → windowed agg → parquet sink with
    # checkpointLocation; append mode requires the watermark to close
    # windows, and a second availableNow run must be a no-op (exactly-
    # once bookkeeping via the checkpoint)
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    stream = stream_events_from_json(spark, events_json_dir)

    def run_once():
        q = (
            hourly_counts(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not drain in 120s"
        q.stop()

    run_once()
    first = spark.read.parquet(out).count()
    assert first > 0
    run_once()  # same input, same checkpoint: nothing new may be emitted
    assert spark.read.parquet(out).count() == first


def test_running_user_totals_stateful(spark, sf_dir, events_json_dir):
    stream = stream_events_from_json(spark, events_json_dir)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("totals_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = {r["user_id"]: r for r in spark.sql(
        "SELECT user_id, max(n_events) AS n_events FROM totals_test GROUP BY user_id"
    ).collect()}
    q.stop()
    ev = load_table(spark, sf_dir, "events")
    expected = {r["user_id"]: r["n"] for r in ev.groupBy("user_id").count().withColumnRenamed("count", "n").collect()}
    assert {u: r["n_events"] for u, r in got.items()} == expected


def test_stream_stream_join_matches_batch(spark, sf_dir, events_json_dir):
    from pyspark_mrdf_spark.streaming import purchases_with_recent_clicks

    batch = purchases_with_recent_clicks(load_table(spark, sf_dir, "events")).collect()
    stream = stream_events_from_json(spark, events_json_dir)
    q = (
        purchases_with_recent_clicks(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = spark.sql("SELECT * FROM ssj_test").collect()
    q.stop()
    cols = ["event_id", "click_ts", "click_value"]
    assert _rows_set(got, cols) == _rows_set(batch, cols)


def test_dedup_stream_drops_duplicates(spark, sf_dir, tmp_path_factory):
    from pyspark_mrdf_spark.streaming.stateful import dedup_stream
    from pyspark_mrdf_spark.streaming.windows import JSON_TS_FORMAT

    # write the events TWICE into the stream directory (at-least-once
    # delivery simulation)
    d = str(tmp_path_factory.mktemp("events_dup"))
    ev = load_table(spark, sf_dir, "events")
    w = ev.coalesce(2).write.option("timestampFormat", JSON_TS_FORMAT)
    w.mode("overwrite").json(d)
    ev.coalesce(2).write.option("timestampFormat", JSON_TS_FORMAT).mode(
        "append"
    ).json(d)
    assert spark.read.json(d).count() == 2 * ev.count()

    stream = stream_events_from_json(spark, d)
    q = (
        dedup_stream(stream, watermark="10 hours")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain in 180s"
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_test").collect()[0]
    q.stop()
    assert got["n"] == got["d"] == ev.count()


def test_watermark_drops_late_events(spark, tmp_path_factory):
    """Late-data semantics, which no batch-equality test can show: an
    event arriving BEHIND the checkpointed watermark is dropped and its
    already-finalized window is never re-emitted."""
    from pyspark_mrdf_spark.streaming.windows import EVENT_SCHEMA, hourly_counts

    src = str(tmp_path_factory.mktemp("late_src"))
    ckpt = str(tmp_path_factory.mktemp("late_ckpt"))

    def write_file(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def ev(eid, h, m=0):
        return {
            "event_id": eid,
            "ts": f"2024-01-01T{h:02d}:{m:02d}:00.000000Z",
            "user_id": 1,
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }

    out_dir = str(tmp_path_factory.mktemp("late_out"))

    def run():
        stream = spark.readStream.schema(EVENT_SCHEMA).option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        ).json(src)
        q = (
            hourly_counts(stream, watermark="30 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not drain in 180s"
        q.stop()
        rows = spark.read.parquet(out_dir).collect()
        return {(r["window_start"].hour, r["event_type"]): r["n_events"] for r in rows}

    # run 1: 10:00 and 13:00 -> watermark 12:30; [10,11) finalized+emitted
    write_file("a.json", [ev(1, 10), ev(2, 13)])
    out1 = run()
    assert out1 == {(10, "click"): 1}

    # run 2: a 10:30 event is behind the checkpointed watermark -> dropped;
    # 15:00 advances the watermark so [13,14) finalizes with n=1 only
    write_file("b.json", [ev(3, 10, 30), ev(4, 15)])
    out2 = run()
    assert out2 == {(10, "click"): 1, (13, "click"): 1}


def test_upsert_sink_swaps_via_hadoop_fs_uri(spark, events_json_dir, tmp_path_factory):
    # the sink must resolve existence and the tmp->base swap through
    # the Hadoop FileSystem of the dataset's OWN path (scheme-qualified
    # URI here — the resolution path an hdfs:// or s3a:// dataset
    # takes), NOT driver-local os.path: with pre-existing data the
    # batch must take the merge+rename branch and both upsert and
    # preserve rows
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.streaming.sinks import upsert_stream_to_parquet

    base_dir = str(tmp_path_factory.mktemp("upsert_uri_base"))
    base_uri = "file:" + base_dir
    ckpt = str(tmp_path_factory.mktemp("upsert_uri_ckpt"))
    # pre-existing dataset: one key the stream updates, one it doesn't
    seed_user = -999
    spark.createDataFrame(
        [(seed_user, 7)], "user_id long, n_events long"
    ).write.mode("overwrite").parquet(base_uri)

    stream = stream_events_from_json(spark, events_json_dir)
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    q = upsert_stream_to_parquet(agg, "user_id", base_uri, ckpt)
    assert q.awaitTermination(180), "stream did not drain in 180s"
    q.stop()
    got = {r["user_id"]: r["n_events"] for r in spark.read.parquet(base_uri).collect()}
    assert got[seed_user] == 7  # untouched key survives the swap
    assert len(got) > 1  # stream keys were merged in
    import os

    assert not os.path.exists(base_dir.rstrip("/") + "._upsert_tmp")
    assert not os.path.exists(base_dir.rstrip("/") + "._upsert_old")


def test_upsert_sink_recovers_mid_swap_crash(spark, events_json_dir, tmp_path_factory):
    # simulate a driver crash between the two swap renames: the dataset
    # is parked at ._upsert_old, base is MISSING, and a stale tmp dir
    # exists. The next run must restore the parked data before its
    # existence check (otherwise the batch takes the initial-overwrite
    # branch and the dataset is silently replaced), then upsert into it.
    import os
    import shutil

    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.streaming.sinks import upsert_stream_to_parquet

    base_dir = str(tmp_path_factory.mktemp("upsert_crash_base"))
    ckpt = str(tmp_path_factory.mktemp("upsert_crash_ckpt"))
    seed_user = -999
    spark.createDataFrame(
        [(seed_user, 7)], "user_id long, n_events long"
    ).write.mode("overwrite").parquet(base_dir)
    old_path = base_dir.rstrip("/") + "._upsert_old"
    tmp_path = base_dir.rstrip("/") + "._upsert_tmp"
    shutil.move(base_dir, old_path)  # the interrupted rename(base -> old)
    os.makedirs(tmp_path)
    with open(os.path.join(tmp_path, "garbage"), "w") as f:
        f.write("half-written")

    stream = stream_events_from_json(spark, events_json_dir)
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    q = upsert_stream_to_parquet(agg, "user_id", base_dir, ckpt)
    assert q.awaitTermination(180), "stream did not drain in 180s"
    q.stop()
    got = {r["user_id"]: r["n_events"] for r in spark.read.parquet(base_dir).collect()}
    assert got[seed_user] == 7  # parked data was restored, not clobbered
    assert len(got) > 1  # and the batch merged on top of it
    assert not os.path.exists(old_path)
    assert not os.path.exists(tmp_path)


def test_upsert_stream_sink_matches_batch(spark, sf_dir, events_json_dir, tmp_path_factory):
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.streaming.sinks import upsert_stream_to_parquet

    stream = stream_events_from_json(spark, events_json_dir)
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    base = str(tmp_path_factory.mktemp("upsert_base"))
    ckpt = str(tmp_path_factory.mktemp("upsert_ckpt"))
    q = upsert_stream_to_parquet(agg, "user_id", base, ckpt)
    assert q.awaitTermination(180), "stream did not drain in 180s"
    q.stop()
    got = {r["user_id"]: r["n_events"] for r in spark.read.parquet(base).collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {
        r["user_id"]: r["n_events"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events")).collect()
    }
    assert got == want


def test_funnel_advance_chunking_transparent():
    """Applying ts-ordered chunks through the pure state transition
    equals one pass over the whole sequence — the property that lets
    micro-batches compose. Also covers: clicks before any view are
    ignored, purchases before the first click are ignored, and
    same-timestamp events do NOT advance (strict > ordering)."""
    from pyspark_mrdf_spark.streaming.stateful import _UNSET, funnel_advance

    seq = [
        (100, "click"),      # ignored: no view yet
        (110, "view"),       # v=110
        (110, "click"),      # ignored: not strictly after the view
        (120, "purchase"),   # ignored: no click yet
        (130, "click"),      # c=130
        (125, "view"),       # ignored: v already set
        (140, "purchase"),   # p=140
        (150, "click"),      # ignored: c already set
    ]
    one_pass = funnel_advance(
        _UNSET, _UNSET, _UNSET, [t for t, _ in seq], [e for _, e in seq]
    )
    assert one_pass == (110, 130, 140)
    for cut1 in range(len(seq) + 1):
        for cut2 in range(cut1, len(seq) + 1):
            st = (_UNSET, _UNSET, _UNSET)
            for chunk in (seq[:cut1], seq[cut1:cut2], seq[cut2:]):
                st = funnel_advance(
                    *st, [t for t, _ in chunk], [e for _, e in chunk]
                )
            assert st == one_pass, (cut1, cut2)


def test_funnel_stream_matches_batch_q93(spark, sf_dir, events_json_dir):
    """The streaming funnel's final state per user equals batch q93 on
    the same events (in-order arrival: availableNow over the json dump
    delivers every file before the final emission)."""
    from pyspark_mrdf_spark.queries import load_all
    from pyspark_mrdf_spark.streaming import funnel_stream, stream_events_from_json

    batch = load_all()["q93_funnel_analysis"].builder(spark, sf_dir).collect()
    stream = stream_events_from_json(spark, events_json_dir)
    q = (
        funnel_stream(stream)
        .writeStream.format("memory")
        .queryName("funnel_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # availableNow terminates on its own once all input is processed —
    # assert it actually finished, else the batch comparison below runs
    # on partial emissions and the test is flaky instead of clear
    assert q.awaitTermination(120), "funnel stream did not drain in 120s"
    # update mode re-emits a user's row each batch they appear in —
    # keep the LAST emission per user (max stage/timestamps are final)
    got_rows = spark.sql(
        """
        SELECT user_id, ts_view_us, ts_click_us, ts_purchase_us, funnel_stage
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id
            ORDER BY funnel_stage DESC,
                     ts_purchase_us DESC NULLS LAST,
                     ts_click_us DESC NULLS LAST) AS rn
          FROM funnel_test) WHERE rn = 1
        """
    ).collect()
    q.stop()
    cols = ["user_id", "ts_view_us", "ts_click_us", "ts_purchase_us", "funnel_stage"]
    assert _rows_set(got_rows, cols) == _rows_set(batch, cols)


def test_funnel_stream_checkpoint_restart(spark, sf_dir, events_json_dir, tmp_path_factory):
    """Exactly-once across a mid-stream kill: run 1 reads one file per
    micro-batch and is stop()ped as soon as a batch commits (work still
    remaining); run 2 resumes from the SAME checkpoint and drains the
    rest. The checkpoint must deliver (a) no event lost or duplicated —
    run1 + run2 input rows == the corpus exactly — and (b) recovered
    per-user state: the last emission per user equals batch q93."""
    import time as _time

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    from pyspark_mrdf_spark.queries import load_all
    from pyspark_mrdf_spark.streaming import funnel_stream, stream_events_from_json

    ckpt = str(tmp_path_factory.mktemp("funnel_ckpt"))
    out_dir = str(tmp_path_factory.mktemp("funnel_emissions"))
    batch = load_all()["q93_funnel_analysis"].builder(spark, sf_dir).collect()
    total_events = load_table(spark, sf_dir, "events").count()

    def sink(bdf, bid):
        # foreachBatch: the checkpoint records the batch as committed
        # only after this returns, so an append-parquet emission log is
        # exactly-once at the batch granularity (later batch_id wins)
        bdf.withColumn("batch_id", SF.lit(bid)).write.mode("append").parquet(out_dir)

    q1 = (
        funnel_stream(
            stream_events_from_json(spark, events_json_dir, max_files_per_trigger=1)
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )
    deadline = _time.time() + 120
    while (
        _time.time() < deadline
        and not any(p["numInputRows"] > 0 for p in q1.recentProgress)
    ):
        _time.sleep(0.1)
    q1.stop()  # kill with (usually) files still unread
    assert q1.awaitTermination(60), "killed stream did not shut down in 60s"
    run1_rows = sum(p["numInputRows"] for p in q1.recentProgress)

    q2 = (
        funnel_stream(stream_events_from_json(spark, events_json_dir))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120), "restarted funnel did not drain in 120s"
    run2_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    q2.stop()
    # exactly-once file delivery across the kill/restart boundary
    assert run1_rows + run2_rows == total_events, (run1_rows, run2_rows, total_events)

    emitted = spark.read.parquet(out_dir)
    got_rows = (
        emitted.withColumn(
            "rn",
            SF.row_number().over(
                W.partitionBy("user_id").orderBy(SF.col("batch_id").desc())
            ),
        )
        .filter(SF.col("rn") == 1)
        .collect()
    )
    cols = ["user_id", "ts_view_us", "ts_click_us", "ts_purchase_us", "funnel_stage"]
    assert _rows_set(got_rows, cols) == _rows_set(batch, cols)


def test_ingest_dedup_stream_grows_corpus_exactly_once(spark, tmp_path):
    """Continuous corpus ingestion (streaming twin of q77): batch 2's
    copies of batch-1 texts are dropped against the GROWN corpus,
    in-batch dups keep the lowest id, and replaying from the same
    checkpoint admits nothing twice (idempotent per-batch partition
    writes)."""
    import json as _json

    from pyspark_mrdf_spark.streaming.ingest import ingest_dedup_stream

    src = tmp_path / "docs_json"
    src.mkdir()
    # file 1: four docs, one in-batch duplicate pair (11/13 same text)
    with open(src / "f1.json", "w") as f:
        for doc_id, text in [
            (10, "alpha beta"),
            (11, "gamma delta"),
            (12, "epsilon zeta"),
            (13, "gamma delta"),
        ]:
            f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    # file 2: one copy of an admitted text (drop), one novel (keep),
    # and a HIGHER-id copy of a batch-1 text under a new id (drop)
    with open(src / "f2.json", "w") as f:
        for doc_id, text in [
            (20, "alpha beta"),
            (21, "eta theta"),
            (22, "epsilon zeta"),
        ]:
            f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    # the file source orders batches by modification time — pin it so
    # f1 is provably batch 0 (same-second writes could tie)
    import os as _os

    _os.utime(src / "f1.json", (1_000_000_000, 1_000_000_000))
    _os.utime(src / "f2.json", (1_000_000_100, 1_000_000_100))

    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = ingest_dedup_stream(docs, corpus, ckpt, query_name="ingest_test")
    assert q.awaitTermination(120), "ingest stream did not drain"

    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(corpus).select("doc_id", "text").collect()
    }
    assert got == {
        10: "alpha beta",
        11: "gamma delta",
        12: "epsilon zeta",
        21: "eta theta",
    }

    # restart from the same checkpoint with no new input: nothing
    # re-admitted, corpus unchanged
    docs2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q2 = ingest_dedup_stream(docs2, corpus, ckpt, query_name="ingest_test2")
    assert q2.awaitTermination(120)
    again = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(corpus).select("doc_id", "text").collect()
    }
    assert again == got


def test_ingest_dedup_stream_replay_preserves_batch(spark, tmp_path):
    """Crash-replay law: a batch whose parquet write landed but whose
    checkpoint commit did NOT (simulated by deleting the last commit
    file) is re-executed on restart — and must re-admit its own rows
    rather than dedupe against its own crashed-attempt partition and
    overwrite it with an empty survivor set (the data-loss mode the
    self-exclusion in ingest.py guards against)."""
    import json as _json
    import os as _os

    from pyspark_mrdf_spark.streaming.ingest import ingest_dedup_stream

    src = tmp_path / "docs_json"
    src.mkdir()
    with open(src / "f1.json", "w") as f:
        for doc_id, text in [(10, "alpha beta"), (11, "gamma delta")]:
            f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    with open(src / "f2.json", "w") as f:
        for doc_id, text in [(20, "alpha beta"), (21, "eta theta")]:
            f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    _os.utime(src / "f1.json", (1_000_000_000, 1_000_000_000))
    _os.utime(src / "f2.json", (1_000_000_100, 1_000_000_100))

    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def _stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    q = ingest_dedup_stream(_stream(), corpus, ckpt, query_name="ingest_rp1")
    assert q.awaitTermination(120), "ingest stream did not drain"
    q.stop()  # release the checkpoint dir before the replay run opens it
    want = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(corpus).select("doc_id", "text").collect()
    }
    assert want == {10: "alpha beta", 11: "gamma delta", 21: "eta theta"}

    # simulate the crash window: batch 1's partition is on disk, its
    # commit is not — the restart replays batch 1 against that state
    _os.remove(_os.path.join(ckpt, "commits", "1"))
    crc = _os.path.join(ckpt, "commits", ".1.crc")
    if _os.path.exists(crc):  # Hadoop ChecksumFs sidecar blocks re-commit
        _os.remove(crc)
    q2 = ingest_dedup_stream(_stream(), corpus, ckpt, query_name="ingest_rp2")
    assert q2.awaitTermination(120), "replayed stream did not drain"
    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(corpus).select("doc_id", "text").collect()
    }
    assert got == want, "replayed batch lost or duplicated rows"


def test_index_append_stream_equals_batch_append(spark, sf_dir, tmp_path):
    """Streaming ANN-index maintenance: vectors streamed through
    index_append_stream land as batch-id partitions encoded with the
    FROZEN quantizer, read_index serves base+streamed codes, and
    the result is row-for-row identical to batch append_index of
    the same vectors. Replaying from the same checkpoint with no new
    input changes nothing (idempotent per-batch partition writes)."""
    import json as _json
    import os as _os

    import numpy as np

    from pyspark_mrdf_spark.io import load_table
    from pyspark_mrdf_spark.operators.quantize import (
        append_index,
        build_index,
        read_index,
    )
    from pyspark_mrdf_spark.streaming.ingest import index_append_stream

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter("vec_id < 300")
    idx_stream = str(tmp_path / "idx_stream")
    idx_batch = str(tmp_path / "idx_batch")
    build_index(base, idx_stream, "sq8")
    build_index(base, idx_batch, "sq8")

    append_index(idx_batch, emb.filter("vec_id >= 300"))

    src = tmp_path / "vec_json"
    src.mkdir()
    splits = [
        ("f1.json", emb.filter("vec_id >= 300 AND vec_id < 400"), 1_000_000_000),
        ("f2.json", emb.filter("vec_id >= 400"), 1_000_000_100),
    ]
    for fname, df, ts in splits:
        with open(src / fname, "w") as f:
            for r in df.collect():
                f.write(
                    _json.dumps(
                        {
                            "vec_id": r["vec_id"],
                            "embedding": [float(x) for x in r["embedding"]],
                        }
                    )
                    + "\n"
                )
        _os.utime(src / fname, (ts, ts))

    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = index_append_stream(stream, idx_stream, ckpt, query_name="idx_append_test")
    assert q.awaitTermination(120), "index append stream did not drain"

    p_s, codes_s = read_index(spark, idx_stream)
    p_b, codes_b = read_index(spark, idx_batch)
    mn_s, mx_s, mn_b, mx_b = p_s["mn"], p_s["mx"], p_b["mn"], p_b["mx"]
    assert np.array_equal(mn_s, mn_b) and np.array_equal(mx_s, mx_b)
    rows_s = {(r["vec_id"], bytes(r["code"])) for r in codes_s.collect()}
    rows_b = {(r["vec_id"], bytes(r["code"])) for r in codes_b.collect()}
    assert rows_s == rows_b
    assert len(rows_s) == emb.count()

    # restart from the same checkpoint, no new files: nothing re-lands
    stream2 = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q2 = index_append_stream(stream2, idx_stream, ckpt, query_name="idx_append_test2")
    assert q2.awaitTermination(120)
    _, codes_again = read_index(spark, idx_stream)
    again = {(r["vec_id"], bytes(r["code"])) for r in codes_again.collect()}
    assert again == rows_s


def test_near_ingest_dedup_stream_grows_index_exactly_once(spark, tmp_path):
    """Streaming NEAR-dup ingestion over the persisted dedup index
    (streaming twin of q122): batch 2's near-copy of a batch-1
    SURVIVOR is dropped against the grown index, novels are admitted,
    the streamed index serves identically to the batch operators, and
    a checkpoint restart admits nothing twice."""
    import json as _json
    import os as _os

    from pyspark_mrdf_spark.operators.dedup import near_dedup_against
    from pyspark_mrdf_spark.operators.dedup_index import (
        near_dedup_against_index,
        read_dedup_index,
        write_dedup_index,
    )
    from pyspark_mrdf_spark.streaming.ingest import near_ingest_dedup_stream

    words = [f"w{i}" for i in range(24)]
    seed_text = " ".join(words)
    novel1 = " ".join(f"a{i}" for i in range(24))
    novel2 = " ".join(f"b{i}" for i in range(24))

    def near(text, repl):  # one word substituted -> Jaccard ~0.8
        ws = text.split()
        ws[12] = repl
        return " ".join(ws)

    seed = spark.createDataFrame([(1, seed_text)], "doc_id long, text string")
    idx_path = str(tmp_path / "dedup_idx")
    write_dedup_index(seed, idx_path)

    src = tmp_path / "docs_json"
    src.mkdir()
    with open(src / "f1.json", "w") as f:
        f.write(_json.dumps({"doc_id": 100, "text": near(seed_text, "zz")}) + "\n")
        f.write(_json.dumps({"doc_id": 101, "text": novel1}) + "\n")
    with open(src / "f2.json", "w") as f:
        f.write(_json.dumps({"doc_id": 200, "text": near(novel1, "qq")}) + "\n")
        f.write(_json.dumps({"doc_id": 201, "text": novel2}) + "\n")
    _os.utime(src / "f1.json", (1_000_000_000, 1_000_000_000))
    _os.utime(src / "f2.json", (1_000_000_100, 1_000_000_100))

    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = near_ingest_dedup_stream(docs, idx_path, corpus, ckpt, query_name="near_ingest_t")
    assert q.awaitTermination(120), "near-ingest stream did not drain"

    got = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert got == [101, 201]  # near-copies dropped, novels admitted

    # the streamed-into index serves identically to inline dedup over
    # seed + admitted docs (the batch-append equivalence, via stream)
    probe = spark.createDataFrame(
        [(300, near(novel2, "rr")), (301, " ".join(f"c{i}" for i in range(24)))],
        "doc_id long, text string",
    )
    idx = read_dedup_index(spark, idx_path)
    served = sorted(
        r["doc_id"] for r in near_dedup_against_index(probe, idx).collect()
    )
    admitted = spark.read.option("basePath", corpus).parquet(corpus).drop("batch")
    inline = sorted(
        r["doc_id"]
        for r in near_dedup_against(probe, seed.unionByName(admitted)).collect()
    )
    assert served == inline == [301]

    # restart from the same checkpoint with no new input: nothing
    # re-admitted, corpus and index unchanged
    docs2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q2 = near_ingest_dedup_stream(docs2, idx_path, corpus, ckpt, query_name="near_ingest_t2")
    assert q2.awaitTermination(120)
    assert sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect()) == got
    idx2 = read_dedup_index(spark, idx_path)
    assert idx2.fps.count() == 3  # seed + two admitted, exactly once


def _near_stream_inputs(spark, root):
    """A seeded dedup index plus two JSON batch files for
    ``near_ingest_dedup_stream``: batch 0 carries a near copy of the seed
    (dropped), a novel doc (admitted) and an exact copy of it under a
    higher id (dropped in-batch); batch 1 carries a near copy of batch
    0's survivor (dropped against the stream's own index partition) and
    a second novel doc (admitted). Returns (index, corpus, checkpoint,
    a function that opens the source stream)."""
    import json as _json

    from pyspark_mrdf_spark.operators.dedup_index import write_dedup_index

    words = [f"w{i}" for i in range(24)]
    seed_text = " ".join(words)
    novel1 = " ".join(f"a{i}" for i in range(24))
    novel2 = " ".join(f"b{i}" for i in range(24))

    def near(text, repl):  # one word substituted -> Jaccard ~0.8
        ws = text.split()
        ws[12] = repl
        return " ".join(ws)

    idx_path = os.path.join(root, "dedup_idx")
    write_dedup_index(
        spark.createDataFrame([(1, seed_text)], "doc_id long, text string"), idx_path
    )
    src = os.path.join(root, "docs_json")
    os.makedirs(src)
    files = [
        ("f1.json", [(100, near(seed_text, "zz")), (101, novel1), (102, novel1)]),
        ("f2.json", [(200, near(novel1, "qq")), (201, novel2)]),
    ]
    for i, (name, rows) in enumerate(files):
        path = os.path.join(src, name)
        with open(path, "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        # the file source orders batches by modification time
        os.utime(path, (1_000_000_000 + 100 * i, 1_000_000_000 + 100 * i))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    return idx_path, os.path.join(root, "corpus"), os.path.join(root, "ckpt"), stream


def _near_stream_tables(spark, idx_path, corpus):
    """Every row the near stream committed, per table, with its batch id."""

    def rows(path, cols):
        df = spark.read.option("basePath", path).parquet(path)
        return sorted(tuple(r) for r in df.select("batch", *cols).collect())

    return {
        "corpus": rows(corpus, ["doc_id", "text"]),
        "fps": rows(f"{idx_path}/stream_fps", ["doc_id", "fp"]),
        "buckets": rows(f"{idx_path}/stream_buckets", ["doc_id", "band", "bucket"]),
        "postings": rows(f"{idx_path}/stream_postings", ["doc_id", "shingle"]),
    }


def test_near_ingest_dedup_stream_replay_preserves_batch(spark, tmp_path):
    """Crash-replay law of the near stream (the exact stream's law
    above): batch 1's corpus and index partitions are on disk but its
    checkpoint commit is not, so a restart re-executes it. The replay
    must dedupe against everything but its own partitions and rewrite
    all four of them to the clean run's rows — nothing emptied, nothing
    admitted twice."""
    from pyspark_mrdf_spark.streaming.ingest import near_ingest_dedup_stream

    idx_path, corpus, ckpt, stream = _near_stream_inputs(spark, str(tmp_path))
    q = near_ingest_dedup_stream(stream(), idx_path, corpus, ckpt, query_name="near_rp1")
    assert q.awaitTermination(120), "near-ingest stream did not drain"
    q.stop()  # release the checkpoint dir before the replay run opens it
    want = _near_stream_tables(spark, idx_path, corpus)
    assert [r[:2] for r in want["corpus"]] == [(0, 101), (1, 201)]
    assert [r[:2] for r in want["fps"]] == [(0, 101), (1, 201)]
    for table in ("buckets", "postings"):
        assert {r[:2] for r in want[table]} == {(0, 101), (1, 201)}

    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):  # Hadoop ChecksumFs sidecar blocks re-commit
        os.remove(crc)
    q2 = near_ingest_dedup_stream(stream(), idx_path, corpus, ckpt, query_name="near_rp2")
    assert q2.awaitTermination(120), "replayed near stream did not drain"
    assert os.path.exists(os.path.join(ckpt, "commits", "1")), "batch 1 was not replayed"
    assert _near_stream_tables(spark, idx_path, corpus) == want


def test_near_ingest_dedup_stream_index_rows_match_committed_corpus(spark, tmp_path):
    """Row-identity law: each batch's stream_fps, stream_buckets and
    stream_postings rows are exactly ``_index_state`` of the corpus
    partition that batch committed, encoded with the index's frozen
    params — the index holds the committed docs, no more, no fewer."""
    from pyspark_mrdf_spark.operators.dedup_index import _index_state, read_dedup_index
    from pyspark_mrdf_spark.streaming.ingest import near_ingest_dedup_stream

    idx_path, corpus, ckpt, stream = _near_stream_inputs(spark, str(tmp_path))
    q = near_ingest_dedup_stream(stream(), idx_path, corpus, ckpt, query_name="near_rows")
    assert q.awaitTermination(120), "near-ingest stream did not drain"
    p = read_dedup_index(spark, idx_path).params
    got = _near_stream_tables(spark, idx_path, corpus)
    # batch 1 dropped its near copy of batch 0's survivor
    assert [r[:2] for r in got["corpus"]] == [(0, 101), (1, 201)]
    for b in (0, 1):
        part = spark.read.parquet(f"{corpus}/batch={b}").select("doc_id", "text")
        want = _index_state(
            part, p["num_hashes"], p["bands"], p["rows_per_band"], p["n"], "doc_id", "text"
        )
        for table, df in zip(("fps", "buckets", "postings"), want):
            mine = sorted(r[1:] for r in got[table] if r[0] == b)
            assert mine, f"batch {b}: no {table} rows"
            assert mine == sorted(tuple(r) for r in df.collect()), f"batch {b}: {table}"


def test_maintained_stats_stream_equals_batch_q142(spark, sf_dir, tmp_path_factory):
    """The streaming materialized view must land exactly on batch
    q142: the A->B CDC deltas (adds/removes/edit-diffs derived from
    snapshot fingerprints, PLUS the initial snapshot as inserts) are
    streamed through maintained_stats in single-file micro-batches;
    the final per-source state equals the batch maintenance result.
    Additivity makes the answer chunking-independent — asserted by
    draining the same delta set at a different files-per-trigger."""
    import os

    from pyspark.sql import functions as SF

    from pyspark_mrdf_spark.queries import load_all
    from pyspark_mrdf_spark.streaming import maintained_stats

    batch = {
        (r["source"], r["n_docs"], r["n_tokens"])
        for r in load_all()["q142_incremental_agg"].builder(spark, sf_dir).collect()
    }

    # CDC synthesis: initial snapshot rows as inserts + the q142 delta
    from pyspark_mrdf_spark.queries.pipeline import _snapshot_b

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ntok = SF.size(SF.split(SF.col("text"), " "))
    inserts = d.select(
        "source", SF.lit(1).alias("d_docs"), ntok.alias("d_tokens")
    )
    b = _snapshot_b(d)
    a_fp = d.select(
        SF.col("doc_id").alias("a_id"), SF.col("source").alias("a_src"),
        SF.md5("text").alias("a_fp"), ntok.alias("a_ntok"),
    )
    b_fp = b.select(
        SF.col("doc_id").alias("b_id"), SF.col("source").alias("b_src"),
        SF.md5("text").alias("b_fp"),
        SF.size(SF.split(SF.col("text"), " ")).alias("b_ntok"),
    )
    delta = (
        a_fp.join(b_fp, a_fp.a_id == b_fp.b_id, "full_outer")
        .filter(
            SF.col("a_id").isNull() | SF.col("b_id").isNull()
            | (SF.col("a_fp") != SF.col("b_fp"))
        )
        .select(
            SF.coalesce(SF.col("a_src"), SF.col("b_src")).alias("source"),
            (
                SF.when(SF.col("b_id").isNull(), 0).otherwise(1)
                - SF.when(SF.col("a_id").isNull(), 0).otherwise(1)
            ).cast("long").alias("d_docs"),
            (
                SF.coalesce(SF.col("b_ntok"), SF.lit(0))
                - SF.coalesce(SF.col("a_ntok"), SF.lit(0))
            ).cast("long").alias("d_tokens"),
        )
    )
    cdc = inserts.withColumn("d_docs", SF.col("d_docs").cast("long")).withColumn(
        "d_tokens", SF.col("d_tokens").cast("long")
    ).unionByName(delta)

    src_dir = str(tmp_path_factory.mktemp("cdc_json"))
    cdc.repartition(6).write.mode("overwrite").json(src_dir)

    def drain(max_files):
        stream = (
            spark.readStream.schema("source string, d_docs long, d_tokens long")
            .option("maxFilesPerTrigger", max_files)
            .json(src_dir)
        )
        name = f"maintained_{max_files}"
        q = (
            maintained_stats(stream, "source", ["d_docs", "d_tokens"])
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not drain"
        q.stop()
        # update mode re-emits a touched key's running totals each
        # batch; the memory sink appends in batch order, so the LAST
        # row per key in arrival order is the final state
        last = {}
        for r in spark.sql(f"SELECT key, d_docs, d_tokens FROM {name}").collect():
            last[r["key"]] = (r["d_docs"], r["d_tokens"])
        return {(k, v[0], v[1]) for k, v in last.items() if v[0] > 0}

    got1 = drain(1)
    got3 = drain(3)
    assert got1 == batch
    assert got3 == batch


def test_maintained_stats_checkpoint_restart(spark, tmp_path_factory):
    """Materialized-view durability: run 1 drains one file per batch
    and is killed after the first commit; run 2 resumes from the SAME
    checkpoint and drains the rest. Exactly-once delta application:
    run1 + run2 input rows == the delta set exactly, and the final
    per-key state equals the full batch sum."""
    import time as _time

    from pyspark.sql import functions as SF

    from pyspark_mrdf_spark.streaming import maintained_stats

    deltas = spark.range(4000).select(
        SF.concat(SF.lit("k"), SF.col("id") % 7).alias("key"),
        SF.lit(1).cast("long").alias("d_docs"),
        (SF.col("id") % 100 - 50).cast("long").alias("d_tokens"),
    )
    expected = {
        (r["key"], r["d_docs"], r["d_tokens"])
        for r in deltas.groupBy("key")
        .agg(SF.sum("d_docs").alias("d_docs"), SF.sum("d_tokens").alias("d_tokens"))
        .collect()
    }
    src_dir = str(tmp_path_factory.mktemp("mv_cdc"))
    deltas.repartition(8).write.mode("overwrite").json(src_dir)
    total_rows = 4000
    ckpt = str(tmp_path_factory.mktemp("mv_ckpt"))
    out_dir = str(tmp_path_factory.mktemp("mv_emissions"))

    def reader(max_files=None):
        r = spark.readStream.schema("key string, d_docs long, d_tokens long")
        if max_files:
            r = r.option("maxFilesPerTrigger", max_files)
        return r.json(src_dir)

    def sink(bdf, bid):
        # foreachBatch appends are batch-exactly-once (the checkpoint
        # commits only after this returns); the highest batch_id per
        # key is the final state — memory sinks cannot recover from a
        # checkpoint, so the emission log is the durable surface
        bdf.withColumn("batch_id", SF.lit(bid)).write.mode("append").parquet(out_dir)

    q1 = (
        maintained_stats(reader(1), "key", ["d_docs", "d_tokens"])
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )
    deadline = _time.time() + 120
    while (
        _time.time() < deadline
        and not any(p["numInputRows"] > 0 for p in q1.recentProgress)
    ):
        _time.sleep(0.1)
    q1.stop()
    assert q1.awaitTermination(60)
    run1 = sum(p["numInputRows"] for p in q1.recentProgress)

    q2 = (
        maintained_stats(reader(), "key", ["d_docs", "d_tokens"])
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)
    run2 = sum(p["numInputRows"] for p in q2.recentProgress)
    q2.stop()
    assert run1 + run2 == total_rows, (run1, run2)
    from pyspark.sql import Window as W

    emitted = spark.read.parquet(out_dir)
    final = (
        emitted.withColumn(
            "rn",
            SF.row_number().over(
                W.partitionBy("key").orderBy(SF.col("batch_id").desc())
            ),
        )
        .filter(SF.col("rn") == 1)
        .select("key", "d_docs", "d_tokens")
    )
    got = {(r["key"], r["d_docs"], r["d_tokens"]) for r in final.collect()}
    assert got == expected


def test_session_stream_matches_batch_session_window(spark, sf_dir, events_json_dir):
    """The stateful sessionizer must agree with the built-in batch
    session_window on every DECIDABLE session: all emitted sessions
    are exactly batch sessions, and every batch session whose close
    point sits safely below the final watermark was emitted (the tail
    sessions the watermark never passed are the allowed difference —
    they are still open by definition)."""
    from pyspark.sql import functions as SF

    from pyspark_mrdf_spark.streaming import session_stream, stream_events_from_json

    gap_min = 30
    gap_us = gap_min * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["user_id"], r["ss"], r["se"], r["n"])
        for r in ev.groupBy(
            "user_id", SF.session_window("ts", f"{gap_min} minutes")
        )
        .agg(SF.count(SF.lit(1)).alias("n"))
        .select(
            "user_id",
            SF.unix_micros("session_window.start").alias("ss"),
            SF.unix_micros("session_window.end").alias("se"),
            "n",
        )
        .collect()
    }
    max_ts_us = ev.agg(SF.max(SF.unix_micros("ts"))).collect()[0][0]

    q = (
        session_stream(
            stream_events_from_json(spark, events_json_dir, max_files_per_trigger=2),
            gap_minutes=gap_min,
        )
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "session stream did not drain"
    got = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_test").collect()
    }
    q.stop()
    # exactness: nothing emitted that batch doesn't have
    assert got <= batch, got - batch
    # completeness with margin: closes safely below the final watermark
    # (watermark delay = gap; one extra gap of slack for batch lag)
    decidable = {
        s for s in batch if s[2] + 2 * gap_us < max_ts_us - gap_us
    }
    assert decidable <= got, list(decidable - got)[:3]
    assert len(got) > 0.5 * len(batch)
