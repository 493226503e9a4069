"""Structured Streaming vs batch equivalence: an availableNow pass over
the static events table must aggregate identically to the batch query."""

from __future__ import annotations

from pyspark.sql import functions as F

from simplex_mapreduce_spark import registry
from simplex_mapreduce_spark.streaming.events_stream import (
    stream_events_tumbling,
    stream_sessionization,
)
from tests.conftest import SF_DIR


def _batch_tumbling(spark):
    batch = registry.QUERIES["events_windows"](spark, SF_DIR).toPandas()
    return batch[batch["kind"] == "tumbling"]


def test_stream_tumbling_matches_batch(spark):
    stream = stream_events_tumbling(spark, SF_DIR).toPandas()
    batch = _batch_tumbling(spark)
    assert len(stream) == len(batch)
    # compare (event_type, n, total_value) multisets; window keys are
    # epoch-long in the stream and formatted NTZ strings in batch
    key = lambda df: sorted(
        zip(df["event_type"], df["n"], df["total_value"].round(2))
    )
    assert key(stream) == key(batch)


def test_stream_sessionization_row_conservation(spark):
    """Session windows partition all events: per-user event counts must
    sum to the table's per-user totals."""
    sess = stream_sessionization(spark, SF_DIR)
    per_user_stream = (
        sess.groupBy("user_id").agg(F.sum("n_events").alias("n")).toPandas()
    )
    from simplex_mapreduce_spark.sources.tables import load_table

    per_user_batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    s = dict(zip(per_user_stream["user_id"], per_user_stream["n"]))
    b = dict(zip(per_user_batch["user_id"], per_user_batch["n"]))
    assert s == b


def test_rate_source_stream_matches_batch(spark):
    """Source-switch equivalence: the same tumbling aggregation over the
    deterministic rate-micro-batch source must equal the batch
    recomputation over exactly the rows the stream ingested (known from
    the complete-mode output, since batch b carries a fixed row set)."""
    import time
    import uuid

    from simplex_mapreduce_spark.streaming.sources import (
        RATE_ROWS_PER_BATCH,
        batch_equivalent_of_rate,
        build_events_source,
        rate_window_totals,
    )

    events = build_events_source(spark, "rate")
    name = f"rate_sink_{uuid.uuid4().hex[:8]}"
    q = (
        rate_window_totals(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 120
        total = 0
        while total < 3 * RATE_ROWS_PER_BATCH and time.time() < deadline:
            time.sleep(0.5)
            total = (
                spark.table(name).agg(F.sum("n").alias("t")).first()["t"] or 0
            )
    finally:
        q.stop()
    # a batch is ingested atomically, so the processed prefix is exact
    total = spark.table(name).agg(F.sum("n").alias("t")).first()["t"] or 0
    assert total >= 3 * RATE_ROWS_PER_BATCH
    assert total % RATE_ROWS_PER_BATCH == 0
    got = sorted(map(tuple, spark.table(name).collect()))
    want = sorted(
        map(tuple, rate_window_totals(batch_equivalent_of_rate(spark, total)).collect())
    )
    assert got == want


def test_kafka_source_raises_clear_error_without_connector(spark):
    import pytest

    from simplex_mapreduce_spark.streaming.sources import build_events_source

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        build_events_source(spark, "kafka")


def test_foreach_batch_parquet_sink(spark, tmp_path):
    from simplex_mapreduce_spark.streaming.events_stream import (
        stream_events_to_parquet,
    )

    out = str(tmp_path / "stream_out")
    stream_events_to_parquet(spark, SF_DIR, out)
    written = spark.read.option("recursiveFileLookup", "true").parquet(out)
    batch = _batch_tumbling(spark)
    got = written.toPandas()
    assert len(got) == len(batch)
    assert sorted(zip(got["event_type"], got["n"])) == sorted(
        zip(batch["event_type"], batch["n"])
    )


def test_streaming_exact_dedup_matches_batch(spark):
    """The stateful streaming dedup must produce exactly the batch
    exact_dedup table (same survivor doc_ids, same copy counts)."""
    from simplex_mapreduce_spark.streaming.dedup_stream import stream_exact_dedup

    stream = stream_exact_dedup(spark, SF_DIR).toPandas()
    batch = registry.QUERIES["exact_dedup"](spark, SF_DIR).toPandas()
    key = lambda df: sorted(
        zip(df["content_hash"], df["keep_doc_id"], df["n_copies"])
    )
    assert len(stream) == len(batch) > 0
    assert key(stream) == key(batch)


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """REAL watermark semantics (the availableNow equivalence tests never
    expire anything): batch 1 closes a window below the advanced
    watermark; a batch-2 event arriving inside that closed window must
    be DROPPED — the append-mode sink sees the window exactly once, with
    batch 1's count."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, user string, v double"

    def run_pass():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("long").alias("win"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    base = "2024-01-01 10:{m:02d}:00"
    rows1 = [(base.format(m=m), "u", 1.0) for m in (0, 1, 2)] + [
        (base.format(m=35), "u", 1.0)  # advances watermark to 10:25
    ]
    spark.createDataFrame(rows1, "ts string, user string, v double").select(
        F.col("ts").cast("timestamp"), "user", "v"
    ).write.mode("append").parquet(src)
    run_pass()

    # late arrival into the long-closed 10:00 window
    spark.createDataFrame(
        [(base.format(m=3), "u", 1.0)], "ts string, user string, v double"
    ).select(F.col("ts").cast("timestamp"), "user", "v").write.mode(
        "append"
    ).parquet(src)
    run_pass()

    out = {r["win"]: r["n"] for r in spark.read.parquet(sink).collect()}
    win_10_00 = next(w for w in out if w % 3600 == 0)
    assert out[win_10_00] == 3  # batch-1 events only; the late one dropped
    assert list(out.values()).count(out[win_10_00]) >= 1 and len(out) >= 1


def test_dedup_within_watermark_matches_batch_distinct(spark):
    """Single availableNow pass = one micro-batch, so the state-bounded
    dedup must equal the batch distinct-on-event_id count."""
    from simplex_mapreduce_spark.sources.tables import load_table
    from simplex_mapreduce_spark.streaming.dedup_stream import (
        stream_dedup_within_watermark,
    )

    out = stream_dedup_within_watermark(spark, SF_DIR)
    n_distinct = (
        load_table(spark, SF_DIR, "events").select("event_id").distinct().count()
    )
    assert out.count() == n_distinct


def test_dedup_within_watermark_state_eviction(spark, tmp_path):
    """The state bound is REAL: a duplicate key arriving after the
    watermark passed its first copy is re-emitted (state evicted), while
    a within-delay duplicate is suppressed — the trade-off that makes
    unbounded-stream dedup possible at all."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, k string"

    def run_pass():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["k"])
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    def write(rows):
        spark.createDataFrame(rows, "ts string, k string").select(
            F.col("ts").cast("timestamp"), "k"
        ).write.mode("append").parquet(src)

    # pass 1: A at 10:00 (+ an in-batch duplicate, suppressed) and a
    # 10:35 row that advances the watermark to 10:25 — evicting A's state
    write(
        [
            ("2024-01-01 10:00:00", "A"),
            ("2024-01-01 10:00:30", "A"),
            ("2024-01-01 10:35:00", "B"),
        ]
    )
    run_pass()
    # pass 2: A again at 10:30 — within-watermark (not late) but its
    # first-copy state is gone, so it is re-emitted
    write([("2024-01-01 10:30:00", "A")])
    run_pass()

    ks = [r["k"] for r in spark.read.parquet(sink).collect()]
    assert sorted(ks) == ["A", "A", "B"]  # in-batch dup suppressed;
    # post-eviction dup re-emitted; B once


def test_progress_metrics_expose_watermark_lateness(spark, tmp_path):
    """StreamingQueryProgress observability (streaming/observability.py):
    the condensed metrics must report the watermark advance, the state
    row count, and — on the restart pass that replays a too-late event —
    a nonzero rows_dropped_by_watermark."""
    import pyspark.sql.functions as F

    from simplex_mapreduce_spark.streaming.observability import progress_metrics

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, user string, v double"

    def run_pass():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("long").alias("win"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        metrics = progress_metrics(q)
        q.stop()
        return metrics

    base = "2024-01-01 10:{m:02d}:00"
    rows1 = [(base.format(m=m), "u", 1.0) for m in (0, 1, 2)] + [
        (base.format(m=35), "u", 1.0)  # advances watermark to 10:25
    ]
    spark.createDataFrame(rows1, "ts string, user string, v double").select(
        F.col("ts").cast("timestamp"), "user", "v"
    ).write.mode("append").parquet(src)
    m1 = run_pass()
    assert m1["input_rows"] == 4
    assert m1["n_batches"] >= 1
    assert m1["rows_dropped_by_watermark"] == 0  # nothing late yet
    assert m1["state_rows"] is not None  # stateful agg reports state size
    assert m1["last_watermark"] is not None and "10:25" in m1["last_watermark"]

    # late arrival into the long-closed 10:00 window: the metrics must
    # SHOW the drop, not just silently produce fewer rows
    spark.createDataFrame(
        [(base.format(m=3), "u", 1.0)], "ts string, user string, v double"
    ).select(F.col("ts").cast("timestamp"), "user", "v").write.mode(
        "append"
    ).parquet(src)
    m2 = run_pass()
    assert m2["input_rows"] == 1
    assert m2["rows_dropped_by_watermark"] == 1
    assert all(d >= 0 for d in m2["batch_durations_ms"])


def test_stream_static_enrichment_matches_duckdb(spark, duck):
    """Stream-static join (events x customer->nation) drained under
    availableNow must equal the batch DuckDB join+window aggregation."""
    from tests.oracle_utils import compare_frames

    spark_pdf = registry.QUERIES["streaming_enriched_by_nation"](
        spark, SF_DIR
    ).toPandas()
    # registry oracle = single source of truth since the round-7
    # promotion (drift vs the driver gate no longer possible)
    duck_pdf = duck.sql(registry.ORACLES["streaming_enriched_by_nation"]).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "streaming_enriched_by_nation")


def test_stream_stream_join_matches_duckdb(spark, duck):
    """Watermarked stream-stream click->purchase join drained under
    availableNow must equal the batch range self-join (inner joins drop
    nothing when all data arrives in one batch)."""
    from tests.oracle_utils import compare_frames

    spark_pdf = registry.QUERIES["streaming_click_purchase_join"](
        spark, SF_DIR
    ).toPandas()
    # registry oracle = single source of truth since the round-7 promotion
    duck_pdf = duck.sql(registry.ORACLES["streaming_click_purchase_join"]).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "streaming_click_purchase_join")


def test_transform_with_state_gated_without_protobuf(spark):
    """Without protobuf (this container), the transformWithState
    operator must fail with the clear gating error, not the opaque
    'driver worker crashed' — the honesty rule for gated surfaces."""
    import pytest

    from simplex_mapreduce_spark.streaming.transform_state import (
        stream_user_activity_tws,
    )

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            stream_user_activity_tws(spark, SF_DIR)
        return
    pytest.skip("protobuf present: covered by the equivalence test")


def test_transform_with_state_matches_duckdb(spark, duck):
    """The UserActivityProcessor (ValueState + MapState) must equal the
    batch aggregation, including the per-type count signature assembled
    from MapState.  Runs UNCONDITIONALLY through the non-protobuf
    fallback engine (run_stateful_processor — same processor class as
    the native API); where pyspark's transformWithState dependency
    (protobuf) is installed, the native RocksDB path is additionally
    required to agree with the fallback."""
    from simplex_mapreduce_spark.streaming.transform_state import (
        stateful_user_activity,
        stream_user_activity_tws,
    )
    from tests.oracle_utils import compare_frames

    spark_pdf = stateful_user_activity(spark, SF_DIR).toPandas()
    try:
        import google.protobuf  # noqa: F401

        native_pdf = stream_user_activity_tws(spark, SF_DIR).toPandas()
        compare_frames(spark_pdf, native_pdf, "tws_native_vs_fallback")
    except ImportError:
        pass  # native path gated; fallback still fully verified below
    duck_pdf = duck.sql(
        """
        WITH by_type AS (
            SELECT user_id, event_type, count(*) AS c
            FROM events GROUP BY user_id, event_type),
        sigs AS (
            SELECT user_id,
                   string_agg(event_type || ':' || c, ',' ORDER BY event_type)
                       AS type_sig
            FROM by_type GROUP BY user_id)
        SELECT e.user_id,
               count(*) AS n_events,
               round(sum(e.value), 2) AS total_value,
               round(max(e.value), 2) AS max_value,
               any_value(s.type_sig) AS type_sig
        FROM events e JOIN sigs s USING (user_id)
        GROUP BY e.user_id
        """
    ).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "streaming_transform_with_state")


def test_stream_stream_left_outer_matches_duckdb(spark, duck):
    """LEFT OUTER stream-stream join drained under availableNow: the
    final no-data micro-batch advances the watermark to
    min(max click_ts, max purchase_ts) - delay and flushes exactly the
    provably-unmatched clicks (click_ts + join window below the final
    watermark).  Everything emitted must equal that closed-form batch
    twin — i.e. outer emission is watermark-determined, not an artifact
    of batch boundaries."""
    from tests.oracle_utils import compare_frames

    from simplex_mapreduce_spark.streaming.joins_stream import (
        CLICK_PURCHASE_LEFT_OUTER_ORACLE,
    )

    spark_pdf = registry.QUERIES["streaming_click_purchase_left_outer"](
        spark, SF_DIR
    ).toPandas()
    duck_pdf = duck.sql(CLICK_PURCHASE_LEFT_OUTER_ORACLE).df()
    # the outer path must actually fire: unmatched clicks exist
    assert spark_pdf["purchase_id"].isna().sum() > 0
    compare_frames(spark_pdf, duck_pdf, "streaming_click_purchase_left_outer")


def test_stream_crash_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """Fault drill for the streaming path: a foreachBatch sink CRASHES
    after writing micro-batch 1; restarting the query from the same
    checkpoint must replay that batch (at-least-once delivery) and the
    batch_id-idempotent sink layout must absorb the replay so the final
    sink holds every source row EXACTLY once — checkpointed offsets +
    idempotent per-batch writes, the documented exactly-once recipe for
    sinks without transactional commit."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    sink = tmp_path / "sink"
    ckpt = str(tmp_path / "ckpt")

    for i in range(3):  # one file per append -> one micro-batch per file
        spark.createDataFrame(
            [(i * 10 + j, f"u{j}") for j in range(5)], "event_id long, user string"
        ).coalesce(1).write.mode("append").parquet(src)

    crash_once = {"armed": True}

    def write_batch(batch_df, batch_id):
        # idempotent layout: one directory per batch_id, overwritten on
        # replay — a second delivery of the same batch replaces itself
        batch_df.write.mode("overwrite").parquet(str(sink / f"batch_{batch_id}"))
        if crash_once["armed"] and batch_id == 1:
            crash_once["armed"] = False
            raise RuntimeError("injected sink crash after batch 1 write")

    def run():
        q = (
            spark.readStream.schema("event_id long, user string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    import pytest

    with pytest.raises(Exception, match="injected sink crash"):
        run()
    run()  # restart from the checkpoint: replays batch 1, finishes 2

    got = sorted(
        (r["event_id"], r["user"])
        for r in spark.read.parquet(str(sink / "batch_*")).collect()
    )
    want = sorted((i * 10 + j, f"u{j}") for i in range(3) for j in range(5))
    assert got == want  # every row exactly once, none lost, none doubled


def test_streaming_anomalies_multibatch_matches_single_batch(spark, tmp_path):
    """The era dedup contract: splitting the same events across FOUR
    micro-batches (maxFilesPerTrigger=1 over a 4-file copy) must yield
    exactly the single-batch result — later batches re-emit re-scored
    rows and only each (type, hour)'s latest era survives the drain."""
    from simplex_mapreduce_spark import registry
    from simplex_mapreduce_spark.sources.tables import load_table
    from simplex_mapreduce_spark.streaming.stateful import (
        score_event_rate_stream,
    )

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    single = registry.QUERIES["streaming_event_rate_anomalies"](
        spark, sf
    ).collect()

    src = str(tmp_path / "events.parquet")
    load_table(spark, sf, "events").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from pyspark.sql import functions as F

    if schema["ts"].dataType.simpleString() == "bigint":
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    multi = score_event_rate_stream(raw, spark).collect()

    key = lambda r: (r["event_type"], r["hour_epoch"])  # noqa: E731
    assert sorted(map(tuple, multi), key=lambda t: t[:2]) == sorted(
        map(tuple, single), key=lambda t: t[:2]
    )
    assert len(multi) == len(single) > 0


def test_streaming_anomalies_null_ts_excluded_by_contract(spark, tmp_path):
    """NULL-ts events are dropped JVM-side before the stateful scorer
    (documented contract, ADVICE r5) — previously pandas value_counts()
    dropped them as an accidental default.  Rows with null ts must not
    create buckets and must not disturb the non-null scores."""
    import pandas as pd

    from simplex_mapreduce_spark.streaming.stateful import (
        score_event_rate_stream,
    )

    src = str(tmp_path / "ev.parquet")
    base = [("click", 3600.0 * (i // 3)) for i in range(9)]
    pdf = pd.DataFrame(base + [("click", None)], columns=["event_type", "sec"])
    df = spark.createDataFrame(pdf).selectExpr(
        "event_type", "timestamp_seconds(sec) AS ts"
    )
    df.write.parquet(src)
    raw = spark.readStream.schema(df.schema).parquet(src)
    rows = score_event_rate_stream(raw, spark).collect()
    hours = {r["hour_epoch"] for r in rows}
    assert hours == {0, 3600, 7200}  # no null bucket
    assert all(r["n"] == 3 for r in rows)  # null row counted nowhere


def test_streaming_anomalies_state_recovers_across_runs(spark, tmp_path):
    """State-store recovery: run the stateful monitor over HALF the
    events with a checkpoint, STOP the query, add the other half, and
    restart from the same checkpoint.  The second run must process only
    the new files, yet its emitted scores must equal the single-shot
    batch result over ALL events — proving the per-key hour->count
    history was recovered from the checkpointed state store, not
    recomputed from the already-consumed first half."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from simplex_mapreduce_spark import registry
    from simplex_mapreduce_spark.sources.tables import load_table
    from simplex_mapreduce_spark.streaming.stateful import (
        ANOM_OUT_SCHEMA,
        ANOM_STATE_SCHEMA,
        ANOM_Z,
        _update_rate_anomalies,
    )

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "events")
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    halves = e.withColumn("_h", F.pmod("event_id", 2))

    def run_once(half):
        halves.filter(F.col("_h") == half).drop("_h").repartition(
            2
        ).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        raw = spark.readStream.schema(schema).parquet(src)
        if schema["ts"].dataType.simpleString() == "bigint":
            raw = raw.withColumn(
                "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
            )
        else:
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        hour_epoch = (
            F.col("ts").cast("long") - F.pmod(F.col("ts").cast("long"), 3600)
        ).alias("hour_epoch")
        scored = (
            raw.select("event_type", hour_epoch)
            .groupBy("event_type")
            .applyInPandasWithState(
                _update_rate_anomalies,
                ANOM_OUT_SCHEMA,
                ANOM_STATE_SCHEMA,
                "update",
                GroupStateTimeout.NoTimeout,
            )
        )
        # memory sinks refuse checkpoint recovery; foreachBatch is the
        # recoverable sink (the crash-drill pattern): batch_id-keyed
        # parquet dirs make replays idempotent
        def emit(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(f"{outdir}/b={batch_id}")

        q = (
            scored.writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return spark.read.option("basePath", outdir).parquet(f"{outdir}/b=*")

    outdir = str(tmp_path / "emissions")
    run1 = run_once(0).select("era").agg(F.max("era")).collect()[0][0]
    assert run1 == 1  # first run: exactly one invocation per key
    out2 = run_once(1)

    latest = Window.partitionBy("event_type", "hour_epoch").orderBy(
        F.col("era").desc()
    )
    ok = F.col("ok")
    recovered = (
        out2.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            "hour_epoch",
            "n",
            F.round("mu", 4).alias("trailing_mean"),
            F.when(ok, F.round("z", 4)).alias("zscore"),
            F.coalesce(ok & (F.abs("z") > ANOM_Z), F.lit(False)).alias(
                "is_anomaly"
            ),
        )
        .collect()
    )
    single = registry.QUERIES["streaming_event_rate_anomalies"](
        spark, sf
    ).collect()
    assert sorted(map(tuple, recovered)) == sorted(map(tuple, single))
    assert len(recovered) > 0
    # run 2's state eras prove recovery: every key's counter advanced
    # past the value run 1 left (2 = one invocation per run)
    assert out2.agg(F.max("era")).collect()[0][0] >= 2


def test_stream_ingest_feeds_shingle_table_exactly_once(spark, tmp_path):
    """Streaming corpus ingestion keeping the near-dup index fresh:
    documents arrive as micro-batches (maxFilesPerTrigger=1), the sink
    crashes mid-stream, the restarted stream finishes the drain — and
    the incrementally-fed shingle table emits EXACTLY the pair set of a
    from-scratch batch build over the same corpus (no lost, doubled, or
    phantom docs), including cross-epoch clone pairs.  A second run of
    the whole pipeline is a no-op (applied-set marker)."""
    import random

    from simplex_mapreduce_spark.operators.dedup import (
        SHINGLES,
        jaccard_pairs_from_table,
    )
    from simplex_mapreduce_spark.sources.bucketing import read_bucketed
    from simplex_mapreduce_spark.streaming.dedup_stream import (
        stream_ingest_to_shingle_table,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    base = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(8, 20))))
        for i in range(20)
    ]
    # delta: fresh docs + a clone of a BASE doc (cross-epoch pair) and
    # an internal clone pair
    delta = [
        (100 + i, " ".join(rng.choices(vocab, k=rng.randint(8, 20))))
        for i in range(8)
    ]
    delta.append((200, base[4][1]))
    delta.append((201, delta[0][1]))

    base_dir = str(tmp_path / "base")
    spark.createDataFrame(base, "doc_id long, text string").write.parquet(
        f"{base_dir}/documents.parquet"
    )
    full_dir = str(tmp_path / "full")
    spark.createDataFrame(
        base + delta, "doc_id long, text string"
    ).write.parquet(f"{full_dir}/documents.parquet")
    # delta arrives as MULTIPLE files so maxFilesPerTrigger yields
    # several micro-batches
    delta_dir = str(tmp_path / "delta_in")
    spark.createDataFrame(
        delta, "doc_id long, text string"
    ).repartition(4).write.parquet(delta_dir)

    t_inc = SHINGLES.build(
        spark, SHINGLES.load(spark, base_dir), "stream_ingest_inc"
    )
    t_full = SHINGLES.build(
        spark, SHINGLES.load(spark, full_dir), "stream_ingest_full"
    )
    work = str(tmp_path / "work")
    try:
        schema = spark.read.parquet(delta_dir).schema

        def delta_stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(delta_dir)
            )

        try:
            stream_ingest_to_shingle_table(
                spark, delta_stream(), t_inc, work, crash_at_batch=1
            )
            raise AssertionError("injected crash did not fire")
        except Exception as e:  # noqa: BLE001 — streaming wraps it
            assert "injected sink crash" in str(e)
        n1 = stream_ingest_to_shingle_table(
            spark, delta_stream(), t_inc, work
        )
        assert n1 >= 2  # the full drain landed
        assert (
            read_bucketed(spark, t_inc).count()
            == read_bucketed(spark, t_full).count()
        )
        pairs = lambda t: sorted(  # noqa: E731
            (r["doc_a"], r["doc_b"])
            for r in jaccard_pairs_from_table(spark, t).collect()
        )
        inc, full = pairs(t_inc), pairs(t_full)
        assert (4, 200) in full  # the planted cross-epoch clone pair
        assert inc == full
        # idempotence: rerunning the drained pipeline appends nothing
        assert (
            stream_ingest_to_shingle_table(spark, delta_stream(), t_inc, work)
            == 0
        )
    finally:
        for t in ("stream_ingest_inc", "stream_ingest_full"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_quality_gate_matches_batch_aggregate(spark):
    """The streamed per-source Gopher counters must equal the batch
    aggregate of gopher_quality_rules joined back to the source column
    — same keep counts, same per-rule rejection counts."""
    import pyspark.sql.functions as F

    from simplex_mapreduce_spark.operators.text import gopher_flags
    from simplex_mapreduce_spark.sources.tables import load_table
    from simplex_mapreduce_spark.streaming.dedup_stream import (
        _GOPHER_RULE_COLS,
        stream_quality_gate,
    )

    stream = stream_quality_gate(spark, SF_DIR).toPandas()
    batch = (
        gopher_flags(
            load_table(spark, SF_DIR, "documents"), passthrough=("source",)
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            *[
                F.sum(1 - F.col(c)).cast("long").alias("n_fail" + c[1:])
                for c in _GOPHER_RULE_COLS
            ],
        )
        .toPandas()
    )
    cols = list(batch.columns)
    key = lambda df: sorted(map(tuple, df[cols].itertuples(index=False)))
    assert len(stream) == len(batch) > 0
    assert key(stream) == key(batch)
    # the gate rejects something and keeps something at this sf —
    # otherwise the counters prove nothing
    assert stream["n_keep"].sum() > 0
    assert stream["n_keep"].sum() < stream["n_docs"].sum()


def test_documents_stream_reads_directory_layout_tables(spark, tmp_path):
    """Spark-written corpora are DIRECTORIES of part files; the
    single-file pathGlobFilter shape silently reads 0 rows there (the
    sf1 strict gate caught streaming_quality_gate returning an empty
    frame).  Pin both layouts through the same source helper."""
    from simplex_mapreduce_spark.sources.tables import load_table
    from simplex_mapreduce_spark.streaming.dedup_stream import (
        _documents_stream,
    )
    from simplex_mapreduce_spark.streaming.events_stream import _drain

    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()

    dir_sf = str(tmp_path / "dirsf")
    docs.repartition(3).write.parquet(f"{dir_sf}/documents.parquet")
    got_dir = _drain(
        _documents_stream(spark, dir_sf).select("doc_id"), spark, mode="append"
    ).count()
    assert got_dir == n

    got_file = _drain(
        _documents_stream(spark, SF_DIR).select("doc_id"), spark, mode="append"
    ).count()
    assert got_file == n


def test_streaming_quality_filter_equals_batch_keepers(spark):
    """The gating stream must pass exactly the batch filter's keepers —
    same doc_ids, and consistent with the gate's n_keep counters."""
    from simplex_mapreduce_spark.streaming.dedup_stream import (
        stream_quality_gate,
    )

    kept = registry.QUERIES["streaming_quality_filter"](spark, SF_DIR).toPandas()
    batch = registry.QUERIES["gopher_quality_rules"](spark, SF_DIR).toPandas()
    assert sorted(kept["doc_id"]) == sorted(
        batch.loc[batch["keep"] == 1, "doc_id"]
    )
    gate = stream_quality_gate(spark, SF_DIR).toPandas()
    assert gate["n_keep"].sum() == len(kept)


def test_stream_ingest_feeds_winnow_table_exactly_once(spark, tmp_path):
    """VERDICT r11 item 4, winnow rung: documents stream into the
    stored winnow fingerprint table through the staged exactly-once
    pipeline, the sink crashes mid-stream, the restarted stream
    finishes — and the incrementally-fed table's overlap pairs equal a
    from-scratch build's over the same corpus, including a planted
    cross-epoch clone pair.  Rerun after the drain is a no-op."""
    import random

    from simplex_mapreduce_spark.operators.text import (
        WINNOW_FPS,
        winnow_pairs_from_table,
    )
    from simplex_mapreduce_spark.sources.bucketing import read_bucketed
    from simplex_mapreduce_spark.streaming.dedup_stream import (
        stream_ingest_to_winnow_table,
    )

    rng = random.Random(23)
    vocab = [f"token{i:02d}" for i in range(30)]

    def doc(i):  # >= 23 chars so winnowing fingerprints exist
        return (i, " ".join(rng.choices(vocab, k=rng.randint(12, 24))))

    base = [doc(i) for i in range(16)]
    delta = [doc(100 + i) for i in range(6)]
    delta.append((200, base[3][1]))   # cross-epoch clone
    delta.append((201, delta[0][1]))  # in-delta clone

    bdf = spark.createDataFrame(base, "doc_id long, text string")
    fdf = spark.createDataFrame(base + delta, "doc_id long, text string")
    t_inc = WINNOW_FPS.build(spark, bdf, "stream_winnow_inc")
    t_full = WINNOW_FPS.build(spark, fdf, "stream_winnow_full")
    delta_dir = str(tmp_path / "delta_in")
    spark.createDataFrame(
        delta, "doc_id long, text string"
    ).repartition(4).write.parquet(delta_dir)
    work = str(tmp_path / "work")
    try:
        schema = spark.read.parquet(delta_dir).schema

        def delta_stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(delta_dir)
            )

        try:
            stream_ingest_to_winnow_table(
                spark, delta_stream(), t_inc, work, crash_at_batch=1
            )
            raise AssertionError("injected crash did not fire")
        except Exception as e:  # noqa: BLE001 — streaming wraps it
            assert "injected sink crash" in str(e)
        n1 = stream_ingest_to_winnow_table(
            spark, delta_stream(), t_inc, work
        )
        assert n1 >= 2
        assert (
            read_bucketed(spark, t_inc).count()
            == read_bucketed(spark, t_full).count()
        )
        pairs = lambda t: sorted(  # noqa: E731
            map(tuple, winnow_pairs_from_table(spark, t).collect())
        )
        inc, full = pairs(t_inc), pairs(t_full)
        assert any(p[0] == 3 and p[1] == 200 for p in full)
        assert inc == full
        assert (
            stream_ingest_to_winnow_table(spark, delta_stream(), t_inc, work)
            == 0
        )
    finally:
        for t in ("stream_winnow_inc", "stream_winnow_full"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_ingest_feeds_ivf_index_exactly_once(spark, tmp_path):
    """VERDICT r11 item 4, IVF rung: vectors stream into the persisted
    ANN index through the staged exactly-once pipeline with a
    mid-stream crash + restart; the incrementally-fed index must
    answer the probe query EXACTLY like an index rebuilt from scratch
    over base+delta (same centroids by construction: the delta is
    assigned against the stored vec_id<IVF_CELLS centroid rows)."""
    import math
    import random

    from simplex_mapreduce_spark.operators.similarity import (
        IVF_INDEX,
        ivf_topk_from_table,
    )
    from simplex_mapreduce_spark.sources.bucketing import read_bucketed
    from simplex_mapreduce_spark.streaming.dedup_stream import (
        stream_ingest_to_ivf_index,
    )

    rng = random.Random(31)

    def vec(i):
        return (i, [math.sin(i * 0.7 + d) + rng.random() * 0.1
                    for d in range(8)])

    base = [vec(i) for i in range(40)]        # includes centroids 0..7
    delta = [vec(1000 + i) for i in range(24)]
    base_dir, full_dir = str(tmp_path / "b"), str(tmp_path / "f")
    spark.createDataFrame(
        base, "vec_id long, embedding array<double>"
    ).write.parquet(f"{base_dir}/embeddings.parquet")
    spark.createDataFrame(
        base + delta, "vec_id long, embedding array<double>"
    ).write.parquet(f"{full_dir}/embeddings.parquet")
    t_inc = IVF_INDEX.build(
        spark, IVF_INDEX.load(spark, base_dir), "stream_ivf_inc"
    )
    t_full = IVF_INDEX.build(
        spark, IVF_INDEX.load(spark, full_dir), "stream_ivf_full"
    )
    delta_dir = str(tmp_path / "delta_in")
    spark.createDataFrame(
        [(i, e) for i, e in delta], "vec_id long, e array<double>"
    ).repartition(4).write.parquet(delta_dir)
    work = str(tmp_path / "work")
    try:
        schema = spark.read.parquet(delta_dir).schema

        def delta_stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(delta_dir)
            )

        try:
            stream_ingest_to_ivf_index(
                spark, delta_stream(), t_inc, work, crash_at_batch=1
            )
            raise AssertionError("injected crash did not fire")
        except Exception as e:  # noqa: BLE001 — streaming wraps it
            assert "injected sink crash" in str(e)
        n1 = stream_ingest_to_ivf_index(spark, delta_stream(), t_inc, work)
        assert n1 >= 2
        assert (
            read_bucketed(spark, t_inc).count()
            == read_bucketed(spark, t_full).count()
        )
        topk = lambda t: [  # noqa: E731
            tuple(r) for r in ivf_topk_from_table(spark, t).collect()
        ]
        inc, full = topk(t_inc), topk(t_full)
        assert inc == full and len(inc) > 0
        # streamed vectors are genuinely visible to the probe: at least
        # one delta vec assigned to a probed cell OR the full rebuild
        # agrees everywhere (always true by the equality above); check
        # the index itself holds every delta vec exactly once
        got_ids = sorted(
            r["vec_id"]
            for r in read_bucketed(spark, t_inc)
            .filter("vec_id >= 1000")
            .collect()
        )
        assert got_ids == sorted(i for i, _ in delta)
        assert (
            stream_ingest_to_ivf_index(spark, delta_stream(), t_inc, work)
            == 0
        )
    finally:
        for t in ("stream_ivf_inc", "stream_ivf_full"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
