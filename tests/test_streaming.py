"""Structured Streaming tests: file-source stream → watermarked windows /
dedup / foreachBatch-merge, driven synchronously with availableNow."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from repcheck_data_integration_spark.streaming import stream_ops
from repcheck_data_integration_spark.streaming.batch_windows import (
    stream_tumbling_window,
)
from repcheck_data_integration_spark.tables import load

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Fixture events re-written with micros timestamps so the streaming
    parquet source can read them."""
    d = str(tmp_path_factory.mktemp("events_us"))
    load(spark, SF, "events").write.mode("overwrite").parquet(d)
    return d


def test_tumbling_counts_match_batch(spark, events_stream_dir):
    stream = stream_ops.read_events_stream(spark, events_stream_dir)
    q = stream_ops.run_to_memory(
        stream_ops.tumbling_counts(stream), "tumbling_out"
    )
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in stream_tumbling_window(spark, SF).collect()
    }
    # append mode emits only windows the watermark has closed; every emitted
    # window must match the batch result exactly, and most windows close.
    assert got, "stream produced no closed windows"
    for k, v in got.items():
        assert expected[k] == v, k
    assert len(got) >= len(expected) * 0.8
    q.stop()


def test_dedup_within_watermark(spark, events_stream_dir):
    stream = stream_ops.read_events_stream(spark, events_stream_dir)
    q = stream_ops.run_to_memory(
        stream_ops.dedup_within_watermark(stream).select(
            "user_id", "event_type", "event_id"
        ),
        "dedup_out",
    )
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    keys = [(r["user_id"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicates survived"
    n_keys = (
        load(spark, SF, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert len(keys) == n_keys
    q.stop()


def test_foreachbatch_upsert(spark, events_stream_dir, tmp_path):
    target = str(tmp_path / "agg_target")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_ops.read_events_stream(spark, events_stream_dir)
    q = stream_ops.stream_upsert_to_parquet(stream, target, ckpt)
    q.awaitTermination()
    got = spark.read.parquet(target)
    batch = (
        load(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("event_id").alias("last_event_id"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    assert os.path.exists(target)


def test_stateful_running_totals(spark, events_stream_dir):
    """applyInPandasWithState: totals across micro-batches must equal the
    batch groupBy."""
    stream = stream_ops.read_events_stream(spark, events_stream_dir)
    q = stream_ops.run_to_memory(
        stream_ops.running_user_totals(stream), "stateful_out"
    )
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            # one emission per user per micro-batch → take the final state
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                                              ORDER BY n_events DESC) rn
                 FROM stateful_out) WHERE rn = 1"""
        ).collect()
    }
    expected = {
        r["user_id"]: (r["n"], r["v"])
        for r in load(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .collect()
    }
    assert set(got) == set(expected)
    for u, (n, v) in expected.items():
        assert got[u][0] == n, u
        assert abs(got[u][1] - v) < 0.05, u
    q.stop()


def test_watermark_drops_late_data(spark, tmp_path):
    """Two availableNow runs over one checkpoint: batch 1 advances the
    watermark past 12:00; batch 2 delivers an event from 00:01 — it must be
    dropped, while an in-watermark event is aggregated."""
    import datetime as dt

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")

    def write_batch(rows, name):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once(qname):
        stream = stream_ops.read_events_stream(spark, src)
        q = (
            stream_ops.tumbling_counts(stream, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    write_batch(
        [(1, t(0, 1), 1, "click", 1.0, "{}"), (2, t(12, 0), 1, "click", 1.0, "{}")],
        "b1",
    )
    run_once("w1")
    # late arrival: 00:01 is far behind the 12:00-10min watermark → dropped;
    # 11:58 is within the last open window → counted
    write_batch(
        [(3, t(0, 1), 2, "click", 1.0, "{}"), (4, t(11, 58), 2, "click", 1.0, "{}")],
        "b2",
    )
    run_once("w2")
    # flush remaining open windows by advancing the watermark far ahead
    write_batch([(5, t(23, 0), 3, "click", 1.0, "{}")], "b3")
    run_once("w3")

    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    early_window = int(t(0, 0).replace(tzinfo=dt.timezone.utc).timestamp())
    noon_window = int(t(11, 50).replace(tzinfo=dt.timezone.utc).timestamp())
    # event 1 counted before watermark passed; late event 3 NOT added
    assert got.get((early_window, "click")) == 1
    # event 4 arrived within watermark → counted
    assert got.get((noon_window, "click")) == 1


def test_stream_stream_join_matches_batch(spark, events_stream_dir):
    """Live watermarked stream-stream interval join == batch twin."""
    from repcheck_data_integration_spark.streaming.batch_windows import (
        stream_stream_join_batch,
    )

    stream = stream_ops.read_events_stream(spark, events_stream_dir)
    joined = stream_ops.click_view_interval_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "view"),
    )
    q = stream_ops.run_to_memory(joined, "ssj_out")
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    expected = {
        (r["click_id"], r["view_id"])
        for r in stream_stream_join_batch(spark, SF).collect()
    }
    # availableNow drains everything; inner join emits matched pairs as
    # both sides arrive — the full batch result must be reproduced.
    assert got == expected and len(got) > 0
    q.stop()


def test_transform_with_state_matches_batch(spark, events_stream_dir):
    """transformWithStateInPandas running per-user stats: the final emitted
    row per user equals the batch aggregate. The TWS state protocol rides
    protobuf, which this container lacks — skip (not fail) there; the
    operator itself is pure API calls and runs wherever protobuf exists."""
    pytest.importorskip("google.protobuf")
    # transformWithState requires the RocksDB state store provider
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stream_ops.read_events_stream(spark, events_stream_dir)
        q = stream_ops.run_to_memory(stream_ops.user_stats_tws(stream), "tws_out")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    # last emission per user wins (one emission per batch the user appears in)
    rows = spark.sql(
        "SELECT user_id, n_events, total_value, max_value FROM tws_out"
    ).collect()
    latest = {}
    for r in rows:  # memory sink preserves batch order; later rows overwrite
        latest[r["user_id"]] = (r["n_events"], r["total_value"], r["max_value"])
    expected = {
        r["user_id"]: (r["n"], r["tot"], r["mx"])
        for r in load(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("tot"),
            F.round(F.max("value"), 2).alias("mx"),
        )
        .collect()
    }
    assert latest.keys() == expected.keys()
    mismatch = {u: (latest[u], expected[u]) for u in expected if latest[u] != expected[u]}
    assert not mismatch, dict(list(mismatch.items())[:3])
    q.stop()


def test_hourly_rollup_incremental_equals_batch(spark, tmp_path):
    """Continuous hourly rollup maintained across MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over a 4-file copy) equals the one-shot batch
    aggregate; the daily re-rollup equals the direct daily aggregate."""
    src = str(tmp_path / "events4")
    load(spark, SF, "events").repartition(4).write.mode("overwrite").parquet(src)
    target = str(tmp_path / "hourly")
    chk = str(tmp_path / "chk")

    stream = (
        spark.readStream.schema(stream_ops.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = stream_ops.stream_hourly_rollup(stream, target, chk)
    q.awaitTermination()
    # >1 micro-batch actually exercised the additive merge path
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 2

    hourly = {
        (r["hour"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in spark.read.parquet(target).collect()
    }
    expected = {
        (r["hour"], r["event_type"]): (r["n"], r["v"])
        for r in load(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v"),
        )
        .collect()
    }
    assert hourly == expected

    daily = {
        (r["day"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in stream_ops.daily_from_hourly(spark, target).collect()
    }
    direct = {
        (r["day"], r["event_type"]): (r["n"], r["v"])
        for r in load(spark, SF, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v"),
        )
        .collect()
    }
    assert daily == direct


# state schema per maintainer component (suffix of the target path)
REPLAY_STATE_SCHEMAS = {
    "upsert": {
        "": "struct<user_id:bigint,n_events:bigint,last_event_id:bigint>",
    },
    "hourly": {
        "": "struct<hour:timestamp,event_type:string,n_events:bigint,"
        "value_cents:bigint>",
    },
    "scd2": {
        "": "struct<id:bigint,seg:string,valid_from:timestamp,"
        "valid_to:timestamp,is_current:boolean>",
    },
    "dedup": {"": "struct<content_hash:string,doc_id:bigint>"},
    "minhash_dedup": {
        "": "struct<doc_id:bigint,"
        + "".join(f"mh{j}:string," for j in range(8))
        + "canonical_id:bigint>",
    },
    "histogram": {"": "struct<bucket_id:bigint,cnt:bigint>"},
    "curation": {
        "": "struct<content_hash:string,doc_id:bigint,n_tokens:bigint,"
        "sum_w:bigint>",
    },
    "attribution": {
        "_rollup": "struct<touch_type:string,n_purchases:bigint,"
        "n_credits:bigint,credited_microcents:bigint>",
        "_touch": "struct<t_id:bigint,t_user:bigint,t_ts:timestamp,"
        "t_type:string>",
    },
}


def _replay_case(spark, name, target):
    """(foreachBatch merge, epoch-0 batch, epoch-1 batch) for one
    maintainer; the SCD2 case also writes its seed dimension."""
    import datetime as dt

    events = load(spark, SF, "events")
    docs = load(spark, SF, "documents").select("doc_id", "text")
    if name == "scd2":
        from repcheck_data_integration_spark.operators.temporal import (
            HIGH_DATE,
        )

        high = dt.datetime.fromisoformat(HIGH_DATE.replace(" ", "T"))
        spark.createDataFrame(
            [(k, "A", dt.datetime(2020, 1, 1), high, True) for k in (1, 2, 3)],
            "id long, seg string, valid_from timestamp, valid_to timestamp,"
            " is_current boolean",
        ).write.parquet(target)
        upd = "id long, seg string, eff timestamp"
        return (
            stream_ops.make_scd2_merge_batch(
                target, key="id", effective_col="eff", compare_cols=["seg"]
            ),
            spark.createDataFrame([(1, "X", dt.datetime(2024, 1, 1))], upd),
            spark.createDataFrame(
                [(1, "Y", dt.datetime(2024, 6, 1)),
                 (4, "N", dt.datetime(2024, 6, 1))],
                upd,
            ),
        )
    make, frame, key = {
        "upsert": (stream_ops.make_upsert_merge_batch, events, "event_id"),
        "hourly": (stream_ops.make_hourly_merge_batch, events, "event_id"),
        "dedup": (stream_ops.make_dedup_merge_batch, docs, "doc_id"),
        "minhash_dedup": (
            stream_ops.make_minhash_dedup_merge_batch, docs, "doc_id"
        ),
        "histogram": (
            stream_ops.make_histogram_merge_batch, events, "event_id"
        ),
        "curation": (stream_ops.make_curation_merge_batch, docs, "doc_id"),
        "attribution": (
            stream_ops.make_attribution_merge_batch, events, "event_id"
        ),
    }[name]
    return (
        make(target),
        frame.filter(F.col(key) % 2 == 0),
        frame.filter(F.col(key) % 2 == 1),
    )


@pytest.mark.parametrize("name", sorted(REPLAY_STATE_SCHEMAS))
def test_maintainer_replay_is_idempotent(spark, tmp_path, name):
    """At-least-once replay safety for every foreachBatch maintainer:
    re-applying a micro-batch with an already-committed epoch_id must be a
    no-op (an additive fold would otherwise double-count), for every state
    component, and the epoch marker must ride the atomic symlink swap.
    Simulates the crash-between-write-and-checkpoint retry by calling the
    foreachBatch function directly with repeated epochs."""
    target = str(tmp_path / name)
    merge, b0, b1 = _replay_case(spark, name, target)
    schemas = REPLAY_STATE_SCHEMAS[name]

    def state():
        return {
            sfx: sorted(spark.read.parquet(target + sfx).collect(), key=repr)
            for sfx in schemas
        }

    merge(b0, 0)
    once = state()
    merge(b0, 0)  # replay of epoch 0 → must not double-apply
    assert state() == once
    for sfx in schemas:
        assert stream_ops.rollup_applied_epoch(target + sfx) == 0

    merge(b1, 1)
    for sfx in schemas:
        assert stream_ops.rollup_applied_epoch(target + sfx) == 1
    after1 = state()
    assert after1 != once
    merge(b1, 1)  # replay of epoch 1 likewise
    assert state() == after1
    merge(b0, 0)  # stale epoch replayed out of order likewise
    assert state() == after1

    for sfx, schema in schemas.items():
        path = target + sfx
        assert spark.read.parquet(path).schema.simpleString() == schema
        # no stale tmp artifacts; live version + one superseded (reader grace)
        assert not os.path.exists(path + ".tmp")
        vers = [
            d for d in os.listdir(path + ".versions") if d.startswith("epoch=")
        ]
        assert len(vers) == 1 + stream_ops.KEEP_SUPERSEDED_VERSIONS


def test_plain_directory_prior_state_is_folded(spark, tmp_path):
    """One prior-state rule: a plain parquet directory at the target (the
    seed form) is read like a committed epoch. A batch repeating seeded
    content keeps it excluded, and the seeded row survives the commit that
    replaces the directory with the epoch symlink. A maintainer that needs
    a prior state and finds none fails with a named error."""
    import hashlib

    target = str(tmp_path / "seen")
    docs = "doc_id long, text string"
    spark.createDataFrame([(7, "alpha")], docs).select(
        F.md5("text").alias("content_hash"), "doc_id"
    ).write.parquet(target)
    stream_ops.make_dedup_merge_batch(target)(
        spark.createDataFrame([(1, "alpha"), (2, "beta")], docs), 0
    )
    got = {
        (r["content_hash"], r["doc_id"])
        for r in spark.read.parquet(target).collect()
    }
    md5 = {t: hashlib.md5(t.encode()).hexdigest() for t in ("alpha", "beta")}
    assert got == {(md5["alpha"], 7), (md5["beta"], 2)}
    assert os.path.islink(target)

    no_dim = str(tmp_path / "no_dim")
    merge = stream_ops.make_scd2_merge_batch(
        no_dim, key="id", effective_col="eff", compare_cols=["seg"]
    )
    missing = re.escape(f"no seed dimension at {no_dim}")
    with pytest.raises(ValueError, match=missing):
        merge(
            spark.createDataFrame(
                [(1, "X", None)], "id long, seg string, eff timestamp"
            ),
            0,
        )


def test_stream_scd2_incremental_equals_batch(spark, tmp_path):
    """Continuous SCD2 maintenance over two micro-batches of updates must
    equal folding the same updates with batch scd2_apply in epoch order;
    replaying an epoch must not re-close/re-open versions."""
    import datetime as dt

    from repcheck_data_integration_spark.operators.temporal import scd2_apply

    from repcheck_data_integration_spark.operators.temporal import HIGH_DATE
    HIGH = dt.datetime.fromisoformat(HIGH_DATE.replace(" ", "T"))
    t0 = dt.datetime(2020, 1, 1)
    seed_rows = [
        (k, seg, t0, HIGH, True)
        for k, seg in [(1, "A"), (2, "A"), (3, "B"), (4, "C")]
    ]
    cols = ["id", "seg", "valid_from", "valid_to", "is_current"]
    target = str(tmp_path / "dim")
    spark.createDataFrame(seed_rows, cols).coalesce(1).write.parquet(target)

    e1, e2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)
    b0 = spark.createDataFrame(
        [(1, "X", e1), (3, "B", e1)], ["id", "seg", "eff"]  # 3 unchanged
    )
    b1 = spark.createDataFrame(
        [(1, "Y", e2), (5, "N", e2)], ["id", "seg", "eff"]  # re-change + new
    )

    merge = stream_ops.make_scd2_merge_batch(
        target, key="id", effective_col="eff", compare_cols=["seg"]
    )
    merge(b0, 0)
    merge(b0, 0)  # replay: no duplicate versions
    merge(b1, 1)
    merge(b1, 1)
    got = sorted(map(tuple, spark.read.parquet(target).collect()))

    expected_df = scd2_apply(
        scd2_apply(
            spark.createDataFrame(seed_rows, cols), b0,
            key="id", effective_col="eff", compare_cols=["seg"],
        ),
        b1, key="id", effective_col="eff", compare_cols=["seg"],
    )
    assert got == sorted(map(tuple, expected_df.collect()))
    # id=1 history: A closed at e1, X closed at e2, Y current
    hist1 = sorted(
        (r[1], r[2], r[3], r[4]) for r in got if r[0] == 1
    )
    assert ("A", t0, e1, False) in hist1
    assert ("X", e1, e2, False) in hist1
    assert ("Y", e2, HIGH, True) in hist1
    # live stream path over the same updates lands the same state
    src = str(tmp_path / "updates")
    b0.coalesce(1).write.mode("overwrite").parquet(src)
    target2 = str(tmp_path / "dim2")
    spark.createDataFrame(seed_rows, cols).coalesce(1).write.parquet(target2)
    stream = (
        spark.readStream.schema("id long, seg string, eff timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_ops.stream_scd2(
        stream, target2, str(tmp_path / "chk2"),
        key="id", effective_col="eff", compare_cols=["seg"],
    )
    q.awaitTermination()
    got_live = sorted(map(tuple, spark.read.parquet(target2).collect()))
    one_fold = scd2_apply(
        spark.createDataFrame(seed_rows, cols), b0,
        key="id", effective_col="eff", compare_cols=["seg"],
    )
    assert got_live == sorted(map(tuple, one_fold.collect()))


def test_session_window_live_matches_batch(spark, events_stream_dir):
    """Live session_window aggregation (append mode, watermark-closed
    sessions) must agree with the registered batch twin on every emitted
    session."""
    from repcheck_data_integration_spark.streaming.batch_windows import (
        stream_session_window,
    )

    stream = stream_ops.read_events_stream(spark, events_stream_dir)
    q = stream_ops.run_to_memory(
        stream_ops.session_counts(stream), "session_out"
    )
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM session_out").collect()
    }
    expected = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in stream_session_window(spark, SF).collect()
    }
    assert got, "stream emitted no closed sessions"
    for k, v in got.items():
        assert expected[k] == v, k
    assert len(got) >= len(expected) * 0.5
    q.stop()


def test_stream_stream_left_outer_matches_batch(spark, tmp_path):
    """Left-outer stream-stream join live: matched clicks emit promptly;
    unmatched clicks emit their null-view row only after the watermark
    passes their join window. After a far-future flush event advances the
    watermark, the live output must equal the batch builder over the same
    source — including every null row."""
    import datetime as dt

    src = str(tmp_path / "lo_src")
    ckpt = str(tmp_path / "lo_ckpt")
    out = str(tmp_path / "lo_out")

    def write_batch(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = stream_ops.read_events_stream(spark, src)
        q = (
            stream_ops.click_view_left_outer_join(
                stream.filter(F.col("event_type") == "click"),
                stream.filter(F.col("event_type") == "view"),
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    write_batch(
        [
            (1, t(9, 0), 1, "view", 1.0, "{}"),
            (2, t(9, 3), 1, "click", 1.0, "{}"),   # matches view 1
            (3, t(9, 30), 2, "click", 1.0, "{}"),  # no view -> null row
            (4, t(9, 40), 1, "click", 1.0, "{}"),  # view expired -> null row
        ]
    )
    run_once()
    # flush BOTH streams: the global watermark is the min over the click-
    # and view-side watermark nodes, and each only advances on events its
    # own filtered stream sees — a view-only flush leaves the click-side
    # watermark (hence eviction) stuck. The flush click itself becomes a
    # buffered unmatched row that never expires, so flush user 9 is
    # excluded from the comparison.
    write_batch(
        [
            (99, t(23, 0), 9, "view", 1.0, "{}"),
            (100, t(23, 0), 9, "click", 1.0, "{}"),
        ]
    )
    run_once()
    run_once()  # no-data restart: lets the advanced watermark evict state

    live = {
        (r["user_id"], r["click_id"], r["view_id"])
        for r in spark.read.parquet(out).collect()
        if r["user_id"] != 9
    }
    e = spark.read.parquet(src)
    batch = {
        (r["user_id"], r["click_id"], r["view_id"])
        for r in stream_ops.click_view_left_outer_join(
            e.filter(F.col("event_type") == "click"),
            e.filter(F.col("event_type") == "view"),
        ).collect()
        if r["user_id"] != 9
    }
    assert (1, 2, 1) in batch and (2, 3, None) in batch
    assert live == batch


def test_python_streaming_source_offsets_exact(spark, tmp_path):
    """Spark 4 python streaming data source (SimpleDataSourceStreamReader):
    run a few micro-batches of the synthetic tick source into a memory
    sink; the offset contract must yield every tick exactly once, in
    order, with no gaps or duplicates across batches."""
    import time as _time

    from repcheck_data_integration_spark.sources.pyds import (
        TICKS_PER_BATCH,
        make_tick_source,
    )

    spark.dataSource.register(make_tick_source())
    q = (
        spark.readStream.format("synthetic_ticks")
        .load()
        .writeStream.format("memory")
        .queryName("ticks_out")
        .option(
            "checkpointLocation", str(tmp_path / "ticks_ckpt")
        )
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 60
        want = 3 * TICKS_PER_BATCH
        while _time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM ticks_out").first()["c"] >= want:
                break
            _time.sleep(0.3)
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT tick_id, label, value FROM ticks_out ORDER BY tick_id"
    ).collect()
    n = len(rows)
    assert n >= want
    assert [r["tick_id"] for r in rows] == list(range(n))  # no gaps/dups
    assert all(
        r["label"] == f"tick-{r['tick_id'] % 7}"
        and r["value"] == float(r["tick_id"] % 13)
        for r in rows
    )


def test_stream_dedup_history_incremental_equals_batch(spark, tmp_path):
    """Unbounded-history exact dedup over foreachBatch: three arriving
    file-batches with cross-batch AND in-batch duplicate content must
    produce exactly the batch dedup_exact result (keep-lowest doc_id per
    content hash), and replaying an epoch must be a no-op."""
    from repcheck_data_integration_spark.streaming.stream_ops import (
        make_dedup_merge_batch,
        rollup_applied_epoch,
    )

    src = str(tmp_path / "dd_src")
    ckpt = str(tmp_path / "dd_ckpt")
    target = str(tmp_path / "dd_target")

    def write_batch(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string").parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(make_dedup_merge_batch(target))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch([(1, "alpha"), (2, "beta"), (3, "alpha")])   # in-batch dup
    run_once()
    write_batch([(4, "beta"), (5, "gamma")])                  # cross-batch dup
    run_once()
    write_batch([(6, "gamma"), (7, "delta")])
    run_once()

    got = {
        (r["content_hash"], r["doc_id"])
        for r in spark.read.parquet(target).collect()
    }
    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "beta"),
         (5, "gamma"), (6, "gamma"), (7, "delta")],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    expect = {
        (r["content_hash"], r["doc_id"])
        for r in batch.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }
    assert got == expect and len(got) == 4

    # replay: re-applying the last epoch must change nothing
    ep = rollup_applied_epoch(target)
    before = sorted(got)
    make_dedup_merge_batch(target)(
        spark.createDataFrame([(99, "alpha")], "doc_id long, text string"),
        ep,
    )
    after = sorted(
        (r["content_hash"], r["doc_id"])
        for r in spark.read.parquet(target).collect()
    )
    assert after == before


def test_rollup_run_id_guard_fresh_checkpoint_reused_target(spark, tmp_path):
    """ADVICE r3: epoch ids are monotonic only per checkpoint. If a target
    dir outlives its checkpoint, the NEXT run's epochs restart at 0 and a
    bare epoch compare would silently drop every early batch as a
    'replay'. With run-scoped guards the new run's epoch 0 must FOLD INTO
    the existing rollup — and replays within each run must still skip."""
    target = str(tmp_path / "hourly")
    events = load(spark, SF, "events")
    b0 = events.filter(F.col("event_id") % 2 == 0)
    b1 = events.filter(F.col("event_id") % 2 == 1)

    run_a = stream_ops.make_hourly_merge_batch(target, run_id="ckpt-A")
    run_a(b0, 0)
    once = sorted(map(tuple, spark.read.parquet(target).collect()))
    run_a(b0, 0)  # same-run replay still skips
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == once

    # checkpoint wiped, same target: new run id, epochs restart at 0
    run_b = stream_ops.make_hourly_merge_batch(target, run_id="ckpt-B")
    run_b(b1, 0)  # would be dropped by the old bare-epoch guard
    both = {
        (r["hour"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in spark.read.parquet(target).collect()
    }
    # full fold: equals the single-run rollup over b0+b1
    direct_target = str(tmp_path / "direct")
    stream_ops.make_hourly_merge_batch(direct_target)(events, 0)
    direct = {
        (r["hour"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in spark.read.parquet(direct_target).collect()
    }
    assert both == direct
    # and run B's own replays skip again
    run_b(b1, 0)
    assert {
        (r["hour"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in spark.read.parquet(target).collect()
    } == direct


def test_commit_keeps_one_superseded_version(spark, tmp_path):
    """Concurrent-reader grace: after epoch N commits, epoch N-1's version
    dir must still exist (a reader mid-scan doesn't lose files under it);
    epoch N-2's must be GC'd."""
    import os

    target = str(tmp_path / "hourly")
    merge = stream_ops.make_hourly_merge_batch(target)
    events = load(spark, SF, "events")
    for ep in range(3):
        merge(events.filter(F.col("event_id") % 3 == ep), ep)
    vers = sorted(
        d for d in os.listdir(target + ".versions") if d.startswith("epoch=")
    )
    assert vers == ["epoch=" + "1".zfill(20), "epoch=" + "2".zfill(20)]


def _py_minhash(text: str):
    """Pure-python replica of minhash_signatures' construction (distinct
    word-3-gram shingles, md5 per shingle, min of 8 4-hex-char slices)."""
    import hashlib
    import re

    toks = re.findall(r"[a-z0-9]+", text)
    sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    if not sh:
        return None
    hs = [hashlib.md5(s.encode()).hexdigest() for s in sh]
    return tuple(min(h[4 * j : 4 * j + 4] for h in hs) for j in range(8))


def _py_agree(a, b):
    return sum(x == y for x, y in zip(a, b))


def test_stream_minhash_dedup_incremental_equals_batch(spark, tmp_path):
    """Folding the documents fixture through the incremental LSH dedup in
    three doc_id-ordered micro-batches must equal the batch
    band-components dedup over everything; replaying an epoch is a
    no-op."""
    docs = load(spark, SF, "documents").select("doc_id", "text")
    target = str(tmp_path / "nd")
    merge = stream_ops.make_minhash_dedup_merge_batch(target)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    merge(docs.filter(F.col("doc_id") <= cut1), 0)
    merge(docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)), 1)
    mid = sorted(map(tuple, spark.read.parquet(target)
                     .select("doc_id", "canonical_id").collect()))
    merge(docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)), 1)
    assert sorted(map(tuple, spark.read.parquet(target)
                      .select("doc_id", "canonical_id").collect())) == mid
    merge(docs.filter(F.col("doc_id") > cut2), 2)

    inc = sorted(map(tuple, spark.read.parquet(target)
                     .select("doc_id", "canonical_id").collect()))
    batch = sorted(map(tuple,
                       stream_ops.minhash_components_batch(docs).collect()))
    assert inc == batch


def test_stream_minhash_dedup_collapsed_corpus_salted(spark, tmp_path):
    """Hot-bucket skew guard (round 7, VERDICT r6 #4): a boilerplate-
    collapsed corpus — every doc the SAME text, so every band of every
    doc lands in one bucket, well above CAND_BUCKET_CAP — must still
    (a) produce the exact unsalted candidate pair set through
    dedup.banded_candidates (self-join AND two-frame forms), and
    (b) fold incrementally to the same single cluster as the batch twin.
    Before round 7 the streaming paths used the raw band self-join,
    putting the whole H² bucket on one task."""
    from repcheck_data_integration_spark.operators.dedup import (
        CAND_BUCKET_CAP,
        banded_candidates,
    )

    n = CAND_BUCKET_CAP * 2 + 22  # decisively above the salting threshold
    text = " ".join(f"boiler plate w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(i, text) for i in range(1, n + 1)], ["doc_id", "text"]
    )
    sigs = stream_ops.minhash_signatures(docs)
    bands = stream_ops._sig_bands(sigs)

    # exact pair set despite salting: all n-choose-2 pairs, each once
    pairs = banded_candidates(bands)
    assert pairs.count() == n * (n - 1) // 2

    # two-frame form: batch (first half) probing state (second half)
    lo = bands.filter(F.col("doc_id") <= n // 2)
    hi = bands.filter(F.col("doc_id") > n // 2)
    cross = banded_candidates(lo, right=hi)
    assert cross.count() == (n // 2) * (n - n // 2)

    # incremental fold == batch twin == one cluster, canonical = min id
    target = str(tmp_path / "collapsed")
    merge = stream_ops.make_minhash_dedup_merge_batch(target)
    merge(docs.filter(F.col("doc_id") <= n // 2), 0)
    merge(docs.filter(F.col("doc_id") > n // 2), 1)
    inc = sorted(map(tuple, spark.read.parquet(target)
                     .select("doc_id", "canonical_id").collect()))
    assert inc == [(i, 1) for i in range(1, n + 1)]
    batch = sorted(map(tuple,
                       stream_ops.minhash_components_batch(docs).collect()))
    assert inc == batch


def test_stream_minhash_dedup_retroactive_relabel(spark, tmp_path):
    """A later doc bridging two previously-separate clusters must relabel
    the losing cluster's state rows (union-find semantics) so incremental
    still equals batch. The bridge texts are found by deterministic seed
    search against the exact minhash construction."""
    from repcheck_data_integration_spark.streaming.stream_ops import (
        MIN_MH_MATCH,
    )

    found = None
    for seed in range(200):
        a_txt = " ".join(f"alpha{seed}w{i}" for i in range(25))
        d_txt = " ".join(f"delta{seed}w{i}" for i in range(25))
        e_txt = a_txt + " " + d_txt
        sa, sd, se = map(_py_minhash, (a_txt, d_txt, e_txt))
        if (
            _py_agree(se, sa) >= MIN_MH_MATCH
            and _py_agree(se, sd) >= MIN_MH_MATCH
            and _py_agree(sa, sd) < MIN_MH_MATCH
        ):
            found = (a_txt, d_txt, e_txt)
            break
    assert found, "no bridging seed in 200 tries"
    a_txt, d_txt, e_txt = found

    target = str(tmp_path / "bridge")
    merge = stream_ops.make_minhash_dedup_merge_batch(target)
    b1 = spark.createDataFrame([(1, a_txt), (2, d_txt)], ["doc_id", "text"])
    b2 = spark.createDataFrame([(3, e_txt)], ["doc_id", "text"])
    merge(b1, 0)
    after1 = {
        r.doc_id: r.canonical_id
        for r in spark.read.parquet(target).collect()
    }
    assert after1 == {1: 1, 2: 2}  # separate clusters at first
    merge(b2, 1)
    after2 = {
        r.doc_id: r.canonical_id
        for r in spark.read.parquet(target).collect()
    }
    # E bridges them: doc 2's state row is retroactively relabeled
    assert after2 == {1: 1, 2: 1, 3: 1}
    both = b1.unionByName(b2)
    batch = {
        r.doc_id: r.canonical_id
        for r in stream_ops.minhash_components_batch(both).collect()
    }
    assert after2 == batch


def test_stream_minhash_dedup_order_independent(spark, tmp_path):
    """The fold must equal the batch result in ANY arrival order — a doc
    arriving before the eventual (smaller-id) canonical means the closure
    runs over old-canonical nodes and steals canonical-ship retroactively.
    Fold the fixture in REVERSE doc_id order and compare to batch."""
    docs = load(spark, SF, "documents").select("doc_id", "text")
    target = str(tmp_path / "nd_rev")
    merge = stream_ops.make_minhash_dedup_merge_batch(target)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    merge(docs.filter(F.col("doc_id") > cut2), 0)
    merge(docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)), 1)
    merge(docs.filter(F.col("doc_id") <= cut1), 2)
    inc = sorted(map(tuple, spark.read.parquet(target)
                     .select("doc_id", "canonical_id").collect()))
    batch = sorted(map(tuple,
                       stream_ops.minhash_components_batch(docs).collect()))
    assert inc == batch


def test_stream_histogram_incremental_equals_batch(spark, tmp_path):
    """Folding the events stream through the HDR-histogram maintainer in
    three batches must reproduce the batch bucket table EXACTLY (integer
    mergeability — no sketch drift), and replays must skip."""
    from repcheck_data_integration_spark.operators.aggregates import HDR_SUB

    events = load(spark, SF, "events")
    target = str(tmp_path / "hist")
    merge = stream_ops.make_histogram_merge_batch(target)
    for ep in range(3):
        merge(events.filter(F.col("event_id") % 3 == ep), ep)
    merge(events.filter(F.col("event_id") % 3 == 1), 1)  # replay: no-op

    inc = {
        r.bucket_id: r.cnt for r in spark.read.parquet(target).collect()
    }
    cents = F.greatest(F.round(F.col("value") * 100, 0).cast("long"), F.lit(1))
    full = {
        r.bucket_id: r.n
        for r in events.select(cents.alias("cents"))
        .select("cents", (F.length(F.expr("bin(cents)")) - 1).alias("e"))
        .select(
            "e",
            (
                F.floor(
                    F.col("cents") * HDR_SUB
                    / F.expr("shiftleft(cast(1 as bigint), e)")
                )
                - HDR_SUB
            ).alias("m"),
        )
        .groupBy((F.col("e") * HDR_SUB + F.col("m")).alias("bucket_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert inc == full


def test_stream_curation_incremental_equals_batch(spark, tmp_path):
    """Gate → dedup-vs-history → append folded over three ascending
    batches must equal the batch curation pipeline; replays skip."""
    from repcheck_data_integration_spark.registry import QUERIES

    docs = load(spark, SF, "documents").select("doc_id", "text")
    target = str(tmp_path / "cur")
    merge = stream_ops.make_curation_merge_batch(target)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    merge(docs.filter(F.col("doc_id") <= cut1), 0)
    merge(docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)), 1)
    merge(docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)), 1)
    merge(docs.filter(F.col("doc_id") > cut2), 2)
    inc = sorted(map(tuple, spark.read.parquet(target).select(
        "content_hash", "doc_id", "n_tokens", "sum_w").collect()))
    batch = sorted(map(tuple, QUERIES["stream_curation_pipeline"](
        spark, SF).select(
        "content_hash", "doc_id", "n_tokens", "sum_w").collect()))
    assert inc == batch


def test_stream_attribution_incremental_equals_batch(spark, tmp_path):
    """Incremental linear attribution over three CHRONOLOGICAL
    micro-batches must equal the batch events_attribution_linear rollup
    on the same data (the ordered-arrival contract the watermark
    implies), and replaying the last epoch must be a no-op."""
    from repcheck_data_integration_spark import registry
    from repcheck_data_integration_spark.streaming.stream_ops import (
        make_attribution_merge_batch,
        rollup_applied_epoch,
    )

    registry.load_all_modules()
    target = str(tmp_path / "attr")
    events = load(spark, SF, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    # three event-time-ordered splits (terciles of ts)
    e = events.orderBy("ts", "event_id").collect()
    n = len(e)
    chunks = [e[: n // 3], e[n // 3 : 2 * n // 3], e[2 * n // 3 :]]
    merge = make_attribution_merge_batch(target)
    for i, chunk in enumerate(chunks):
        merge(spark.createDataFrame(chunk, events.schema), i)

    got = {
        r["touch_type"]: (
            r["n_purchases"],
            r["n_credits"],
            r["credited_microcents"],
        )
        for r in spark.read.parquet(target + "_rollup").collect()
    }
    want = {
        r["touch_type"]: (
            r["n_purchases"],
            r["n_credits"],
            r["credited_microcents"],
        )
        for r in registry.QUERIES["events_attribution_linear"](
            spark, SF
        ).collect()
    }
    assert got == want

    # touch state is pruned to the lookback+slack horizon
    touches = spark.read.parquet(target + "_touch")
    mx = touches.agg(F.max(F.col("t_ts").cast("double"))).collect()[0][0]
    mn = touches.agg(F.min(F.col("t_ts").cast("double"))).collect()[0][0]
    assert mx - mn <= 1800 + 600

    # replay: re-applying the final epoch with junk must change nothing
    before = sorted(got.items())
    merge(spark.createDataFrame(chunks[2], events.schema), 2)
    after = sorted(
        (
            r["touch_type"],
            (
                r["n_purchases"],
                r["n_credits"],
                r["credited_microcents"],
            ),
        )
        for r in spark.read.parquet(target + "_rollup").collect()
    )
    assert after == [(k, v) for k, v in before]
