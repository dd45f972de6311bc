"""Live Structured Streaming surface (SURVEY.md §2.9).

The reference's incremental contract is "re-run the batch, keyed upsert
makes it idempotent" (/root/reference/scripts/database/database.py:52-73).
Here that becomes real incremental processing:

- file-source readStream over the events fixture (at scale: Kafka/queue),
- watermarked tumbling-window aggregation (late data dropped after 10 min),
- dropDuplicates within the watermark,
- foreachBatch epoch folds: every state maintainer (keyed upsert,
  rollups, SCD2, history dedup, sketches, attribution) folds each
  micro-batch into its parquet state through one replay guard → prior
  read → fold → atomic epoch commit (fold_epoch), so an at-least-once
  replay applies once — the streaming twin of the reference's re-runnable
  upsert.

All exercised synchronously in tests via availableNow/processAllAvailable
with a memory sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.exact import scaled_long

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over parquet events (ts pre-converted to micros —
    the fixture's ns timestamps don't fit TimestampType, so stream from a
    converted copy, see tests)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .load(path)
    )


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counts — append-mode safe."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Drop duplicate (user_id, event_type) pairs arriving within the
    watermark — bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        ["user_id", "event_type"]
    )


def run_to_memory(df: DataFrame, name: str) -> StreamingQuery:
    """Drive a streaming frame to completion synchronously (test harness)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# Epoch-fold sink: the one guard → prior → fold → commit of every maintainer
# ---------------------------------------------------------------------------

def rollup_applied_epoch(target_path: str, run_id: str | None = None) -> int:
    """Last epoch applied to the rollup at ``target_path`` (-1 if none).
    The symlink's target name carries the epoch — the marker and the data
    commit in the same atomic rename, so they can never disagree.

    ``run_id`` guards against a REUSED target dir with a FRESH checkpoint:
    epoch ids are monotonic only per checkpoint, so after a checkpoint
    reset epochs restart at 0 and a bare epoch compare would silently skip
    every early batch as a "replay". When the recorded run id differs from
    the caller's, nothing from THIS run has been applied → -1 (the batch
    folds into the existing state and re-stamps the run id)."""
    if run_id is not None:
        marker = os.path.join(target_path + ".versions", "_run_id")
        try:
            with open(marker) as fh:
                if fh.read().strip() != run_id:
                    return -1
        except OSError:
            return -1
    if os.path.islink(target_path):
        base = os.path.basename(os.readlink(target_path))
        if base.startswith("epoch="):
            return int(base.split("=", 1)[1])
    return -1


# superseded versions kept per target: one epoch of grace so a concurrent
# reader mid-scan on the just-superseded version doesn't lose files under
# it (the single-writer foreachBatch itself never needs more than 0).
KEEP_SUPERSEDED_VERSIONS = 1


def commit_epoch_version(
    target_path: str,
    epoch_id: int,
    df: DataFrame,
    run_id: str | None = None,
) -> None:
    """Write ``df`` as the new state of ``target_path``, stamped with
    ``epoch_id``: parquet into a fresh version dir, atomic symlink swap
    (the commit point — a crash leaves old or new state, never partial),
    then GC of all but the newest ``KEEP_SUPERSEDED_VERSIONS`` superseded
    dirs — readers racing the swap get one full epoch to finish their
    scan. Called only through fold_epoch."""
    import shutil

    versions_root = target_path + ".versions"
    ver_dir = os.path.join(versions_root, f"epoch={epoch_id:020d}")
    df.write.mode("overwrite").parquet(ver_dir)
    if run_id is not None:
        os.makedirs(versions_root, exist_ok=True)
        with open(os.path.join(versions_root, "_run_id"), "w") as fh:
            fh.write(run_id)
    if os.path.exists(target_path) and not os.path.islink(target_path):
        # a plain seed dir: fold_epoch read it as the prior, so its rows
        # are in ver_dir by now
        shutil.rmtree(target_path)
    tmp_link = target_path + ".lnk"
    if os.path.lexists(tmp_link):
        os.remove(tmp_link)
    os.symlink(ver_dir, tmp_link)
    os.replace(tmp_link, target_path)  # atomic swap = commit point
    current = f"epoch={epoch_id:020d}"
    superseded = sorted(
        d for d in os.listdir(versions_root)
        if d.startswith("epoch=") and d != current
    )
    for old in superseded[: max(0, len(superseded) - KEEP_SUPERSEDED_VERSIONS)]:
        shutil.rmtree(os.path.join(versions_root, old), ignore_errors=True)


def fold_epoch(
    target_path: str,
    batch: DataFrame,
    epoch_id: int,
    fold,
    run_id: str | None = None,
) -> None:
    """Fold one micro-batch into the state at ``target_path``: the single
    epoch-fold decision behind every foreachBatch maintainer.

    1. Replay guard: an epoch ≤ the state's applied epoch for this run
       (rollup_applied_epoch) is already in the state — skip it.
    2. Prior state: ``spark.read.parquet(target_path)`` when the path
       exists (a previous epoch's symlink or a plain seed directory), else
       None.
    3. ``fold(batch, prior)`` returns the new state.
    4. commit_epoch_version writes it and swaps the symlink.

    Exactly-once under retries: foreachBatch delivers at least once — a
    micro-batch that fails between the state commit and the checkpoint
    commit is REPLAYED with the same epoch_id, and an additive fold would
    apply its delta twice. The applied epoch rides the state's physical
    layout: each epoch writes ``<target>.versions/epoch=<id>`` and then
    atomically repoints the ``target_path`` symlink (os.replace of a
    symlink is atomic on POSIX — a crash leaves the old or the new state,
    never a partial one), so the marker and the data commit together. A
    plain seed directory is replaced only after the version holding its
    folded rows is written."""
    if epoch_id <= rollup_applied_epoch(target_path, run_id):
        return  # replayed epoch: already folded in
    prior = (
        batch.sparkSession.read.parquet(target_path)
        if os.path.exists(target_path)
        else None
    )
    commit_epoch_version(target_path, epoch_id, fold(batch, prior), run_id)


def fold_merge_batch(target_path: str, fold, run_id: str | None = None):
    """The foreachBatch function that folds every micro-batch into
    ``target_path`` through fold_epoch. ``run_id`` (normally the
    checkpoint location) scopes the replay guard to one stream run."""
    return lambda batch, epoch_id: fold_epoch(
        target_path, batch, epoch_id, fold, run_id
    )


def start_foreach_batch(
    stream: DataFrame, merge, checkpoint: str
) -> StreamingQuery:
    """Run ``merge`` over every micro-batch of ``stream`` as an
    availableNow foreachBatch query checkpointed at ``checkpoint``."""
    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def add_into(
    delta: DataFrame,
    prior: DataFrame | None,
    keys: list[str],
    maxed: tuple[str, ...] = (),
) -> DataFrame:
    """Fold an additive ``delta`` into ``prior`` per ``keys``: every other
    column sums (the ``maxed`` ones take the max), so the state equals the
    aggregate over all batches however the stream was cut. Union then
    re-aggregate — one shuffle with map-side partial sums, NULL keys group
    together as in the delta's own groupBy. Keys come first, then the
    delta's value columns in order; LONG inputs stay LONG."""
    if prior is None:
        return delta
    return (
        delta.unionByName(prior)
        .groupBy(*keys)
        .agg(
            *[
                (F.max if c in maxed else F.sum)(c).alias(c)
                for c in delta.columns
                if c not in keys
            ]
        )
    )


def append_unseen(
    rows: DataFrame, prior: DataFrame | None, key: str
) -> DataFrame:
    """Append to ``prior`` the ``rows`` whose ``key`` it does not hold yet
    (first arrival wins across batches)."""
    if prior is None:
        return rows
    return prior.unionByName(rows.join(prior.select(key), key, "anti"))


def make_upsert_merge_batch(target_path: str, run_id: str | None = None):
    """Keyed upsert of per-user event counts — the streaming twin of the
    reference's re-runnable upsert (snk_upsert's contract): each
    micro-batch's (n_events, last_event_id) per user_id folds into the
    parquet target, counts adding and the last event id taking the max.
    Replay-safe through fold_epoch (with a transactional table format this
    is MERGE INTO; the epoch-versioned parquet keeps the container
    dependency-free)."""

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        delta = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("event_id").alias("last_event_id"),
        )
        return add_into(delta, prior, ["user_id"], maxed=("last_event_id",))

    return fold_merge_batch(target_path, fold, run_id)


def stream_upsert_to_parquet(
    events: DataFrame, target_path: str, checkpoint: str
) -> StreamingQuery:
    """Run make_upsert_merge_batch over an events stream."""
    return start_foreach_batch(
        events,
        make_upsert_merge_batch(target_path, run_id=checkpoint),
        checkpoint,
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    (n_events, total_value) maintained across micro-batches — the
    arbitrary-state surface the built-in windowed aggs can't express
    (e.g. conditional resets, per-key custom logic). State is one small row per
    user; watermark bounds it. Emits the updated running totals for every
    user seen in the batch.

    Note: Spark 4's successor API (transformWithStateInPandas /
    StatefulProcessor — typed value/list/map state, timers) is present in
    this PySpark build but its streaming Python runner needs the
    google.protobuf package, which this container lacks (probed: the
    driver worker exits with STREAMING_PYTHON_RUNNER_INITIALIZATION_
    FAILURE / protobuf ImportError). applyInPandasWithState is the
    dependency-free arbitrary-state surface here; the operator bodies
    port to a StatefulProcessor verbatim where protobuf exists."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        user_id = key[0]
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 2)))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def click_view_interval_join(
    clicks: DataFrame,
    views: DataFrame,
    watermark: str = "10 minutes",
    horizon_expr: str = "INTERVAL 5 MINUTES",
) -> DataFrame:
    """Stream-stream inner join: each click pairs with every same-user view
    in the preceding `horizon`. Both sides carry watermarks and the join
    condition time-bounds click_ts relative to view_ts, so Spark can expire
    buffered state — the canonical bounded-state stream-stream join. Works
    identically on batch frames (used by the batch-oracle twin)."""
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
        v = v.withWatermark("view_ts", watermark)
    return c.join(
        v,
        F.expr(
            "user_id = v_user AND click_ts >= view_ts"
            f" AND click_ts <= view_ts + {horizon_expr}"
        ),
    ).select("user_id", "click_id", "click_ts", "view_id", "view_ts")


def click_view_left_outer_join(
    clicks: DataFrame,
    views: DataFrame,
    watermark: str = "10 minutes",
    horizon_expr: str = "INTERVAL 5 MINUTES",
) -> DataFrame:
    """LEFT-OUTER stream-stream join: clicks WITH a same-user view in the
    preceding horizon pair up immediately; clicks WITHOUT one emit a
    null-view row only once the watermark passes the click's join window
    (Spark must prove no matching view can still arrive before it may emit
    the null). Same bounded-state mechanics as the inner form above — the
    outer side adds the deferred null-emission path, which is the part the
    live parity test pins. Identical builder runs on batch frames for the
    oracle twin."""
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
        v = v.withWatermark("view_ts", watermark)
    return c.join(
        v,
        F.expr(
            "user_id = v_user AND click_ts >= view_ts"
            f" AND click_ts <= view_ts + {horizon_expr}"
        ),
        "leftOuter",
    ).select("user_id", "click_id", "click_ts", "view_id", "view_ts")


def user_stats_tws(events: DataFrame) -> DataFrame:
    """Custom stateful operator on Spark 4's transformWithStateInPandas —
    the successor API to applyInPandasWithState: explicit typed state
    handles (ValueState here), init/close lifecycle, and timer support.
    Maintains per-user (n_events, total_value, max_value) across
    micro-batches and emits the updated row for each user per batch.
    State is O(users); at 100 TB the key space shards across executors
    and RocksDB-backed state stores hold the per-key rows.

    Requires the RocksDB state store provider
    (spark.sql.streaming.stateStore.providerClass) and the protobuf
    package (the TWS state-server protocol) — the live parity test
    skips where protobuf is absent."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n long, total double, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total, mx = (
                self._state.get() if self._state.exists() else (0, 0.0, float("-inf"))
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                mx = max(mx, float(pdf["value"].max()))
            self._state.update((n, total, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                    "max_value": [round(mx, 2)],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            UserStats(),
            outputStructType=(
                "user_id long, n_events long, total_value double,"
                " max_value double"
            ),
            outputMode="Append",
            timeMode="None",
        )
    )


def stream_hourly_rollup(
    events: DataFrame, target_path: str, checkpoint: str
) -> StreamingQuery:
    """Continuous-aggregate maintenance (the hypertable rollup pattern):
    each micro-batch's per-(hour, event_type) partial counts/sums merge
    ADDITIVELY into a parquet rollup table — old + delta, not
    last-writer-wins — so the rollup equals the batch aggregate no matter
    how the stream was chopped into batches. Sums ride scaled integers:
    across arbitrary batch boundaries, double addition would drift,
    integer addition cannot. Daily (or any coarser) rollups re-aggregate
    the hourly table (see daily_from_hourly) instead of rescanning the
    fact stream — the compositional-reaggregation property tested in
    operators/graph.py applies. Exactly-once under replay via fold_epoch."""
    return start_foreach_batch(
        events,
        make_hourly_merge_batch(target_path, run_id=checkpoint),
        checkpoint,
    )


def make_hourly_merge_batch(target_path: str, run_id: str | None = None):
    """The idempotent foreachBatch merge for ``stream_hourly_rollup``
    (module-level so tests can drive epoch replays directly)."""

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        delta = batch.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(scaled_long(F.col("value"), 100)).alias(
                "value_cents"
            ),
        )
        return add_into(delta, prior, ["hour", "event_type"])

    return fold_merge_batch(target_path, fold, run_id)


def make_scd2_merge_batch(
    target_path: str,
    key: str,
    effective_col: str,
    compare_cols: list[str],
    run_id: str | None = None,
):
    """Idempotent foreachBatch maintainer for an SCD2 dimension: each
    micro-batch of keyed updates folds into the versioned dimension with
    the SAME ``scd2_apply`` the batch operator uses (operators/temporal.py)
    — incremental maintenance equals re-running batch SCD2 over the update
    stream in epoch order, asserted in tests. The seed dimension must
    already sit at ``target_path`` (plain parquet dir or a previous run's
    symlink); without one the fold raises ``ValueError``."""
    from pyspark.sql import Window as W

    from ..operators.temporal import scd2_apply

    def fold(batch: DataFrame, dim: DataFrame | None) -> DataFrame:
        if dim is None:
            raise ValueError(f"no seed dimension at {target_path}")
        # one update per key per epoch: micro-batch semantics keep the
        # LATEST effective state (intermediate same-batch states are
        # skipped, like any snapshot-based CDC fold); deterministic
        # tie-break through the compare columns
        w = W.partitionBy(key).orderBy(
            F.col(effective_col).desc(),
            *[F.col(c).desc_nulls_last() for c in compare_cols],
        )
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return scd2_apply(
            dim, latest, key=key, effective_col=effective_col,
            compare_cols=compare_cols,
        )

    return fold_merge_batch(target_path, fold, run_id)


def stream_scd2(
    updates: DataFrame,
    target_path: str,
    checkpoint: str,
    key: str,
    effective_col: str,
    compare_cols: list[str],
) -> StreamingQuery:
    """Continuous SCD2 dimension maintenance (make_scd2_merge_batch over an
    updates stream): each micro-batch closes/opens versions incrementally —
    the streaming twin of snk_scd2, no dimension rescan beyond the current
    state."""
    return start_foreach_batch(
        updates,
        make_scd2_merge_batch(
            target_path, key, effective_col, compare_cols, run_id=checkpoint
        ),
        checkpoint,
    )


def daily_from_hourly(spark: SparkSession, hourly_path: str) -> DataFrame:
    """Coarser rollup from the maintained hourly aggregate — never rescans
    the raw stream. Counts and scaled sums are algebraic, so this equals
    the direct daily aggregate exactly."""
    return (
        spark.read.parquet(hourly_path)
        .groupBy(
            F.date_trunc("day", "hour").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
        )
    )


def session_counts(
    events: DataFrame, gap_s: int = 300, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked SESSION-window counts per user (append-mode safe): the
    live form of the registered stream_session_window batch twin — same
    gap, same (user_id, session_start, n_events) output, so the
    batch/stream parity test can compare them row-for-row. Session state
    is bounded by the watermark: a session closes once the watermark
    passes its gap-extended end, which is exactly when append mode emits
    it."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_s} seconds").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.floor(F.unix_timestamp("w.start")).alias("session_start"),
            "n_events",
        )
    )


def make_dedup_merge_batch(target_path: str, run_id: str | None = None):
    """Incremental EXACT DEDUP AGAINST ALL HISTORY — the production
    complement to dropDuplicates-within-watermark (whose state is
    watermark-bounded): each micro-batch keeps only content hashes never
    seen in any earlier batch, by anti-joining the batch against the
    accumulated seen-set and committing seen-set + survivors through
    fold_epoch (replayed epochs skip, a crash leaves old or new state,
    never partial).

    At 100 TB the seen-set is a content-hash-bucketed table and the
    anti-join is hash-partition-local; here it is the version-dir parquet
    commit_epoch_version maintains. In-batch duplicates resolve to the
    lowest doc_id (same keep-lowest rule as dedup_exact)."""

    def fold(batch: DataFrame, seen: DataFrame | None) -> DataFrame:
        first_in_batch = (
            batch.select("doc_id", F.md5("text").alias("content_hash"))
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        return append_unseen(first_in_batch, seen, "content_hash")

    return fold_merge_batch(target_path, fold, run_id)


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH NEAR-dup dedup against all history
# ---------------------------------------------------------------------------

# signature-agreement verify: candidate pairs (from band collisions) are
# near-dups when >= MIN_MH_MATCH of the N_MINHASH minhashes agree — the
# streaming-budget stand-in for the batch op's exact-jaccard verify, chosen
# so per-doc state is O(1) (8 fixed-width minhashes), never the shingle set.
MIN_MH_MATCH = 4  # of N_MINHASH=8 → estimated jaccard >= 0.5


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7) minhash signatures — the same construction as
    dedup_minhash_lsh (operators/dedup.py): distinct word-3-gram shingles,
    md5 per shingle, per-doc min of 8 seeded 4-hex-char slices. Docs too
    short to shingle are absent (they can never near-dup)."""
    from ..operators.dedup import minhash_mins, with_shingles

    sh = with_shingles(docs.select("doc_id", "text")).select("doc_id", "sh")
    ex = sh.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", F.md5("s").alias("h")
    )
    # long-buffered mins (HashAggregate, not SortAggregate) with the
    # bit-identical hex reconstruction — see operators/dedup.minhash_mins
    return minhash_mins(ex)


def _sig_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) from a signature frame."""
    from ..operators.dedup import _bands_spark

    return sigs.select(
        "doc_id", F.posexplode(_bands_spark()).alias("band_idx", "band_hash")
    )


def _mh_agreement(a_prefix: str, b_prefix: str):
    from ..operators.dedup import N_MINHASH

    agree = None
    for j in range(N_MINHASH):
        term = (
            F.col(f"{a_prefix}.mh{j}") == F.col(f"{b_prefix}.mh{j}")
        ).cast("int")
        agree = term if agree is None else agree + term
    return agree


def make_minhash_dedup_merge_batch(target_path: str, run_id: str | None = None):
    """Incremental NEAR-dup dedup against ALL history — the LSH companion
    to make_dedup_merge_batch's exact-hash form: each micro-batch's docs
    are banded and equi-joined against the accumulated signature table,
    verified by minhash agreement (>= MIN_MH_MATCH of N_MINHASH), closed
    transitively within the batch (min-label propagation), and folded into
    the state with UNION-FIND-STYLE RETROACTIVE RELABELING: when one new
    doc bridges two previously-separate clusters, every state row of the
    higher canonical is rewritten to the lower one — so the incremental
    fold equals running the batch band-components dedup over everything
    seen, in any batch split AND any arrival order (asserted in
    tests, including reverse-order folding where a later, smaller-id doc
    steals canonical-ship from an already-committed cluster).

    State per doc: 8 fixed-width minhashes + canonical id — O(1), never
    the shingle set. At 100 TB the state is a signature table hash-
    partitioned on band keys; candidate generation is the same bucketed
    equi-join as the batch op, cost ∝ colliding pairs, no n² anywhere.
    Docs too short to shingle are kept verbatim and excluded from state
    (they can never collide)."""
    from ..operators.dedup import banded_candidates, connected_components

    def fold(batch: DataFrame, state: DataFrame | None) -> DataFrame:
        sigs = minhash_signatures(batch).localCheckpoint(eager=True)
        bands = _sig_bands(sigs)

        # within-batch verified pairs → transitive components. Round 7
        # (VERDICT r6 #4): candidates come from the SALTED bucket join the
        # batch family uses — the raw band self-join put a collapsed
        # corpus's whole hot bucket on one task.
        cand = banded_candidates(bands)
        sa = sigs.alias("sa")
        sb = sigs.alias("sb")
        verified = (
            cand.join(sa, F.col("doc1") == F.col("sa.doc_id"))
            .join(sb, F.col("doc2") == F.col("sb.doc_id"))
            .filter(_mh_agreement("sa", "sb") >= MIN_MH_MATCH)
            .select("doc1", "doc2")
        )
        if state is not None:
            sbands = _sig_bands(state)
            # batch-probes-state collisions through the same salted path
            # (two-frame form): the left/batch side keys the salt split,
            # the state side replicates per salt — a hot band bucket in
            # unbounded history can't serialize one task
            ext_cand = banded_candidates(bands, right=sbands).select(
                F.col("doc1").alias("doc_id"),
                F.col("doc2").alias("old_id"),
            )
            so = state.alias("so")
            # EVERY (batch doc, external canonical) verified link — the
            # remap below needs all of them, not just the per-doc winner
            ext_all = (
                ext_cand.alias("ec")
                .join(sa, F.col("ec.doc_id") == F.col("sa.doc_id"))
                .join(so, F.col("ec.old_id") == F.col("so.doc_id"))
                .filter(_mh_agreement("sa", "so") >= MIN_MH_MATCH)
                .select(
                    F.col("ec.doc_id").alias("doc_id"),
                    F.col("so.canonical_id").alias("cand_canon"),
                )
                .distinct()
            )
        else:
            ext_all = verified.select(
                F.col("doc1").alias("doc_id"),
                F.lit(None).cast("long").alias("cand_canon"),
            ).filter(F.lit(False))

        # ONE closure over the combined graph: within-batch verified pairs
        # PLUS (batch doc → external canonical) links. Old canonical ids
        # participate as nodes, which (a) unifies batch components that are
        # connected only THROUGH a shared old cluster, and (b) makes the
        # component label the min over old+new ids — so the fold equals the
        # batch result regardless of arrival order, not just ascending.
        edges = verified.unionByName(
            ext_all.select(
                F.col("doc_id").alias("doc1"),
                F.col("cand_canon").alias("doc2"),
            )
        )
        comp = connected_components(edges).select(
            F.col("node").alias("doc_id"), F.col("component").alias("comp")
        )
        assign = (
            sigs.select("doc_id")
            .join(comp, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("comp"), F.col("doc_id")).alias(
                    "canonical_id"
                ),
            )
        )
        new_rows = sigs.join(assign, "doc_id")

        if state is not None:
            # retroactive relabel (union-find): every OLD canonical whose
            # node landed in a component with a smaller label is rewritten
            remap = (
                ext_all.select(F.col("cand_canon").alias("from_c"))
                .distinct()
                .join(comp, F.col("from_c") == F.col("doc_id"))
                .filter(F.col("comp") != F.col("from_c"))
                .select("from_c", F.col("comp").alias("to_c"))
            )
            state2 = (
                state.join(
                    remap, state.canonical_id == remap.from_c, "left"
                )
                .select(
                    *[F.col(c) for c in state.columns if c != "canonical_id"],
                    F.coalesce(F.col("to_c"), F.col("canonical_id")).alias(
                        "canonical_id"
                    ),
                )
            )
            return state2.unionByName(new_rows.select(*state.columns))
        return new_rows

    return fold_merge_batch(target_path, fold, run_id)


def minhash_components_batch(docs: DataFrame) -> DataFrame:
    """The batch twin the incremental fold must equal: band-collision
    candidates over ALL docs (through dedup.banded_candidates — the
    SALTED bucket join, round 7 / VERDICT r6 #4: the raw self-join here
    re-exposed the hot-bucket skew the batch family had already fixed),
    minhash-agreement verify, connected components, canonical = min
    doc_id per component (docs too short to shingle are absent, as in
    the incremental state). Returns (doc_id, canonical_id)."""
    from ..operators.ckpt import pin
    from ..operators.dedup import banded_candidates, connected_components

    # pin, not bare localCheckpoint (round-10, VERDICT r9 #5): sigs is a
    # build-time multi-branch pin (bands + both verify sides + the final
    # doc list read it), so PLAN_ONLY audits must see the minhash subtree
    # instead of an opaque leaf — only the CC loop's label frames remain
    # lineage-truncated, and those are covered by the one-round audit
    # hook (operators/audit_hooks.py).
    sigs = pin(minhash_signatures(docs))
    bands = _sig_bands(sigs)
    cand = banded_candidates(bands)
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    verified = (
        cand.join(sa, F.col("doc1") == F.col("sa.doc_id"))
        .join(sb, F.col("doc2") == F.col("sb.doc_id"))
        .filter(_mh_agreement("sa", "sb") >= MIN_MH_MATCH)
        .select("doc1", "doc2")
    )
    comp = connected_components(verified).select(
        F.col("node").alias("doc_id"), F.col("component").alias("comp")
    )
    return (
        sigs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental HDR quantile histogram (mergeable sketch, streaming leg)
# ---------------------------------------------------------------------------

def make_histogram_merge_batch(target_path: str, run_id: str | None = None):
    """Incremental maintainer for agg_quantile_histogram's HDR bucket
    table over the events value stream: each micro-batch's bucket partials
    ADD into the state — the whole point of an integer-bucketed mergeable
    sketch is that this fold is exact, so incremental quantiles equal the
    batch sketch over all history bit-for-bit (asserted in tests), unlike
    t-digest/GK merges which drift. State size = touched buckets (a few
    hundred rows), independent of stream length."""
    from ..operators.aggregates import HDR_SUB

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        cents = F.greatest(
            scaled_long(F.col("value"), 100), F.lit(1)
        )
        b = batch.select(cents.alias("cents")).select(
            "cents",
            (F.length(F.expr("bin(cents)")) - 1).alias("e"),
        ).select(
            "e",
            (
                F.floor(
                    F.col("cents") * HDR_SUB
                    / F.expr("shiftleft(cast(1 as bigint), e)")
                )
                - HDR_SUB
            ).alias("m"),
        )
        delta = b.groupBy(
            (F.col("e") * HDR_SUB + F.col("m")).alias("bucket_id")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        return add_into(delta, prior, ["bucket_id"])

    return fold_merge_batch(target_path, fold, run_id)


# ---------------------------------------------------------------------------
# Incremental corpus curation (gate → dedup-vs-history → append)
# ---------------------------------------------------------------------------

def make_curation_merge_batch(target_path: str, run_id: str | None = None):
    """Incremental CORPUS CURATION — the production crawl-ingest shape:
    each micro-batch of raw documents is (1) quality-gated by the
    hashed-feature classifier (integer logit >= 0, the
    text_classifier_score kernel), (2) exact-deduped WITHIN the batch
    (keep lowest doc_id per content hash), (3) anti-joined against the
    accumulated kept-corpus state so nothing already kept re-enters, and
    (4) appended through fold_epoch's atomic commit. First arrival
    wins across batches (with ascending doc_id batches this equals the
    batch pipeline's keep-lowest rule — asserted in tests).

    At 100 TB: the state is a content-hash-bucketed table, the anti-join
    is hash-partition-local, the gate is in-row integer arithmetic on the
    same scan that hashes the text — one shuffle per batch (the hash
    groupBy), state grows only by kept docs."""
    from ..operators.textstats import qc_sum_w
    from ..operators.dedup import tokens

    def fold(batch: DataFrame, state: DataFrame | None) -> DataFrame:
        toks = tokens(F.col("text"))
        gated = (
            batch.select(
                "doc_id",
                F.md5("text").alias("content_hash"),
                F.size(toks).cast("long").alias("n_tokens"),
                qc_sum_w(toks).alias("sum_w"),
            )
            .filter((F.col("n_tokens") > 0) & (F.col("sum_w") >= 0))
        )
        first = gated.groupBy("content_hash").agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
            F.min_by("sum_w", "doc_id").alias("sum_w"),
        )
        return append_unseen(first, state, "content_hash")

    return fold_merge_batch(target_path, fold, run_id)


# --- incremental linear attribution ----------------------------------------

ATTR_LATE_SLACK_S = 600  # touch-history retention beyond the lookback


def make_attribution_merge_batch(
    target_path: str, run_id: str | None = None
):
    """Idempotent foreachBatch maintainer for LINEAR multi-touch
    attribution — the streaming twin of events_attribution_linear
    (batch_windows.py): each micro-batch's purchases are credited against
    the accumulated TOUCH HISTORY (plus the batch's own touches), the
    per-channel rollup folds additively (counts and integer micro-cents —
    purchases are processed exactly once, so even the distinct-purchase
    count adds), and the touch history is pruned to the lookback window
    plus {ATTR_LATE_SLACK_S}s of lateness slack, so state is bounded by
    event-rate × window, never by history length.

    Contract (same as the watermark's): batches must arrive in event-time
    order up to the slack — a touch arriving later than slack after a
    purchase it should have credited is dropped, exactly as a watermarked
    interval join would drop it. Under ordered replay the final rollup
    equals the batch operator's output, asserted in tests.

    Two state components (``<target>_rollup``, ``<target>_touch``), each
    folded through fold_epoch (epoch-stamped and run-scoped
    independently). The rollup commits first, inside the touch fold, and
    credits against the PREVIOUS touch state, so a crash between the two
    commits replays consistently (the rollup skips its applied epoch, the
    touch state re-commits the same value)."""
    from pyspark.sql.window import Window as W

    from .batch_windows import ATTR_WINDOW_S

    rollup_t = target_path + "_rollup"
    touch_t = target_path + "_touch"

    def credit_delta(batch: DataFrame, hist: DataFrame) -> DataFrame:
        p = batch.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            scaled_long(F.col("value"), 100).alias("cents"),
        )
        before = (F.col("t_ts") < F.col("p_ts")) | (
            (F.col("t_ts") == F.col("p_ts"))
            & (F.col("t_id") < F.col("p_id"))
        )
        age_ok = (
            F.col("p_ts").cast("double") - F.col("t_ts").cast("double")
        ) <= ATTR_WINDOW_S
        j = p.join(
            hist,
            (F.col("user_id") == F.col("t_user")) & before & age_ok,
            "left",
        )
        c = j.select(
            "p_id",
            "cents",
            "t_id",
            F.coalesce(F.col("t_type"), F.lit("organic")).alias(
                "touch_type"
            ),
        ).withColumn(
            "n_touches", F.count("t_id").over(W.partitionBy("p_id"))
        )
        credit = F.when(
            F.col("t_id").isNull(), F.col("cents") * 1000000
        ).otherwise(F.expr("(cents * 1000000L) div n_touches"))
        return (
            c.select("p_id", "touch_type", credit.alias("credit"))
            .groupBy("touch_type")
            .agg(
                F.countDistinct("p_id").alias("n_purchases"),
                F.count(F.lit(1)).alias("n_credits"),
                F.sum("credit").alias("credited_microcents"),
            )
        )

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        def fold_touch(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
            b_touch = batch.filter(
                F.col("event_type").isin("click", "view")
            ).select(
                F.col("event_id").alias("t_id"),
                F.col("user_id").alias("t_user"),
                F.col("ts").alias("t_ts"),
                F.col("event_type").alias("t_type"),
            )
            hist = b_touch if prior is None else prior.unionByName(b_touch)
            fold_epoch(
                rollup_t,
                batch,
                epoch_id,
                lambda b, rollup: add_into(
                    credit_delta(b, hist), rollup, ["touch_type"]
                ),
                run_id,
            )
            horizon = hist.agg(F.max("t_ts").alias("mx"))
            return hist.join(F.broadcast(horizon)).filter(
                F.col("t_ts").cast("double")
                >= F.col("mx").cast("double")
                - (ATTR_WINDOW_S + ATTR_LATE_SLACK_S)
            ).drop("mx")

        fold_epoch(touch_t, batch, epoch_id, fold_touch, run_id)

    return merge_batch
