"""Fixture-table loaders (driver test data, TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/pruning into it.

    ``events.ts`` is TIMESTAMP(NANOS) in the fixture parquet, which Spark's
    TimestampType (micros) rejects; read it as long nanos and truncate to
    micros with integer division (double division would lose precision at
    2^60). DuckDB oracles mirror this with ``CAST(ts AS TIMESTAMP)``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _ntz_to_ltz(df)
    return _ntz_to_ltz(spark.read.parquet(path))


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP_LTZ at the scan.

    A session WITHOUT ``inferTimestampNTZ=false`` (the driver's) reads the
    fixture's nano timestamps as TIMESTAMP_NTZ, on which ``cast(ts as
    double)`` / ``unix_timestamp`` either fail (CAST_WITHOUT_SUGGESTION) or
    silently change meaning — the round-3 win_session_features crash.
    Casting once here (session TZ is UTC on both the builder's and the
    driver's sessions, verified by r3's epoch-hash-matched window queries)
    makes every downstream operator session-agnostic.
    """
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Bucket count for the co-located fact layout. 32 matches the local test
# parallelism; on a real cluster this is table DDL (Hive bucketing /
# Iceberg-Delta clustering) and the count is sized to executors.
BUCKETS_N = int(os.environ.get("SPARK_GRAFT_BUCKETS", "32"))

# Harnesses that monkeypatch load() (tools/scale_probe.py feeds scaled
# unions through the same sf_dir) must set this so the bucketed-table
# cache key reflects the IMPERSONATED content, not just the raw file
# fingerprint — otherwise a 10x probe run reuses the 1x buckets.
LAYOUT_SALT = ""


def literal_frame(spark: SparkSession, rows, schema_ddl: str) -> DataFrame:
    """``spark.createDataFrame(rows, ddl)`` twin that yields a
    LocalRelation instead of a LogicalRDD leaf (round-10, VERDICT r9 #5):
    PySpark's createDataFrame always routes driver-local lists through an
    RDD, and the resulting LogicalRDD is INDISTINGUISHABLE from a
    localCheckpoint's lineage truncation — so every literal grid/alphabet
    frame showed up in tools/window_audit.py as an unauditable leaf even
    though nothing can hide upstream of a Python list. A parameterized
    VALUES query binds the same data as literals (LocalRelation after
    constant folding; None/quotes handled by the parameter layer, never
    string interpolation), leaving the audit's leaf count to mean only
    "real lineage truncation".

    Empty ``rows`` and multi-row lists both work; column types come from
    the DDL via explicit casts so e.g. int Python values land as the
    declared LONG/DOUBLE exactly like createDataFrame's schema path."""
    cols = []
    for part in schema_ddl.split(","):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ))
    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        return spark.sql(f"SELECT {sel}").limit(0)
    args: dict[str, object] = {}
    tuples = []
    for i, row in enumerate(rows):
        ph = []
        for j, v in enumerate(row):
            k = f"p{i}_{j}"
            args[k] = v
            ph.append(f":{k}")
        tuples.append("(" + ", ".join(ph) + ")")
    names = ", ".join(n for n, _ in cols)
    casts = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    return spark.sql(
        f"SELECT {casts} FROM VALUES {', '.join(tuples)} AS t({names})",
        args=args,
    )


def _host_tag() -> str:
    """Short host digest baked into bucketed-table names (ADVICE r7):
    /proc/<pid> liveness is HOST-LOCAL, so on a warehouse dir shared
    across hosts (NFS) one host could reap another live host's tables.
    Names carry the host tag and the GC only reaps entries matching it."""
    import hashlib
    import socket

    return hashlib.md5(socket.gethostname().encode()).hexdigest()[:6]


def _assert_single_file_buckets(location: str) -> None:
    """Raise unless every bucket of the freshly-written table is exactly
    one file (ADVICE r7, medium): session.py turns on the legacy sorted
    bucketed scan, which is only SOUND for single-file buckets — a future
    write that bypasses the repartition-first recipe (or a config like
    spark.sql.files.maxRecordsPerFile splitting files) would make SMJs
    consume unsorted streams as sorted, i.e. silent wrong joins. Cheap
    listdir; on violation the caller drops the table and falls back."""
    import re

    seen: set[str] = set()
    for f in os.listdir(location):
        m = re.match(r"part-\d+-.*_(\d{5})(?:\.|$)", f)
        if m is None:
            continue
        if m.group(1) in seen:
            raise RuntimeError(
                f"bucketed write produced multiple files for bucket "
                f"{m.group(1)} under {location}; sorted bucketed scan "
                f"would be unsound — falling back to raw parquet"
            )
        seen.add(m.group(1))


_FALLBACK_LOGGED: set[str] = set()

# One-time session costs observed at first use, keyed
# "bkt:<sf>/<table>/<key>" (bucketed-layout writes, recorded below) and
# "components:<sf>" (ckpt.shared_components' LSH+CC build). bench.py
# publishes the map as "fixed_costs" in its JSON line (VERDICT r9 #8:
# min-of-N trials exclude the trial-1 builds, so without this field a
# BENCH total silently under-reports real session cost). On a cluster
# these are ingest-DDL costs paid once per table lifetime, not per query
# — which is exactly why they're reported separately from steady state.
FIXED_COSTS: dict[str, float] = {}


def _content_fingerprint(path: str) -> str:
    """Size+mtime digest of the parquet file (or dir of part files).

    The bucketed-table cache key includes this so regenerating a fixture
    IN PLACE (tools/make_scaled_fixtures.py reuses fixed /tmp paths)
    yields a NEW table name instead of silently reusing stale buckets
    (ADVICE r6 on the md5(sf_dir)-only key)."""
    import hashlib

    h = hashlib.md5()
    if os.path.isdir(path):
        for root, _, files in sorted(os.walk(path)):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                h.update(f"{f}:{st.st_size}:{st.st_mtime_ns};".encode())
    else:
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    h.update(path.encode())
    return h.hexdigest()[:10]


def load_bucketed(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """``load()`` through a bucketed+sorted warehouse materialization.

    The table is written ONCE per (session, source content) bucketed by
    ``key`` into ``BUCKETS_N`` buckets; subsequent reads report
    ``outputPartitioning = HashPartitioning(key)`` so orderkey-aligned
    fact-fact joins and key-clustered aggregates run with ZERO shuffle
    exchanges (tools/bucketed_probe.py: the q5 join kernel 9.05 s ->
    1.62 s at sf10 with Exchange 1 -> 0). Content-neutral: all columns,
    all rows — the DuckDB oracle twins keep reading the raw parquet.

    The write repartitions by the bucket key FIRST so every bucket is
    exactly ONE file: Spark only trusts a bucketed table's sortBy
    metadata (outputOrdering) when each selected bucket maps to a single
    file — with the naive write every input task emits its own file per
    bucket (32 tasks x 32 buckets), the reader sees multi-file buckets,
    discards the sort, and re-sorts both sides inside every SMJ task.
    Measured at sf10: that per-task sort ate most of the exchange win
    (q3 2.9 s multi-file vs 2.0 s single-file; the repartitioned write
    is also ~25% faster — one sorter per bucket instead of 32 spills).

    On a 1000-executor cluster this layer IS the table: facts land
    bucketed/clustered on their join key at ingest and every downstream
    query inherits the exchange-free plan; locally the one-time write
    stands in for that ingest. Falls back to the raw scan if the
    warehouse is not writable (layout is an optimization, never a
    correctness dependency)."""
    import shutil
    from urllib.parse import urlparse

    path = os.path.join(sf_dir, f"{name}.parquet")
    # the table name carries (a) a CONTENT fingerprint so in-place fixture
    # regeneration never reuses stale buckets, and (b) the PID so two
    # concurrent processes sharing a warehouse dir never rmtree/overwrite
    # a location the other is mid-read (measured race: a parallel pytest +
    # gate run threw FAILED_READ_FILE when both claimed the same location;
    # a live concurrent process can never hold OUR pid)
    try:
        tbl = (
            f"bkt_{name}_{key}_{LAYOUT_SALT}{_content_fingerprint(path)}"
            f"_h{_host_tag()}_p{os.getpid()}"
        ).lower()
    except OSError:
        # no physical parquet at that path (e.g. a probe harness feeding
        # synthetic frames through a patched load()) — layout is an
        # optimization, never a dependency
        return load(spark, sf_dir, name)
    import time as _time

    try:
        if not spark.catalog.tableExists(tbl):
            _t0 = _time.time()
            wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
            _gc_dead_bucket_tables(wh)
            # a FRESH session's in-memory catalog doesn't know tables an
            # earlier session (of a dead process that recycled this pid)
            # left in the warehouse dir — clear the orphan location or
            # saveAsTable fails with LOCATION_ALREADY_EXISTS
            shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
            (
                load(spark, sf_dir, name)
                # one write task per bucket -> one FILE per bucket ->
                # the reader honors sortBy (see docstring); repartition's
                # hash is the same murmur3-pmod the bucket spec uses, so
                # task i holds exactly bucket i
                .repartition(BUCKETS_N, F.col(key))
                .write.bucketBy(BUCKETS_N, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(tbl)
            )
            # verify the single-file-per-bucket invariant the sorted
            # bucketed scan depends on (ADVICE r7); drop + fall back if a
            # config (maxRecordsPerFile, speculative dupes) split files
            try:
                _assert_single_file_buckets(os.path.join(wh, tbl))
            except RuntimeError:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
                shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
                raise
            FIXED_COSTS[
                f"bkt:{os.path.basename(sf_dir.rstrip('/'))}/{name}/{key}"
            ] = round(_time.time() - _t0, 3)
        return spark.table(tbl)
    except Exception as exc:
        # layout is an optimization, never a correctness dependency — but
        # a silent fallback hides real layout regressions (ADVICE r7):
        # log once per table so gate/bench output shows the degradation
        if tbl not in _FALLBACK_LOGGED:
            _FALLBACK_LOGGED.add(tbl)
            print(
                f"[tables] load_bucketed({name}, {key}) fell back to raw "
                f"scan: {type(exc).__name__}: {exc}",
                flush=True,
            )
        return load(spark, sf_dir, name)


_GC_DONE = False


def _gc_dead_bucket_tables(warehouse: str) -> None:
    """Delete bkt_* table locations left by DEAD processes.

    Every process writes its bucketed materializations under its own
    _p{pid} suffix (live-concurrency safety) and drops nothing at exit —
    without a sweep the warehouse grows by a full fact-table copy per
    gate/bench/test process (measured: 7.2 GB after one local round).
    A location whose pid no longer exists can have no reader, so the
    first load_bucketed of each process reaps them. Runs once."""
    global _GC_DONE
    if _GC_DONE:
        return
    _GC_DONE = True
    import re
    import shutil

    try:
        entries = os.listdir(warehouse)
    except OSError:
        return
    host = _host_tag()
    for d in entries:
        m = re.fullmatch(r"bkt_.*_h([0-9a-f]{6})_p(\d+)", d)
        if m:
            # /proc liveness is host-local (ADVICE r7): only reap entries
            # THIS host wrote; another host's live pids are invisible here
            if m.group(1) != host:
                continue
            if int(m.group(2)) != os.getpid() and not os.path.exists(
                f"/proc/{m.group(2)}"
            ):
                shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)
            continue
        m = re.fullmatch(r"bkt_.*_p(\d+)", d)
        if m:
            # pre-round-8 names (no host tag): keep the original pid rule —
            # a long-lived older process may still be reading its tables
            if int(m.group(1)) != os.getpid() and not os.path.exists(
                f"/proc/{m.group(1)}"
            ):
                shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)
            continue
        # legacy names no current code path ever reads again: pid-less
        # bkt_* (pre-round-7 load_bucketed) and the old snk_bucketed_join
        # li_bkt_/orders_bkt_ + md5(sf_dir)[:8] tables
        if re.fullmatch(r"(bkt_.*|(li|orders)_bkt_[0-9a-f]{8})", d):
            shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)
