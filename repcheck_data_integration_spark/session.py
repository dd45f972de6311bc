"""SparkSession builder.

Local test profile runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores)
with shuffle partitions sized to cores rather than the 200 default; at
cluster scale the same builder is used with ``master`` unset so the submitter
decides. AQE is always on: it gives runtime join re-selection, partition
coalescing and skew-join splitting, which is the behaviour we want at 100 TB
where static planning can't see skew.

The codegen cache is sized to the working set. Spark keeps every compiled
generated class in one JVM-wide cache keyed by its source text, and a
query that finds its classes there skips Janino. At the default 100
entries nothing survives a pass: one pass of the ``plans.pipelines``
lifecycle generates ~165 classes and recompiled all of them each time
(164-169 compiles, ~2 s of compile time per pass on a 4-core host), and
one gate run over all 439 registered queries generates 6,249 distinct
classes but compiled 9,288. 8192 entries hold a gate run plus a lifecycle
pass, with room for the cache's per-segment LRU (Guava splits it into
four segments that evict apart). The cost is metaspace, ~8 KB per
retained class: a gate run ended at 256 MB metaspace and 33 MB class
space against 206 MB and 26 MB at 100 entries.

The local driver heap defaults to a quarter of the host's physical memory
(``default_driver_memory``): a fixed 24g exceeded a 15 GB host, and two
gates run side by side got one JVM OOM-killed. ``SPARK_GRAFT_DRIVER_MEM``
overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """``spark.driver.memory`` for a local session: a quarter of physical
    memory in whole GB, clamped to [1g, 24g]."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24, max(1, phys // 4 // 2**30))}g"


def get_spark(
    app_name: str = "repcheck_spark",
    shuffle_partitions: int | None = None,
    local: bool = True,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = f"local[{cpus}]" if (local and cpus) else ("local[*]" if local else None)
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    b = (
        SparkSession.builder.appName(app_name)
        # shuffle partitions ~ cores locally; AQE coalesces further at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # deterministic oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas_udf / toPandas round trips.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # static: sized from the measured working set (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # parquet ns timestamps in the fixtures; read as micros deterministically
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # honor a bucketed table's sortBy metadata on scan (Spark 3.1+
        # turned this off by default — SPARK-33402 — because multi-file
        # buckets can't guarantee order; tables.load_bucketed writes
        # exactly ONE file per bucket, which is the case the flag is
        # sound for). With it, the SMJ above a bucketed fact-fact join
        # consumes pre-sorted streams: no Exchange AND no per-task Sort
        # (q3 at sf10: 1.5 s -> 1.1 s on top of the exchange win).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # Runtime bloom-filter join reduction (round 8): Spark's
        # InjectRuntimeFilter ships ON but gated by thresholds sized for
        # clusters — application side must SCAN >10 GB and the creation
        # side must estimate <10 MB, so the filter never fired here even
        # though it is exactly DuckDB's dynamic join-filter pushdown
        # (the single biggest remaining q5 gap). Local re-gating:
        # application side >512 MB (sf0.1's ~30-60 MB scans stay below —
        # the bench path is untouched; the sf10 fact scans qualify) and
        # creation side <256 MB (q5's filtered orders⋈customer build
        # estimates ~100 MB). Injection still requires a selective
        # predicate on the creation side, so unfiltered fact-fact joins
        # (dq_fk edges) are not taxed. Measured at sf10, same session
        # back-to-back: q5 6.5 s -> 3.8 s. Content-neutral (the bloom is
        # a pre-filter; the exact join removes false positives).
        .config(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "512MB",
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "256MB",
        )
    )
    if master:
        b = b.master(master)
        b = b.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # autoBroadcastJoinThreshold stays at the 10m DEFAULT: measured
        # both ways at the sf1/sf10 probes — 64m helped q5 marginally
        # (5.87s -> 5.42s at sf10) but regressed q3 2x at sf1 (0.70s ->
        # 1.53s: Catalyst's post-filter size estimate let a 1.4M-row
        # orders side onto the broadcast build path). A static threshold
        # is scale-brittle; the conservative default plus AQE's runtime
        # re-selection is the right posture at every SF.
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
