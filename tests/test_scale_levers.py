"""Scale levers: salted aggregation/join equivalence + bucketed joins
actually eliminating the exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from repcheck_data_integration_spark.operators.skew import (
    salted_agg,
    salted_broadcast_join,
)
from repcheck_data_integration_spark.tables import load, load_bucketed

from conftest import SF_SMOKE as SF


def test_salted_agg_matches_plain(spark):
    li = load(spark, SF, "lineitem")
    plain = {
        (r["l_returnflag"],): (r["n"], r["qty"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty"),
        )
        .collect()
    }
    salted = {
        (r["l_returnflag"],): (r["n"], r["qty"])
        for r in salted_agg(
            li.select("l_returnflag", "l_quantity"),
            keys=["l_returnflag"],
            aggs={
                "n": (F.count(F.lit(1)), F.sum("n")),
                "qty": (
                    F.sum(F.round(F.col("l_quantity") * 100).cast("long")),
                    F.sum("qty"),
                ),
            },
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salted_broadcast_join_matches_plain(spark):
    orders = load(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, SF, "customer").select("c_custkey", "c_nationkey")
    plain = sorted(
        map(
            tuple,
            orders.join(
                cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            salted_broadcast_join(
                orders,
                cust.withColumnRenamed("c_custkey", "o_custkey"),
                key="o_custkey",
                n_salts=4,
            ).collect(),
        )
    )
    assert got == plain


def test_bucketed_join_eliminates_exchange(spark):
    """Two tables.load_bucketed layouts on the join key meet in a
    co-located join: no shuffle on either side, and every lineitem row
    finds its order."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_bucketed(spark, SF, "orders", "o_orderkey")
        lineitem = load_bucketed(spark, SF, "lineitem", "l_orderkey")
        j = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        jvm = spark._jvm
        plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        # bucket-aligned scan: the sort-merge join needs no shuffle
        assert "Exchange" not in plan, plan
        assert j.count() == load(spark, SF, "lineitem").count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_partitioned_write_prunes(spark, tmp_path):
    """Date-partitioned layout: a month filter must prune the scan to that
    partition's files (the 100 TB layout for the events table)."""
    out = str(tmp_path / "events_by_month")
    e = load(spark, SF, "events")
    e.withColumn("month", F.date_format("ts", "yyyy-MM")).write.mode(
        "overwrite"
    ).partitionBy("month").parquet(out)
    back = spark.read.parquet(out).filter(F.col("month") == "2024-01")
    jvm = spark._jvm
    plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "month" in plan.split("PartitionFilters")[1][:120]
    assert back.count() == e.filter(F.date_format("ts", "yyyy-MM") == "2024-01").count()


def test_aqe_splits_skewed_join(spark):
    """A join where one key carries ~half the rows: with AQE skew-join
    enabled and thresholds lowered to fixture scale, the final adaptive
    plan must mark the join as skew-handled (isSkew=true) — the runtime
    lever that replaces manual salting for join skew."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.shuffle.partitions": "4",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # left: 50k rows on hot key 0, 50 rows each on keys 1..99
        left = spark.range(0, 55_000).select(
            F.when(F.col("id") < 50_000, 0)
            .otherwise((F.col("id") % 99) + 1)
            .alias("k"),
            F.concat(F.lit("x" * 32), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        # collect the JOIN itself: a downstream agg would veto the split
        # (it breaks the join's output partitioning), and .count() executes
        # a different query than the one whose plan we inspect
        df = left.join(right, "k")
        assert len(df.collect()) == 55_000  # correctness under the split
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injection(spark):
    """Runtime bloom-filter pruning: a selective dim-side filter must inject
    a bloom filter onto the fact side of a shuffle join (the runtime
    row-group skipping lever for fact⋈filtered-dim at 100 TB — the
    application-side threshold is production-sized, so it's zeroed here)."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:1500]
        # and the filtered join still returns the right rows
        n_direct = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert df.count() == n_direct
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_observation_metrics_inline(spark):
    """df.observe + Observation: data-quality metrics (row count, null
    count, exact cents sum) ride the SAME job as the real action — no
    second scan. The lever for 100 TB pipelines that want per-batch DQ
    numbers without doubling I/O."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from repcheck_data_integration_spark.tables import load

    o = load(spark, "/root/testdata/sf0.001", "orders")
    obs = Observation("dq")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_cust"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "cents"
        ),
    )
    # one real action; metrics materialize as a side effect
    n_direct = observed.count()
    m = obs.get
    assert m["n_rows"] == n_direct
    assert m["null_cust"] == 0
    expected_cents = o.select(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
    ).first()[0]
    assert m["cents"] == expected_cents


def test_lsh_hot_bucket_salted_candidates(spark, tmp_path):
    """Adversarial LSH skew (VERDICT r4 #6): 25% of the corpus shares a
    dominant boilerplate, so every minhash of every hot doc comes from
    the shared shingle set and ONE band bucket (per band) collects all
    of them. AQE skew-split cannot help — the bucket's join INPUT is a
    few KB of identical, highly compressible band hashes; the explosion
    is in the OUTPUT (H^2 pairs in one task). banded_candidates() must
    instead salt the hot bucket into g = ceil(H/CAND_BUCKET_CAP) groups
    (left side salted once, right side replicated), keeping the pair set
    exactly the unsalted one while bounding per-task compare work."""
    import time

    from repcheck_data_integration_spark.operators import dedup as D

    n_docs, hot = 800, 200
    assert hot > D.CAND_BUCKET_CAP  # the fixture must actually go hot
    boiler = " ".join(f"boiler{w}" for w in range(30))
    rows = []
    for i in range(n_docs):
        if i < hot:
            text = f"{boiler} unique{i}a unique{i}b"
        else:
            text = " ".join(f"w{i}x{j}" for j in range(30))
        rows.append((i, "en", text))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    t0 = time.time()
    df = D.dedup_minhash_lsh(spark, str(tmp_path))
    out = df.collect()
    wall = time.time() - t0
    # every hot-hot pair is a true near-dup (jaccard ~ 28/36) and must
    # survive the verify stage exactly once — salting must not lose or
    # duplicate pairs
    hot_pairs = {
        (r["doc1"], r["doc2"])
        for r in out
        if r["doc1"] < hot and r["doc2"] < hot
    }
    assert len(hot_pairs) == hot * (hot - 1) // 2
    assert all(d1 < d2 for d1, d2 in hot_pairs)
    # the salted join is IN the executed plan: candidate keys carry the
    # deterministic per-doc salt next to the band keys
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan and "pmod(xxhash64(" in plan, plan[:3000]
    # and the hot bucket really split: g = ceil(H / CAP) > 1 salt groups
    from pyspark.sql import functions as F

    sh = D.with_shingles(
        spark.read.parquet(str(tmp_path / "documents.parquet")).select(
            "doc_id", "text"
        )
    ).select("doc_id", "sh")
    ex = sh.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", F.md5("s").alias("h")
    )
    mh = ex.groupBy("doc_id").agg(
        *[
            F.min(F.substring("h", 1 + 4 * j, 4)).alias(f"mh{j}")
            for j in range(D.N_MINHASH)
        ]
    )
    bands = mh.select(
        "doc_id",
        F.posexplode(D._bands_spark()).alias("band_idx", "band_hash"),
    )
    gmax = (
        bands.groupBy("band_idx", "band_hash")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # the boilerplate bucket collects (nearly) every hot doc — far past
    # the salting trigger (a few hot docs may land elsewhere in a band
    # when their unique tail wins a minhash slot)
    assert gmax > 2 * D.CAND_BUCKET_CAP
    # generous regression backstop for the 10x-probe wall at this shape
    assert wall < 60, f"hot-bucket LSH took {wall:.1f}s"


def test_default_driver_memory_is_quarter_of_host_clamped(monkeypatch):
    """The local driver heap is a quarter of physical memory in whole GB,
    clamped to [1g, 24g]; sizing it starts no JVM."""
    from repcheck_data_integration_spark import session

    gib = 2**30
    for phys, want in [
        (15 * gib + gib // 2, "3g"),  # 15.5 GB host: floor(3.875)
        (16 * gib, "4g"),
        (2 * gib, "1g"),  # a quarter is 0.5 GB: clamped up
        (512 * gib, "24g"),  # a quarter is 128 GB: clamped down
    ]:
        sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys // 4096}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
        assert session.default_driver_memory() == want, phys
