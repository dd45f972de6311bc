"""Tests for the shapefile decoder and acquisition utilities."""

from __future__ import annotations

import json
import os
import zipfile

from repcheck_data_integration_spark.sources import acquire
from repcheck_data_integration_spark.sources.shapefile import (
    parse_dbf,
    parse_shp,
    read_shapefile_dir,
    write_shapefile,
)

RECORDS = [
    {"attrs": ["55", "Wisconsin-3"], "ring": [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]},
    {"attrs": ["06", "California-9"], "ring": [[10, 10], [20, 10], [20, 30], [10, 30], [10, 10]]},
]


def _write_fixture(d):
    write_shapefile(os.path.join(d, "tl_test_55"), ["FIPS", "NAME"], RECORDS[:1])
    write_shapefile(os.path.join(d, "tl_test_06"), ["FIPS", "NAME"], RECORDS[1:])


def test_parse_roundtrip(tmp_path):
    _write_fixture(tmp_path)
    stem = str(tmp_path / "tl_test_55")
    with open(stem + ".shp", "rb") as f:
        shapes = parse_shp(f.read())
    with open(stem + ".dbf", "rb") as f:
        names, recs = parse_dbf(f.read())
    assert names == ["FIPS", "NAME"]
    assert recs == [["55", "Wisconsin-3"]]
    assert shapes[0]["geometry"]["type"] == "Polygon"
    assert shapes[0]["bbox"] == (0.0, 0.0, 4.0, 4.0)
    assert shapes[0]["geometry"]["coordinates"][0][1] == [4.0, 0.0]


def test_read_shapefile_dir_distributed(spark, tmp_path):
    """The per-state file layout of the reference (one task per .shp)."""
    _write_fixture(tmp_path)
    df = read_shapefile_dir(
        spark, str(tmp_path / "*.shp"), field_names=["fips", "name"]
    )
    rows = {r["fips"]: r for r in df.collect()}
    assert set(rows) == {"55", "06"}
    assert rows["06"]["xmax"] == 20.0 and rows["06"]["ymax"] == 30.0
    assert rows["55"]["n_points"] == 5
    geom = json.loads(rows["55"]["geometry"])
    assert geom["coordinates"][0][0] == [0.0, 0.0]


def test_http_fetch_file_url_and_zip(tmp_path):
    payload = tmp_path / "payload.txt"
    payload.write_bytes(b"x" * 1000)
    archive = tmp_path / "a.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.write(payload, "payload.txt")
    dest = str(tmp_path / "dl" / "a.zip")
    got = acquire.http_fetch(archive.as_uri(), dest)
    assert got == dest and os.path.getsize(dest) > 0
    names = acquire.extract_zip(dest, str(tmp_path / "out"))
    assert names and open(names[0], "rb").read() == b"x" * 1000


def test_git_clone_local(tmp_path):
    dest = str(tmp_path / "clone")
    got = acquire.git_clone("/root/repo", dest)
    assert os.path.isdir(os.path.join(got, ".git"))
    # idempotent: second call reuses the checkout
    assert acquire.git_clone("/root/repo", dest) == dest


def test_csv_json_roundtrip_nasty_strings(spark, tmp_path):
    """Quoting/escaping fidelity: commas, quotes, newlines, unicode and
    empty strings must survive the csv and json write→read roundtrips."""
    rows = [
        (1, 'comma, inside'),
        (2, 'quote " inside'),
        (3, 'newline\ninside'),
        (4, 'unicode é漢字 ok'),
        (5, ''),
        (6, None),
        (7, ' leading and trailing '),
    ]
    df = spark.createDataFrame(rows, ["id", "s"])
    csv_opts = {
        "header": True,
        "multiLine": True,
        # Spark's csv WRITER trims by default — disable to preserve padding
        "ignoreLeadingWhiteSpace": False,
        "ignoreTrailingWhiteSpace": False,
    }
    for fmt, extra in (("csv", csv_opts), ("json", {})):
        out = str(tmp_path / fmt)
        w = df.coalesce(1).write.mode("overwrite")
        r = spark.read.schema("id long, s string")
        for k, v in extra.items():
            w = w.option(k, v)
            r = r.option(k, v)
        getattr(w, fmt)(out)
        back = sorted(
            ((x["id"], x["s"]) for x in getattr(r, fmt)(out).collect()),
        )
        expected = sorted(rows)
        if fmt == "csv":
            # csv cannot distinguish null from empty string; normalize both
            back = [(i, s or None) for i, s in back]
            expected = [(i, s or None) for i, s in expected]
        assert back == expected, fmt


def test_malformed_json_permissive_vs_failfast(spark, tmp_path):
    """Engine error-handling surface: PERMISSIVE mode quarantines corrupt
    records into _corrupt_record (the dead-letter pattern for 100 TB
    ingest, where one bad row must not kill a 6-hour job); FAILFAST
    surfaces them as hard errors (the reference's fail-fast preference)."""
    import pytest
    from pyspark.sql import functions as F

    p = tmp_path / "mixed.json"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "{this is not json}\n"
        '{"id": 3, "v": "also ok"}\n'
    )
    schema = "id long, v string, _corrupt_record string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["id"] for r in good} == {1, 3}
    assert len(bad) == 1 and "{this is not json}" in bad[0]["_corrupt_record"]

    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        (
            spark.read.schema("id long, v string")
            .option("mode", "FAILFAST")
            .json(str(p))
            .collect()
        )


def test_malformed_csv_permissive_nulls(spark, tmp_path):
    """CSV with a type-mismatched cell: PERMISSIVE yields null for the bad
    cell instead of failing the scan."""
    p = tmp_path / "mixed.csv"
    p.write_text("id,val\n1,10.5\n2,not_a_number\n3,7.25\n")
    df = (
        spark.read.option("header", True)
        .schema("id long, val double")
        .option("mode", "PERMISSIVE")
        .csv(str(p))
    )
    got = {r["id"]: r["val"] for r in df.collect()}
    assert got[1] == 10.5 and got[3] == 7.25 and got[2] is None


# --- snk_jdbc: the keyed-upsert database sink, exercised as far as the
# container allows (stdlib sqlite3 as the embedded ON CONFLICT target) ---


def test_upsert_sql_matches_reference_shape():
    """database.py:52-73: insert all columns, ON CONFLICT update every
    non-key column EXCEPT created_at (:68 pops it from the update set)."""
    from repcheck_data_integration_spark.sources.jdbc_sink import upsert_sql

    sql = upsert_sql(
        "people", ["id", "name", "updated_at", "created_at"], keys=["id"]
    )
    assert sql == (
        "INSERT INTO people (id, name, updated_at, created_at) "
        "VALUES (%s, %s, %s, %s) "
        "ON CONFLICT (id) DO UPDATE SET "
        "name = EXCLUDED.name, updated_at = EXCLUDED.updated_at"
    )
    # composite key + nothing updatable -> DO NOTHING form
    assert upsert_sql(
        "t", ["a", "b", "created_at"], keys=["a", "b"]
    ).endswith("ON CONFLICT (a, b) DO NOTHING")
    import pytest

    with pytest.raises(ValueError):
        upsert_sql("t", ["a"], keys=["missing"])


def test_executemany_batching():
    """Rows drain in bounded batches — 5 rows at batch_size=2 means 3
    executemany round-trips, never one unbounded list."""
    from repcheck_data_integration_spark.sources.jdbc_sink import (
        executemany_batched,
    )

    calls = []

    class Cur:
        def executemany(self, sql, batch):
            calls.append(len(batch))

    n = executemany_batched(Cur(), "sql", [(i,) for i in range(5)], 2)
    assert n == 5 and calls == [2, 2, 1]


def test_dbapi_upsert_into_sqlite(spark, tmp_path):
    """End-to-end keyed upsert against the embedded sqlite target: update
    rows win on conflict, created_at survives the update (reference
    database.py:68), new keys insert."""
    import sqlite3

    from repcheck_data_integration_spark.sources.jdbc_sink import (
        write_dbapi_upsert,
    )

    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE people "
            "(id INTEGER PRIMARY KEY, name TEXT, created_at TEXT)"
        )
        conn.execute(
            "INSERT INTO people VALUES (1, 'old', '2020-01-01')"
        )
        conn.commit()

    df = spark.createDataFrame(
        [(1, "new", "2024-06-01"), (2, "ins", "2024-06-01")],
        ["id", "name", "created_at"],
    ).coalesce(1)  # single sqlite file: serialize partitions

    def conn_factory(path=db):
        import sqlite3 as s

        c = s.connect(path, timeout=30)
        return c

    write_dbapi_upsert(
        df, conn_factory, "people", keys=["id"], dialect="sqlite",
        batch_size=1,
    )

    with sqlite3.connect(db) as conn:
        got = {
            r[0]: (r[1], r[2])
            for r in conn.execute(
                "SELECT id, name, created_at FROM people"
            )
        }
    assert got == {
        1: ("new", "2020-01-01"),   # updated, created_at preserved
        2: ("ins", "2024-06-01"),   # inserted with its own created_at
    }


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction: 64 fragment files collapse to the byte-sized target
    count, content identical, and the size heuristic tracks input bytes."""
    import glob

    from repcheck_data_integration_spark.sources.file_sources import (
        compact_parquet,
    )
    from repcheck_data_integration_spark.tables import load

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    load(spark, "/root/testdata/sf0.001", "documents").repartition(64).write.parquet(src)
    n_src = len(glob.glob(src + "/*.parquet"))
    assert n_src == 64

    n_target = compact_parquet(spark, src, dst)  # 128MB target → 1 file
    n_dst = len(glob.glob(dst + "/*.parquet"))
    assert n_target == 1 and n_dst <= 4  # round-robin may emit few parts
    before = sorted(map(tuple, spark.read.parquet(src).collect()))
    after = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert before == after

    # tiny target → file count scales with bytes
    dst2 = str(tmp_path / "compact2")
    n2 = compact_parquet(spark, src, dst2, target_file_bytes=64 * 1024)
    assert n2 > 1
    assert len(glob.glob(dst2 + "/*.parquet")) == n2


# -- avro container codec ---------------------------------------------------

def test_avro_roundtrip_all_types(tmp_path):
    from repcheck_data_integration_spark.sources import avrofile as A

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "raw", "type": "bytes"},
            {"name": "mu", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    rows = [
        {"b": True, "i": -(2**40) - 3, "d": 1.5e-300, "s": "héllo ☃",
         "raw": b"\x00\xff", "mu": None, "arr": [1, -2, 3],
         "m": {"k": "v", "k2": ""}},
        {"b": False, "i": 0, "d": -0.0, "s": "", "raw": b"", "mu": 7,
         "arr": [], "m": {}},
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        A.write_avro(p, schema, rows, codec=codec)
        got_schema, got = A.read_avro(open(p, "rb").read())
        assert got_schema == schema
        assert got == rows


def test_avro_zigzag_varint_edges():
    import io

    from repcheck_data_integration_spark.sources import avrofile as A

    for n in (0, -1, 1, 63, 64, -64, -65, 2**31 - 1, -(2**31),
              2**62, -(2**62)):
        buf = io.BytesIO()
        A.write_long(buf, n)
        buf.seek(0)
        assert A.read_long(buf) == n, n


def test_avro_corrupt_sync_fails_loudly(tmp_path):
    import pytest as _pytest

    from repcheck_data_integration_spark.sources import avrofile as A

    schema = {"type": "record", "name": "t",
              "fields": [{"name": "x", "type": "long"}]}
    p = str(tmp_path / "c.avro")
    A.write_avro(p, schema, [{"x": i} for i in range(10)], codec="null")
    data = bytearray(open(p, "rb").read())
    data[-1] ^= 0xFF  # flip a bit in the trailing sync marker
    with _pytest.raises(ValueError, match="sync mismatch"):
        A.read_avro(bytes(data))


def test_avro_roundtrip_property():
    """Hypothesis: arbitrary (long, nullable-string, double) rows survive
    the encode→deflate→decode path bit-exactly."""
    import io as _io

    from hypothesis import given, settings, strategies as st

    from repcheck_data_integration_spark.sources import avrofile as A

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "d", "type": "double"},
        ],
    }
    rows_strategy = st.lists(
        st.fixed_dictionaries(
            {
                "k": st.integers(min_value=-(2**63), max_value=2**63 - 1),
                "s": st.one_of(st.none(), st.text(max_size=40)),
                "d": st.floats(allow_nan=False),
            }
        ),
        max_size=25,
    )

    @settings(max_examples=50, deadline=None)
    @given(rows_strategy)
    def check(rows):
        buf = _io.BytesIO()
        for r in rows:
            A._encode_value(buf, schema, r)
        buf.seek(0)
        got = [A._decode_value(buf, schema) for _ in rows]
        assert got == rows

    check()


def test_avro_split_reader_exactly_once(tmp_path):
    """Byte-range splits must decode every block exactly once for ANY
    split size — including splits smaller than the header, splits inside
    a block, and split boundaries landing on a sync marker."""
    from repcheck_data_integration_spark.sources import avrofile as A

    schema = {"type": "record", "name": "t",
              "fields": [{"name": "x", "type": "long"}]}
    rows = [{"x": i} for i in range(1000)]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"big_{codec}.avro")
        A.write_avro(p, schema, rows, codec=codec, rows_per_block=37)
        size = os.path.getsize(p)
        import os as _os
        for split in (64, 257, 1024, size, size * 2):
            got = []
            for off in range(0, size, split):
                _, part = A.read_avro_split(p, off, min(off + split, size))
                got.extend(part)
            assert got == rows, (codec, split)


def test_compaction_reduces_files_losslessly(spark, tmp_path):
    from repcheck_data_integration_spark.sources.file_sources import (
        compact_parquet_dir,
    )
    from repcheck_data_integration_spark.tables import load

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    ev = load(spark, "/root/testdata/sf0.001", "events")
    ev.repartition(32).write.parquet(src)
    n_small = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    compact_parquet_dir(spark, src, dst, target_bytes=8 << 20)
    n_big = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_small == 32 and n_big < n_small
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert a == b


def test_load_bucketed_contract(spark):
    """tables.load_bucketed (round 7): content-neutral vs load(); exactly
    ONE file per bucket (the property that lets the sorted-scan session
    flag skip the SMJ sorts — multi-file buckets would silently void
    it), and exactly as many buckets as the session shuffles to, so a
    session with another partition count writes its own layout; falls
    back to the raw scan when the sf_dir has no physical parquet (probe
    harnesses patch load() with synthetic frames)."""
    import os as _os
    from urllib.parse import urlparse

    import repcheck_data_integration_spark.tables as T
    from repcheck_data_integration_spark.tables import load, load_bucketed

    sf = "/root/testdata/sf0.001"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def layout_buckets(n):
        """{bucket id: files} of this process's n-bucket nation layout."""
        tdirs = [
            d
            for d in _os.listdir(wh)
            if d.startswith("bkt_nation_n_nationkey_")
            and d.endswith(f"_n{n}_h{T._host_tag()}_p{_os.getpid()}")
        ]
        assert len(tdirs) == 1, tdirs
        buckets = {}
        for f in _os.listdir(_os.path.join(wh, tdirs[0])):
            if f.endswith(".parquet"):
                bucket_id = f.split("_")[1].split(".")[0]
                buckets.setdefault(bucket_id, []).append(f)
        return buckets

    raw = load(spark, sf, "nation")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    b = load_bucketed(spark, sf, "nation", "n_nationkey")
    assert sorted(map(tuple, b.collect())) == sorted(
        map(tuple, raw.collect())
    )
    # one file per bucket (part-000NN_000NN pairing, no duplicates), and
    # every one of the session's n buckets written: nation's 25 keys
    # cover them all
    buckets = layout_buckets(n)
    assert all(len(v) == 1 for v in buckets.values()), buckets
    assert len(buckets) == n, sorted(buckets)
    # another partition count -> a separate table with that many buckets
    other = n + 2
    spark.conf.set("spark.sql.shuffle.partitions", str(other))
    try:
        b2 = load_bucketed(spark, sf, "nation", "n_nationkey")
        assert sorted(map(tuple, b2.collect())) == sorted(
            map(tuple, raw.collect())
        )
        buckets2 = layout_buckets(other)
        assert all(len(v) == 1 for v in buckets2.values()), buckets2
        assert len(buckets2) == other, sorted(buckets2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    assert len(layout_buckets(n)) == n
    # missing physical parquet + patched load() (the scale_probe
    # harness shape) -> raw-path fallback through the patch, not a
    # crash on the fingerprint stat
    orig = T.load
    try:
        T.load = lambda s, d, n: raw.limit(3)
        fb = load_bucketed(
            spark, "/tmp/definitely_missing_sfdir", "nation", "n_nationkey"
        )
        assert fb.count() == 3
    finally:
        T.load = orig


def test_bucket_table_gc_scope(tmp_path):
    """_gc_dead_bucket_tables is a DESTRUCTIVE sweep — pin its scope: it
    reaps dead-pid bkt_* locations and pre-round-7 legacy names, and must
    NEVER touch our own pid's tables, a live pid's tables, or unrelated
    warehouse dirs."""
    import os as _os

    import repcheck_data_integration_spark.tables as T

    wh = str(tmp_path)
    h = T._host_tag()
    mine = f"bkt_lineitem_l_orderkey_abc123_n4_h{h}_p{_os.getpid()}"
    live = f"bkt_orders_o_orderkey_def456_n4_h{h}_p1"  # pid 1 = always alive
    dead = f"bkt_orders_o_orderkey_def456_n4_h{h}_p999999999"
    # names from before the bucket count joined the key: same pid rule
    dead_unsized = f"bkt_orders_o_orderkey_def456_h{h}_p999999997"
    # ADVICE r7: another HOST's entries are never reaped, even with a pid
    # that is dead here — /proc liveness is host-local
    other_host = "bkt_orders_o_orderkey_def456_habcdef_p999999998"
    # pre-round-8 names (no host tag) keep the original pid rule
    old_mine = f"bkt_lineitem_l_orderkey_abc123_p{_os.getpid()}"
    old_live = "bkt_orders_o_orderkey_def456_p1"
    old_dead = "bkt_orders_o_orderkey_def456_p999999999"
    legacy_nopid = "bkt_lineitem_l_orderkey_0123456789"
    legacy_probe = "li_bkt_0123abcd"
    unrelated = "some_other_table"
    probe_own = "li_bkt"  # bucketed_probe's live session tables: no sweep
    for d in (mine, live, dead, dead_unsized, other_host, old_mine,
              old_live, old_dead, legacy_nopid, legacy_probe, unrelated,
              probe_own):
        _os.makedirs(_os.path.join(wh, d))
    T._GC_DONE = False
    try:
        T._gc_dead_bucket_tables(wh)
    finally:
        T._GC_DONE = False  # don't poison other tests' first-call sweep
    left = set(_os.listdir(wh))
    assert mine in left
    assert live in left
    assert other_host in left
    assert old_mine in left
    assert old_live in left
    assert unrelated in left
    assert probe_own in left
    assert dead not in left
    assert dead_unsized not in left
    assert old_dead not in left
    assert legacy_nopid not in left
    assert legacy_probe not in left


def test_staged_source_follows_regenerated_fixture(spark, write_table, tmp_path):
    """A scan source stages its input files once per fixture CONTENT: an
    sf dir whose table is rewritten in place is staged afresh, so the
    scan returns the new rows, not the files staged from the old ones."""
    import shutil

    from repcheck_data_integration_spark.sources.file_sources import (
        _fixture_dir,
        src_csv_scan,
    )

    cols = (
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string"
    )

    def rows(n, seg):
        return [(k, f"Customer#{k}", k % 5, k * 1.5, seg) for k in range(n)]

    sf, staged = str(tmp_path), []
    try:
        write_table("customer", rows(3, "OLD"), cols)
        staged.append(os.path.dirname(_fixture_dir(sf, "csv")))
        first = sorted(map(tuple, src_csv_scan(spark, sf).collect()))
        assert first == rows(3, "OLD")
        write_table("customer", rows(5, "NEW"), cols)
        staged.append(os.path.dirname(_fixture_dir(sf, "csv")))
        second = sorted(map(tuple, src_csv_scan(spark, sf).collect()))
        assert second == rows(5, "NEW")
    finally:
        for d in staged:
            shutil.rmtree(d, ignore_errors=True)


def test_regenerated_fixture_reaps_old_staging(spark, write_table, tmp_path):
    """Staging a regenerated fixture removes what the old content staged
    and the legacy basename-only key of the same sf dir, and leaves keys
    under another layout salt (another scale's impersonation) alone."""
    import shutil

    from repcheck_data_integration_spark.sources.file_sources import (
        FIXTURE_ROOT,
        _fixture_dir,
        src_csv_scan,
    )

    cols = (
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string"
    )
    sf = str(tmp_path)
    tag = os.path.basename(sf)
    legacy = os.path.join(FIXTURE_ROOT, tag)
    other_salt = os.path.join(FIXTURE_ROOT, f"{tag}_x100123456789")
    staged = [legacy, other_salt]
    try:
        write_table("customer", [(1, "Customer#1", 1, 1.5, "OLD")], cols)
        old = os.path.dirname(_fixture_dir(sf, "csv"))
        staged.append(old)
        assert src_csv_scan(spark, sf).count() == 1
        assert os.path.isdir(old)
        for d in (legacy, other_salt):
            os.makedirs(d, exist_ok=True)
        write_table("customer", [(2, "Customer#2", 2, 3.0, "NEW")], cols)
        new = os.path.dirname(_fixture_dir(sf, "csv"))
        staged.append(new)
        assert new != old
        assert [r.c_mktsegment for r in src_csv_scan(spark, sf).collect()] == [
            "NEW"
        ]
        assert not os.path.exists(old)
        assert not os.path.exists(legacy)
        assert os.path.isdir(other_salt)
        assert os.path.isdir(new)
    finally:
        for d in staged:
            shutil.rmtree(d, ignore_errors=True)
