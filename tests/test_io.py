"""Source/sink round-trips through skdist_spark.sources.io."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from skdist_spark.sources.catalog import load_table
from skdist_spark.sources.io import convert_to_parquet, read_source, write_sink


@pytest.fixture()
def nation_df(spark, sf_dir):
    return load_table(spark, "nation", sf_dir)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_roundtrip(spark, nation_df, fmt):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, f"nation_{fmt}")
        write_sink(nation_df, path, fmt)
        back = read_source(
            spark,
            path,
            fmt,
            schema="n_nationkey bigint, n_name string, n_regionkey bigint",
        )
        got = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in back.collect()}
        want = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in nation_df.collect()}
        assert got == want


def test_partitioned_write_prunes(spark, nation_df):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "nation_part")
        write_sink(nation_df, path, "parquet", partition_by=["n_regionkey"])
        # hive-style layout exists
        assert any(p.startswith("n_regionkey=") for p in os.listdir(path))
        back = read_source(spark, path).where(F.col("n_regionkey") == 2)
        assert back.count() == nation_df.where("n_regionkey = 2").count()
        # partition filter prunes at planning time: only one partition dir read
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "n_regionkey=2" in plan or "PartitionFilters" in plan


def test_convert_to_parquet(spark, nation_df):
    with tempfile.TemporaryDirectory() as d:
        csv_path = os.path.join(d, "nation_csv")
        pq_path = os.path.join(d, "nation_pq")
        write_sink(nation_df, csv_path, "csv")
        convert_to_parquet(
            spark,
            csv_path,
            "csv",
            pq_path,
            schema="n_nationkey bigint, n_name string, n_regionkey bigint",
        )
        assert read_source(spark, pq_path).count() == nation_df.count()


def test_unknown_format_rejected(spark, nation_df):
    with pytest.raises(ValueError):
        read_source(spark, "/tmp/x", "avro")
    with pytest.raises(ValueError):
        write_sink(nation_df, "/tmp/x", "xml")


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    import uuid

    from skdist_spark.sources.io import write_bucketed_table

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey", "o_totalprice")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    suffix = uuid.uuid4().hex[:8]
    t_orders, t_cust = f"b_orders_{suffix}", f"b_cust_{suffix}"
    try:
        write_bucketed_table(orders, t_orders, ["o_custkey"], n_buckets=8)
        write_bucketed_table(cust, t_cust, ["c_custkey"], n_buckets=8)
        joined = spark.table(t_orders).join(
            spark.table(t_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-bucketed equi-join: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan, plan[:1500]
        assert joined.count() == orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cust}")


def test_kafka_source_gated(spark):
    from skdist_spark.sources import kafka

    if kafka.kafka_available(spark):
        df = kafka.read_kafka_stream(spark, "localhost:9092", "t")
        assert df.isStreaming
    else:
        import pytest

        with pytest.raises(RuntimeError, match="Kafka connector"):
            kafka.read_kafka_stream(spark, "localhost:9092", "t")


def test_read_binary_files(spark, tmp_path):
    from skdist_spark.sources.io import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "b.bin").write_bytes(b"hello")
    (tmp_path / "skip.txt").write_bytes(b"x")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r.path.split("/")[-1]: bytes(r.content) for r in df.collect()}
    assert rows == {"a.bin": b"\x00\x01\x02", "b.bin": b"hello"}
    assert set(df.columns) == {"path", "modificationTime", "length", "content"}


def test_z_value_is_morton_code(spark):
    from pyspark.sql import functions as F

    from skdist_spark.sources.io import z_value

    def morton(x, y, bits=16):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x bigint, y bigint"
    ).withColumn("z", z_value(["x", "y"]))
    for r in df.collect():
        assert r.z == morton(r.x, r.y), (r.x, r.y, r.z)


def test_zorder_write_clusters_both_dims(spark, tmp_path):
    """Z-ordered files must have narrow min-max spans on BOTH columns
    vs the global domain (the property file-skipping relies on)."""
    import random

    from skdist_spark.sources.io import zorder_by

    random.seed(7)
    n, side = 4096, 256
    data = [(random.randrange(side), random.randrange(side)) for _ in range(n)]
    df = spark.createDataFrame(data, "x bigint, y bigint")
    out = str(tmp_path / "zorder")
    zorder_by(df, ["x", "y"], num_files=16).write.parquet(out)

    import glob as g

    import pyarrow.parquet as pq

    areas = []
    for f in g.glob(out + "/*.parquet"):
        t = pq.read_table(f).to_pandas()
        if len(t):
            areas.append(
                (t.x.max() - t.x.min() + 1) * (t.y.max() - t.y.min() + 1)
            )
    # random placement would give each file ~the full domain area;
    # z-order keeps the average file's bounding box far below it
    assert sum(areas) / len(areas) < (side * side) / 3


def _xy2d_ref(bits: int, x: int, y: int) -> int:
    """Reference Hilbert xy2d (classic bit-walk), driver-side."""
    n = 1 << bits
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_value_matches_reference(spark):
    from skdist_spark.sources.io import hilbert_value

    bits, side = 4, 16
    grid = [(x, y) for x in range(side) for y in range(side)]
    df = spark.createDataFrame(grid, "x bigint, y bigint")
    rows = df.withColumn("h", hilbert_value("x", "y", bits)).collect()
    for r in rows:
        assert r.h == _xy2d_ref(bits, r.x, r.y), (r.x, r.y)


def test_hilbert_d_np_matches_sql_fold(spark):
    """The vectorized numpy walk (the hilbert_layout serving path) is
    bit-identical to the SQL aggregate fold AND the classic reference
    — full 16x16 grid at bits=4 plus edge coordinates at bits=16."""
    import numpy as np

    from skdist_spark.sources.io import hilbert_d_np

    bits, side = 4, 16
    xs, ys = np.meshgrid(np.arange(side), np.arange(side))
    xs, ys = xs.ravel(), ys.ravel()
    d = hilbert_d_np(xs, ys, bits)
    for x, y, dv in zip(xs.tolist(), ys.tolist(), d.tolist()):
        assert dv == _xy2d_ref(bits, x, y), (x, y)
    # bits=16 spot lattice incl. the domain corners the flip reflects
    pts = np.array([0, 1, 2, 255, 32767, 32768, 65534, 65535], dtype=np.int64)
    px, py = np.meshgrid(pts, pts)
    px, py = px.ravel(), py.ravel()
    d16 = hilbert_d_np(px, py, 16)
    for x, y, dv in zip(px.tolist(), py.tolist(), d16.tolist()):
        assert dv == _xy2d_ref(16, x, y), (x, y)


def test_hilbert_consecutive_cells_are_adjacent(spark):
    """The defining Hilbert property (which Morton lacks): consecutive
    curve positions are unit-distance neighbors in space."""
    from skdist_spark.sources.io import hilbert_value

    bits, side = 3, 8
    grid = [(x, y) for x in range(side) for y in range(side)]
    df = spark.createDataFrame(grid, "x bigint, y bigint")
    by_d = {
        r.h: (r.x, r.y)
        for r in df.withColumn("h", hilbert_value("x", "y", bits)).collect()
    }
    assert sorted(by_d) == list(range(side * side))  # a bijection
    for d in range(side * side - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d


def test_hilbert_order_clusters_both_dims(spark, tmp_path):
    """Hilbert-clustered files: bounding boxes far below the domain
    area, and no worse than the same data z-ordered."""
    import random

    from skdist_spark.sources.io import hilbert_order_by

    random.seed(7)
    n, side = 4096, 256
    data = [(random.randrange(side), random.randrange(side)) for _ in range(n)]
    df = spark.createDataFrame(data, "x bigint, y bigint")
    out = str(tmp_path / "hilbert")
    hilbert_order_by(df, "x", "y", num_files=16).write.parquet(out)

    import glob as g

    import pyarrow.parquet as pq

    areas = []
    for f in g.glob(out + "/*.parquet"):
        t = pq.read_table(f).to_pandas()
        if len(t):
            areas.append((t.x.max() - t.x.min() + 1) * (t.y.max() - t.y.min() + 1))
    assert sum(areas) / len(areas) < (side * side) / 3


def test_merge_upsert_touches_only_updated_partitions(spark, tmp_path):
    """Upsert must replace collided keys, append new keys, and leave
    untouched partitions' files byte-identical."""
    import glob as g
    import os

    from skdist_spark.sources.io import merge_upsert

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 20.0), (3, "d2", 30.0), (4, "d3", 40.0)],
        "id bigint, day string, v double",
    )
    merge_upsert(spark, target, base, ["id"], "day")

    untouched_before = {
        f: os.path.getmtime(f) for f in g.glob(target + "/day=d3/*.parquet")
    }
    assert untouched_before

    updates = spark.createDataFrame(
        [
            (2, "d1", 21.0, 1), (2, "d1", 22.0, 2),  # order_col picks 22.0
            (5, "d2", 50.0, 1),                       # new key
        ],
        "id bigint, day string, v double, seq int",
    )
    merge_upsert(spark, target, updates, ["id"], "day", order_col="seq")

    got = {
        (r.id, r.day): r.v
        for r in spark.read.parquet(target).select("id", "day", "v").collect()
    }
    assert got == {
        (1, "d1"): 10.0, (2, "d1"): 22.0, (3, "d2"): 30.0,
        (4, "d3"): 40.0, (5, "d2"): 50.0,
    }
    # d3 was not in the update batch: files untouched
    for f, mtime in untouched_before.items():
        assert os.path.getmtime(f) == mtime, f


def test_compact_partitions_merges_small_files(spark, tmp_path):
    """Fragmented partitions collapse to the computed file count with
    identical data; partitions already at a healthy size are left
    byte-untouched."""
    import glob
    import os

    from skdist_spark.sources.io import compact_partitions

    target = str(tmp_path / "tbl")
    frag = spark.range(0, 1000).selectExpr("id", "'d1' AS day")
    healthy = spark.range(1000, 2000).selectExpr("id", "'d2' AS day")
    frag.repartition(16).write.partitionBy("day").parquet(target)
    healthy.coalesce(1).write.mode("append").partitionBy("day").parquet(target)

    before = spark.read.parquet(target).count()
    d2_files = {
        f: os.path.getmtime(f) for f in glob.glob(f"{target}/day=d2/*.parquet")
    }
    assert len(glob.glob(f"{target}/day=d1/*.parquet")) == 16

    report = compact_partitions(spark, target, target_bytes=64 * 1024 * 1024)
    assert set(report) == {"day=d1"} and report["day=d1"] == (16, 1)
    assert len(glob.glob(f"{target}/day=d1/*.parquet")) == 1
    assert spark.read.parquet(target).count() == before
    assert {r.id for r in spark.read.parquet(target).where("day = 'd1'").collect()} == set(range(1000))
    for f, mtime in d2_files.items():
        assert os.path.getmtime(f) == mtime, f


def test_synthetic_datasource_deterministic_and_partitioned(spark):
    """Python DataSource: honors rows/partitions options, and any
    partitioning of the same row count yields identical data (row i is
    a pure function of i)."""
    from skdist_spark.sources.synthetic import SyntheticEventsDataSource

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception as exc:  # already registered in this session
        assert "already" in str(exc).lower(), exc

    df = (
        spark.read.format("synthetic_events")
        .option("rows", 500)
        .option("partitions", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7
    rows = df.orderBy("event_id").collect()
    assert len(rows) == 500
    assert rows[0].event_id == 0 and rows[-1].event_id == 499
    assert {r.event_type for r in rows} == {
        "click", "purchase", "error", "signup", "view"
    }

    again = (
        spark.read.format("synthetic_events")
        .option("rows", 500)
        .option("partitions", 3)
        .load()
        .orderBy("event_id")
        .collect()
    )
    assert again == rows


def test_parquet_stats_report_shows_clustering(spark, tmp_path):
    """Footer-only stats: a range-partitioned write yields per-file
    min/max id windows that are narrow and non-overlapping; row counts
    sum to the table size."""
    from skdist_spark.sources.io import parquet_stats_report

    target = str(tmp_path / "tbl")
    spark.range(0, 10_000).repartitionByRange(4, "id").write.parquet(target)

    rep = parquet_stats_report(spark, target, columns=["id"]).collect()
    assert sum(r.n_rows for r in rep) == 10_000
    spans = sorted((int(r.min_value), int(r.max_value)) for r in rep)
    assert len(spans) == 4
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans  # disjoint: clustering visible in footers


def test_write_sink_bloom_filters(spark, nation_df, tmp_path):
    """bloom_filter_cols must land real bloom filters in the footer
    (offset >= 0) for exactly the requested columns."""
    from skdist_spark.sources.io import parquet_bloom_offsets

    path = str(tmp_path / "bloom")
    write_sink(nation_df, path, "parquet", bloom_filter_cols=["n_name"])
    part = next(
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.startswith("part-") and f.endswith(".parquet")
    )
    offsets = parquet_bloom_offsets(spark, part)
    assert offsets["n_name"] >= 0
    assert all(v == -1 for c, v in offsets.items() if c != "n_name")

    with pytest.raises(ValueError):
        write_sink(nation_df, path, "csv", bloom_filter_cols=["n_name"])


def test_read_with_quarantine_json(spark, tmp_path):
    """Malformed JSONL rows must land in the quarantine, clean rows in
    the returned frame — one bad row never fails or silently shrinks
    the ingest."""
    from skdist_spark.sources.io import read_with_quarantine

    src = tmp_path / "raw"
    src.mkdir()
    (src / "data.jsonl").write_text(
        '{"id": 1, "v": "a"}\n'
        "{broken json line\n"
        '{"id": 2, "v": "b"}\n'
        '{"id": "not_a_number", "v": 3}\n'
        '{"id": 3, "v": "c"}\n'
    )
    qdir = str(tmp_path / "quarantine")
    clean = read_with_quarantine(
        spark, str(src), "json", "id bigint, v string", quarantine_path=qdir
    )
    rows = sorted((r["id"], r["v"]) for r in clean.collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    bad = [r["value"] for r in spark.read.text(qdir).collect()]
    assert len(bad) == 2
    assert any("broken json line" in b for b in bad)

    with pytest.raises(ValueError):
        read_with_quarantine(spark, str(src), "parquet", "id bigint")


def test_synthetic_stream_source_matches_batch_face(spark):
    """The Python DataSource's STREAMING reader must replay exactly the
    batch face's rows (row i is a pure function of i), across multiple
    micro-batches with partition-parallel reads."""
    import time
    import uuid

    from skdist_spark.sources.synthetic import SyntheticEventsDataSource

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass  # already registered by another test
    name = f"syn_stream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("synthetic_events")
        .option("maxRows", 400)
        .option("rowsPerBatch", 150)
        .option("partitions", 4)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.table(name).count() >= 400:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    streamed = {tuple(r) for r in spark.table(name).collect()}
    batch = {
        tuple(r)
        for r in spark.read.format("synthetic_events")
        .option("rows", 400)
        .option("partitions", 4)
        .load()
        .collect()
    }
    assert streamed == batch
    assert len(streamed) == 400


def test_jsonl_manifest_writer_roundtrip(spark, tmp_path):
    """Python DataSource WRITER: one shard per task, driver-side commit
    writes a manifest naming exactly the committed shards, and the
    manifest-honoring reader sees exactly the written rows — stray
    un-manifested files are invisible."""
    import json
    import os

    from skdist_spark.sources.synthetic import (
        JsonlManifestDataSource, read_jsonl_manifest,
    )

    try:
        spark.dataSource.register(JsonlManifestDataSource)
    except Exception:
        pass
    out = str(tmp_path / "sink")
    df = spark.range(100).selectExpr(
        "id AS k", "CAST(id * 2 AS STRING) AS v"
    ).repartition(4)
    df.write.format("jsonl_manifest").option("path", out).mode(
        "append"
    ).save()

    manifest = json.load(open(os.path.join(out, "MANIFEST.json")))
    assert manifest["n_rows"] == 100
    assert len(manifest["shards"]) == 4
    assert sum(s["n_rows"] for s in manifest["shards"]) == 100

    # a stray file that never committed must stay invisible
    with open(os.path.join(out, "part-stray.jsonl"), "w") as fh:
        fh.write('{"k": 999999, "v": "ghost"}\n')
    back = read_jsonl_manifest(spark, out)
    got = sorted((r.k, r.v) for r in back.collect())
    assert got == [(i, str(i * 2)) for i in range(100)]


def test_insert_overwrite_partitions_touches_only_present(spark, tmp_path):
    """Dynamic overwrite replaces exactly the partitions in the incoming
    frame; untouched partitions keep their original rows."""
    from pyspark.sql import functions as F

    from skdist_spark.sources.io import insert_overwrite_partitions

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(d, i, "old") for d in ("a", "b", "c") for i in range(4)],
        ["day", "k", "v"],
    )
    insert_overwrite_partitions(base, path, ["day"])
    # re-land ONLY day=b with different content (2 rows, new value)
    incoming = spark.createDataFrame(
        [("b", 99, "new"), ("b", 100, "new")], ["day", "k", "v"]
    )
    insert_overwrite_partitions(incoming, path, ["day"])
    got = spark.read.parquet(path)
    per_day = {
        r["day"]: (r["n"], r["vals"])
        for r in got.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_sort(F.collect_set("v")).alias("vals"),
        )
        .collect()
    }
    assert per_day["a"] == (4, ["old"])
    assert per_day["c"] == (4, ["old"])
    assert per_day["b"] == (2, ["new"])
    # the session conf was restored, not leaked
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        != "dynamic"
    )


def test_read_merged_schema_unions_columns(spark, tmp_path):
    """Files written before a column existed surface it as NULL under
    mergeSchema instead of failing or silently dropping it."""
    from skdist_spark.sources.io import read_merged_schema

    path = str(tmp_path / "evo")
    spark.createDataFrame([(1, "x")], ["id", "a"]).write.parquet(
        path + "/p=1"
    )
    spark.createDataFrame([(2, "y", 7.5)], ["id", "a", "b"]).write.parquet(
        path + "/p=2"
    )
    got = read_merged_schema(spark, path)
    assert set(got.columns) >= {"id", "a", "b"}
    rows = {r["id"]: (r["a"], r["b"]) for r in got.collect()}
    assert rows[1] == ("x", None)
    assert rows[2] == ("y", 7.5)


def test_scan_skipping_report_rewards_clustering(spark, tmp_path):
    """A value-sorted layout must show (near-)total row-group skipping
    for a selective range predicate; a value-shuffled layout of the
    SAME rows must show materially less — the report measures exactly
    the clustering benefit."""
    from pyspark.sql import functions as F

    from skdist_spark.sources.io import scan_skipping_report

    n = 200_000
    df = spark.range(n).select(
        F.col("id"), F.pmod(F.col("id") * 2654435761, F.lit(999983)).alias("v")
    )
    sorted_path = str(tmp_path / "sorted")
    shuffled_path = str(tmp_path / "shuffled")
    (
        df.orderBy("v")
        .coalesce(1)
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(sorted_path)
    )
    (
        df.orderBy("id")
        .coalesce(1)
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(shuffled_path)
    )

    def ratio(path):
        agg = (
            scan_skipping_report(spark, path, "v", lo=0, hi=999)
            .agg(
                F.sum("skipped_groups").alias("s"),
                F.sum("row_groups").alias("g"),
            )
            .collect()[0]
        )
        assert agg["g"] > 3, "need multiple row groups for the test to bite"
        return agg["s"] / agg["g"]

    r_sorted = ratio(sorted_path)
    r_shuffled = ratio(shuffled_path)
    assert r_sorted > 0.9
    assert r_sorted > r_shuffled


def test_portable_morton_matches_z_value_fold(spark):
    """The portable spread-bits Morton key (zorder_layout's expression,
    shared with the DuckDB oracle) must agree with the z_value fold API
    and with a pure-Python interleave on the full 32x32 grid."""
    from pyspark.sql import functions as F

    from skdist_spark.sources.io import morton_sql, z_value

    def morton(x, y, bits=16):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return out

    df = (
        spark.createDataFrame(
            [(x, y) for x in range(32) for y in range(32)], "x bigint, y bigint"
        )
        .withColumn("z_fold", z_value(["x", "y"]))
        .withColumn("z_portable", F.expr(morton_sql("x", "y", "spark")))
    )
    for r in df.collect():
        assert r.z_portable == r.z_fold == morton(r.x, r.y), (r.x, r.y)


def test_zorder_layout_prunes_files(spark, sf_dir):
    """The layout audit must show real multi-dim clustering: every file
    holds rows, both per-file spans are far narrower than the 16-bit
    domain, and the x-range predicate prunes a majority of files."""
    from skdist_spark.sources.io import zorder_layout

    rows = zorder_layout(spark, sf_dir).collect()
    assert len(rows) > 1
    assert all(r.n_rows > 0 for r in rows)
    # each file is one top-3-bit tile per dim: span <= 2^13 per dim
    assert all(r.max_x - r.min_x <= (1 << 13) for r in rows)
    assert all(r.max_y - r.min_y <= (1 << 13) for r in rows)
    scanned = sum(1 for r in rows if r.scan_for_x_pred)
    assert scanned * 2 < len(rows), (scanned, len(rows))


def test_hilbert_layout_matches_fold_and_prunes(spark, sf_dir):
    """The Hilbert layout audit must produce compact per-file bounding
    boxes (curve segments are spatially contiguous) and prune a
    majority of files for the x-range predicate, like zorder_layout."""
    from skdist_spark.sources.io import hilbert_layout

    rows = hilbert_layout(spark, sf_dir).collect()
    assert len(rows) > 1
    assert all(r.n_rows > 0 for r in rows)
    # one contiguous 2^26-point curve segment per file: bbox stays
    # within a 2^14 square (usually a single 2^13 tile)
    assert all(r.max_x - r.min_x <= (1 << 14) for r in rows)
    assert all(r.max_y - r.min_y <= (1 << 14) for r in rows)
    scanned = sum(1 for r in rows if r.scan_for_x_pred)
    assert scanned * 2 < len(rows), (scanned, len(rows))


# pyspark modules a worker does not load to run a task; the first one
# still unloaded is imported after the caches were invalidated
_UNLOADED_PYSPARK_MODULES = (
    "pyspark.streaming.util",
    "pyspark.resource.profile",
    "pyspark.sql.avro.functions",
    "pyspark.mllib.fpm",
    "pyspark.ml.fpm",
)


def _import_after_invalidate(names):
    def run(_):
        import importlib
        import os
        import pkgutil
        import sys
        import zipimport

        import pyspark

        importlib.invalidate_caches()
        # pkgutil indexes zipimport's directory cache directly
        listed = {m.name for m in pkgutil.iter_modules(pyspark.__path__)}
        loaded = []
        for name in names:
            if name not in sys.modules:
                mod = importlib.import_module(name)
                loaded.append((name, type(mod.__spec__.loader).__name__))
                break
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield os.path.basename(code.co_filename), loaded, listed

    return run


def test_worker_imports_after_invalidate_caches(spark, tmp_path):
    """The daemon's lazy zipimport invalidation keeps worker imports
    working: after importlib.invalidate_caches(), pkgutil lists pyspark's
    sub-packages and an unloaded pyspark submodule imports from
    pyspark.zip; a zip added with addPyFile mid-session imports in a
    later task."""
    import uuid
    import zipfile

    sc = spark.sparkContext
    rdd = sc.parallelize([0], 1)
    [(patched_in, loaded, listed)] = rdd.mapPartitions(
        _import_after_invalidate(_UNLOADED_PYSPARK_MODULES)
    ).collect()
    assert patched_in == "worker_daemon.py"
    assert [loader for _, loader in loaded] == ["zipimporter"], loaded
    assert {"sql", "ml", "streaming"} <= listed

    module = f"addpyfile_probe_{uuid.uuid4().hex}"
    archive = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{module}.py", "VALUE = 41 + 1\n")
    sc.addPyFile(str(archive))

    def use_added(_):
        import importlib

        yield importlib.import_module(module).VALUE

    assert rdd.mapPartitions(use_added).collect() == [42]


def test_get_session_from_foreign_cwd(tmp_path):
    """A get_session session started from a directory that does not hold
    the package, with no PYTHONPATH, still runs Python tasks: the worker
    daemon imports from the executors' PYTHONPATH."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from skdist_spark.sources.session import get_session\n"
        "spark = get_session('foreign-cwd', cpus=2)\n"
        "rdd = spark.sparkContext.parallelize([1, 2, 3], 1)\n"
        "assert rdd.map(lambda x: x * 10).collect() == [10, 20, 30]\n"
        "def double(batches):\n"
        "    for pdf in batches:\n"
        "        yield pdf.assign(id=pdf['id'] * 2)\n"
        "rows = spark.range(4).mapInPandas(double, 'id long').collect()\n"
        "assert sorted(r.id for r in rows) == [0, 2, 4, 6]\n"
        "spark.stop()\n"
        "print('ok')\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("ok")
