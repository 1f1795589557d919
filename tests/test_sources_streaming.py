"""Sources (generate/read/write) + streaming tests."""

import json

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.sources import (
    read,
    read_geojson,
    st_drivers,
    st_generatepoints,
    st_read_meta,
    st_read_osm,
    st_write,
)
from duckdb_spatial_spark.streaming import drain, streaming_extent_agg
import duckdb_spatial_spark.functions as ST


def test_generatepoints_deterministic_uniform(spark):
    a = st_generatepoints(spark, 0, 0, 100, 100, 10000, seed=7)
    b = st_generatepoints(spark, 0, 0, 100, 100, 10000, seed=7).repartition(13)
    sa = a.agg(F.sum("x"), F.sum("y")).collect()[0]
    sb = b.agg(F.sum("x"), F.sum("y")).collect()[0]
    # partitioning-independent determinism (fp addition order may differ)
    assert sa[0] == pytest.approx(sb[0], rel=1e-12)
    assert sa[1] == pytest.approx(sb[1], rel=1e-12)
    stats = a.agg(F.min("x"), F.max("x"), F.avg("x"), F.avg("y")).collect()[0]
    assert 0 <= stats[0] and stats[1] <= 100
    assert abs(stats[2] - 50) < 2 and abs(stats[3] - 50) < 2
    c = st_generatepoints(spark, 0, 0, 100, 100, 10000, seed=8)
    assert c.agg(F.sum("x")).collect()[0][0] != sa[0]


def test_geojson_roundtrip(spark, tmp_path):
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [1, 2]},
                "properties": {"name": "a", "v": 1},
            },
            {
                "type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]]},
                "properties": {"name": "b", "v": 2},
            },
        ],
    }
    p = tmp_path / "x.geojson"
    p.write_text(json.dumps(fc))
    df = read_geojson(spark, str(p))
    rows = df.select(ST.st_astext("geom").alias("t"), "properties").collect()
    texts = sorted(r["t"] for r in rows)
    assert texts == ["POINT (1 2)", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"]
    # replacement-scan dispatch
    df2 = read(spark, str(p))
    assert df2.count() == 2

    out = tmp_path / "out_geojson"
    st_write(df, str(out), fmt="geojson", single_file=True)
    back = read_geojson(spark, str(out / "*.txt"))
    assert back.count() == 2


def test_write_csv_wkt(spark, tmp_path):
    df = spark.createDataFrame([(1, "POINT (1 2)")], ["id", "wkt"]).withColumn(
        "geom", ST.st_geomfromtext("wkt")
    )
    out = tmp_path / "pts_csv"
    st_write(df.select("id", "geom"), str(out), fmt="csv")
    back = spark.read.csv(str(out), header=True)
    assert back.collect()[0]["geom"] == "POINT (1 2)"


def test_read_meta_and_drivers(spark):
    meta = st_read_meta(spark, "/root/testdata/sf0.001/lineitem.parquet").collect()[0]
    assert meta["driver"] == "parquet" and meta["num_rows"] > 0
    drv = {r["short_name"]: r["can_open"] for r in st_drivers(spark).collect()}
    assert drv["parquet"] and drv["geojson"]
    assert drv["osm.pbf"] and drv["gdb"]  # both native now


def test_osm_missing_file(spark):
    # OSM reading is implemented now (tests/test_osm.py); a missing path
    # fails at bind time with a filesystem error, not NotImplementedError
    with pytest.raises(FileNotFoundError):
        st_read_osm(spark, "x.osm.pbf")


def test_ogr_gated(spark, tmp_path):
    # .gdb and .tab are native as of round 3 (geom/gdbtable.py,
    # geom/tabmap.py) — garbage bytes are a codec error (bad magic /
    # missing sidecar), not a missing-pyogrio gate
    gdb = tmp_path / "zones.gdb"
    gdb.write_bytes(b"\x00" * 10)
    with pytest.raises((ValueError, OSError)):
        read(spark, str(gdb))
    tab = tmp_path / "zones.tab"
    tab.write_bytes(b"\x00" * 10)
    with pytest.raises((ValueError, OSError)):
        read(spark, str(tab))


def test_gpkg_native_corrupt_raises(spark, tmp_path):
    gpkg = tmp_path / "zones.gpkg"
    gpkg.write_bytes(b"\x00" * 10)
    with pytest.raises(Exception):
        read(spark, str(gpkg))


def test_shp_native_corrupt_raises(spark, tmp_path):
    # .shp no longer hits the pyogrio gate — the native reader parses it
    # and rejects garbage bytes
    shp = tmp_path / "zones.shp"
    shp.write_bytes(b"\x00" * 10)
    with pytest.raises(Exception, match="shp|truncated"):
        read(spark, str(shp)).collect()


def test_streaming_extent_agg(spark):
    agg = streaming_extent_agg(_events_stream(spark), "ts", "x", "y",
                               window="1 day")
    rows = drain(agg, "complete").collect()
    assert len(rows) > 0
    assert all(r["xmin"] <= r["xmax"] and r["ymin"] <= r["ymax"] for r in rows)


def _events_stream(spark, sf="/root/testdata/sf0.001"):
    from duckdb_spatial_spark.sources.tables import stream_table

    return (
        stream_table(spark, sf, "events")
        .withColumn("x", F.col("value"))
        .withColumn("y", (F.col("user_id") % 100).cast("double"))
    )


def test_streaming_spatial_join(spark):
    from duckdb_spatial_spark.functions import st_geomfromtext, st_point
    from duckdb_spatial_spark.streaming import streaming_spatial_join

    zones = (
        spark.createDataFrame(
            [(1, "POLYGON ((0 0, 250 0, 250 100, 0 100, 0 0))"),
             (2, "POLYGON ((250 0, 500 0, 500 100, 250 100, 250 0))")],
            ["zone_id", "zwkt"],
        )
        .coalesce(1)
        .select("zone_id", st_geomfromtext("zwkt").alias("zone"))
    )
    stream = _events_stream(spark).select(
        "event_id", st_point("x", "y").alias("pt")
    )
    joined = streaming_spatial_join(stream, zones, "within", "pt", "zone")
    rows = {r["zone_id"]: r["count"] for r in
            drain(joined.groupBy("zone_id").count(), "complete").collect()}
    assert rows and all(v > 0 for v in rows.values())
    # against batch ground truth
    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n1 = batch.filter((F.col("value") > 0) & (F.col("value") < 250)
                      & ((F.col("user_id") % 100) > 0) & ((F.col("user_id") % 100) < 100)).count()
    assert rows.get(1, 0) == n1


def test_streaming_dedup_exact(spark):
    from duckdb_spatial_spark.streaming import streaming_dedup_exact

    sf = "/root/testdata/sf0.001"
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{sf}/documents.parquet").schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
        .withColumn("ts", F.current_timestamp())
    )
    deduped = streaming_dedup_exact(stream, "text", "ts")
    n_out = drain(deduped, "append").count()
    n_distinct = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(F.xxhash64(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")))
        .distinct().count()
    )
    assert n_out == n_distinct


def test_streaming_session_extents(spark):
    from duckdb_spatial_spark.streaming import streaming_session_extents

    stream = _events_stream(spark)
    sess = streaming_session_extents(
        stream, "event_type", "x", "y", "ts",
        watermark="1 day", timeout="1 minute",
    )
    rows = drain(sess, "update").collect()
    assert rows
    for r in rows:
        assert r["xmin"] <= r["xmax"] and r["ymin"] <= r["ymax"] and r["n"] > 0


def _session_state(spark):
    """Temp views, active streams and session conf: what a drain must
    leave as it found them."""
    return ({t.name for t in spark.catalog.listTables() if t.isTemporary},
            [q.id for q in spark.streams.active], dict(spark.conf.getAll))


@pytest.mark.parametrize("state_partitions", [None, 3])
def test_drain_owns_its_rows_and_leaves_the_session(spark, state_partitions):
    before = _session_state(spark)
    agg = streaming_extent_agg(_events_stream(spark), "ts", "x", "y",
                               window="1 day")
    out = drain(agg, "complete", state_partitions=state_partitions)
    assert _session_state(spark) == before
    # the sink view is gone: the frame still reads the rows, every time
    first = sorted(map(tuple, out.collect()))
    assert first and sorted(map(tuple, out.collect())) == first


def test_drain_raises_stream_error_and_leaves_the_session(spark):
    @F.udf("double")
    def boom(x):
        raise ValueError("drain-test-boom")

    before = _session_state(spark)
    bad = _events_stream(spark).select(boom("x").alias("b"))
    with pytest.raises(Exception, match="drain-test-boom"):
        drain(bad, "append", state_partitions=3)
    assert _session_state(spark) == before


def test_drain_terminates_processing_time_timeout_stream(spark):
    import threading

    from duckdb_spatial_spark.streaming import streaming_session_extents

    sess = streaming_session_extents(
        _events_stream(spark), "event_type", "x", "y", "ts",
        watermark="1 day", timeout="1 minute")
    got = []
    t = threading.Thread(target=lambda: got.append(
        drain(sess, "update").count()), daemon=True)
    t.start()
    t.join(120)
    if t.is_alive():  # a regression must fail the test, not hang the suite
        for q in spark.streams.active:
            q.stop()
    assert not t.is_alive(), "drain did not terminate"
    assert got and got[0] > 0


def test_streaming_neardup_dedup(spark, tmp_path):
    """Near-duplicate rows (same first minhash band) collapse within the
    watermark; distinct texts survive."""
    from duckdb_spatial_spark.streaming import streaming_neardup_dedup

    src = tmp_path / "neardup_src"
    src.mkdir()
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely different text about training data pipelines"),
    ]
    spark.createDataFrame(rows, ["id", "text"]).coalesce(1).write.parquet(
        str(src / "batch")
    )
    stream = (
        spark.readStream.schema("id long, text string")
        .parquet(str(src / "batch"))
        .withColumn("ts", F.current_timestamp())
    )
    out = streaming_neardup_dedup(stream, "text", "ts")
    ids = sorted(r["id"] for r in drain(out, "append").collect())
    assert 3 in ids           # distinct doc survives
    assert len(ids) == 2      # the exact/near pair collapsed to one


def test_streaming_multimodal_image_features(spark, tmp_path):
    """The multimodal tier composes with Structured Streaming: a stream of
    binary image payloads runs through image_features (mapInPandas) and a
    windowless aggregate — the 100-TB shape for continuous media
    ingestion."""
    import numpy as np

    from duckdb_spatial_spark.operators import image_features
    from duckdb_spatial_spark.operators.media_codecs import encode_png

    src = tmp_path / "imgs"
    src.mkdir()
    rows = []
    for i in range(12):
        img = np.full((8, 8, 3), i * 20 % 255, dtype=np.uint8)
        rows.append((i, bytearray(encode_png(img))))
    spark.createDataFrame(rows, "id long, payload binary").write.parquet(
        str(src / "batch0.parquet"))

    stream = spark.readStream.schema("id long, payload binary").parquet(
        str(src / "batch0.parquet"))
    feats = image_features(stream, "payload").select(
        "id", F.col("img_features.mean_r").alias("mr"))
    got = {r["id"]: r["mr"] for r in drain(feats, "append").collect()}
    assert len(got) == 12
    for i in range(12):
        assert abs(got[i] - (i * 20 % 255)) < 1e-9


def test_streaming_interval_join(spark, tmp_path):
    """Stream-stream interval join (impressions↔clicks shape) equals the
    batch join over the same data — availableNow drains the files."""
    from duckdb_spatial_spark.streaming import streaming_interval_join

    rows_l = [(k, f"2024-01-01 10:{m:02d}:00") for k in range(4)
              for m in (0, 20, 40)]
    rows_r = [(k, f"2024-01-01 10:{m:02d}:00") for k in range(4)
              for m in (5, 25, 59)]
    ldf = spark.createDataFrame(rows_l, "k long, lt string") \
        .select("k", F.col("lt").cast("timestamp").alias("lt"))
    rdf = spark.createDataFrame(rows_r, "k long, rt string") \
        .select("k", F.col("rt").cast("timestamp").alias("rt"))
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    ldf.write.parquet(lp)
    rdf.write.parquet(rp)

    ls = spark.readStream.schema(ldf.schema).parquet(lp)
    rs = spark.readStream.schema(rdf.schema).parquet(rp)
    j = streaming_interval_join(ls, rs, "k", "lt", "rt",
                                lower="0 seconds", upper="10 minutes",
                                watermark="2 hours")
    got = {(r.k, str(r.lt), str(r.rt))
           for r in drain(j, "append").collect()}

    want = {(rl[0], str(l.lt), str(r.rt))
            for rl, l in zip(rows_l, ldf.collect())
            for rr, r in zip(rows_r, rdf.collect())
            if rl[0] == rr[0]
            and 0 <= (r.rt - l.lt).total_seconds() <= 600}
    assert got == want and len(got) == 4 * 2  # 10:00→10:05, 10:20→10:25


def test_streaming_hamming_dedup(spark, tmp_path):
    """Identical fingerprints collapse within the watermark; a different
    fingerprint survives — the exact streaming tier feeding
    hamming_neardup_pairs batch compaction (image/audio dedup)."""
    from duckdb_spatial_spark.streaming import streaming_hamming_dedup

    src = tmp_path / "hamdedup_src"
    src.mkdir()
    rows = [
        (1, 0x1234567890ABCDEF),
        (2, 0x1234567890ABCDEF),          # exact dup → dropped
        (3, 0x1234567890ABCD00),          # band 0 differs → survives
    ]
    spark.createDataFrame(rows, ["img_id", "ph"]).coalesce(1).write.parquet(
        str(src / "batch"))
    stream = (
        spark.readStream.schema("img_id long, ph long")
        .parquet(str(src / "batch"))
        .withColumn("ts", F.current_timestamp())
    )
    out = streaming_hamming_dedup(stream, "ph", "ts")
    ids = sorted(r["img_id"] for r in drain(out, "append").collect())
    assert 3 in ids and len(ids) == 2


def test_streaming_count_min_equals_batch_sketch(spark, tmp_path):
    """The streamed CMS cells (availableNow drain, one closed window)
    equal the batch count_min_sketch over the same items — the
    sketch-merge contract across the batch/stream boundary."""
    from duckdb_spatial_spark.operators.sketch import count_min_sketch
    from duckdb_spatial_spark.streaming import streaming_count_min

    src = tmp_path / "cms_src"
    src.mkdir()
    rows = [(i, f"item-{i % 37}", "2024-01-01 00:%02d:00" % (i % 50))
            for i in range(400)]
    # sentinel two days later: advances the watermark past day 1 so the
    # day-1 window CLOSES and append mode emits it during the drain
    sentinel = [(9999, "late", "2024-01-03 00:00:00")]
    (spark.createDataFrame(rows + sentinel, "id long, w string, ts string")
     .withColumn("ts", F.to_timestamp("ts"))
     .coalesce(1).write.parquet(str(src / "batch")))
    stream = (spark.readStream.schema("id long, w string, ts timestamp")
              .parquet(str(src / "batch")))
    out = streaming_count_min(stream, F.col("w"), "ts", depth=4, width=64,
                              window="1 day", watermark="0 seconds")
    # not drain(): only the trailing no-data batch closes the day-1 window
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("cms_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    day1 = "2024-01-01"
    got = {(r["row"], r["col"]): r["cnt"]
           for r in spark.table("cms_out").collect()
           if str(r["window"]["start"]).startswith(day1)}
    batch = count_min_sketch(
        spark.createDataFrame(rows, "id long, w string, ts string"),
        F.col("w"), depth=4, width=64)
    want = {(r["row"], r["col"]): r["cnt"] for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_hll_equals_batch_registers(spark, tmp_path):
    """Streamed HLL registers for the closed window equal the batch
    hll_registers over the same items, and hll_estimate reads them
    unchanged."""
    from duckdb_spatial_spark.operators.sketch import (hll_estimate,
                                                       hll_registers)
    from duckdb_spatial_spark.streaming import streaming_hll

    src = tmp_path / "hll_src"
    src.mkdir()
    rows = [(i, f"item-{i % 300}", "2024-01-01 00:%02d:00" % (i % 50))
            for i in range(900)] + [(9999, "late", "2024-01-03 00:00:00")]
    (spark.createDataFrame(rows, "id long, w string, ts string")
     .withColumn("ts", F.to_timestamp("ts"))
     .coalesce(1).write.parquet(str(src / "batch")))
    stream = (spark.readStream.schema("id long, w string, ts timestamp")
              .parquet(str(src / "batch")))
    out = streaming_hll(stream, F.col("w"), "ts", p=8,
                        window="1 day", watermark="0 seconds")
    # not drain(): only the trailing no-data batch closes the day-1 window
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("hll_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["bucket"], r["reg"]) for r in spark.table("hll_out").collect()
           if str(r["window"]["start"]).startswith("2024-01-01")}
    batch = hll_registers(
        spark.createDataFrame(rows[:-1], "id long, w string, ts string"),
        F.col("w"), 8)
    want = {(r["bucket"], r["reg"]) for r in batch.collect()}
    assert got == want
    est = hll_estimate(
        spark.table("hll_out")
        .filter(F.col("window.start").cast("string")
                .startswith("2024-01-01"))
        .select("bucket", "reg"), 8).collect()[0]
    assert abs(est["est"] - 300) / 300 < 0.25
