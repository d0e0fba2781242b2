"""Sinks round-trips + the bucketed-join no-shuffle guarantee."""

from __future__ import annotations

from pyspark.sql import functions as F

from ray_mapreduce_spark.sources import load_table
from ray_mapreduce_spark.sources.sinks import (
    write_bucketed_table,
    write_csv,
    write_json,
    write_parquet,
)


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_pq")
    write_parquet(src, p)
    back = spark.read.parquet(p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders")
    p = str(tmp_path / "orders_part")
    write_parquet(src, p, partition_by=["o_orderstatus"])
    back = spark.read.parquet(p).filter(F.col("o_orderstatus") == "F")
    # partition pruning: the physical plan must carry the partition filter
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus" in plan
    expected = src.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "region")
    write_csv(src, str(tmp_path / "region_csv"))
    write_json(src, str(tmp_path / "region_json"))
    csv_back = spark.read.option("header", "true").option("inferSchema", "true").csv(
        str(tmp_path / "region_csv")
    )
    json_back = spark.read.json(str(tmp_path / "region_json"))
    assert csv_back.count() == src.count()
    assert json_back.count() == src.count()
    assert set(json_back.columns) == set(src.columns)


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """Both sides bucketed on the join key -> sort-merge join with NO
    exchange: the physical plan the same join must produce on a 100 TB
    warehouse table."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    write_bucketed_table(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
                         "orders_b", "o_custkey", 8)
    write_bucketed_table(customer.select("c_custkey", "c_mktsegment"),
                         "customer_b", "c_custkey", 8)
    try:
        # Disable auto-broadcast so the test pins the SMJ-without-
        # exchange shape (broadcast would trivially avoid the shuffle).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(
            spark.table("customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it computes the right thing
        expected = orders.join(customer, orders.o_custkey == customer.c_custkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_csv_roundtrip(spark, tmp_path):
    """write_csv -> read_csv with explicit schema reproduces the frame
    (header + separator honored)."""
    from ray_mapreduce_spark.sources import read_csv
    from ray_mapreduce_spark.sources.sinks import write_csv

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c,with,commas", 3.5)],
        "id long, name string, score double",
    )
    path = str(tmp_path / "csvout")
    write_csv(df, path)
    back = read_csv(spark, path, schema="id long, name string, score double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # schemaless fallback infers usable types
    inferred = read_csv(spark, path)
    assert inferred.count() == 3


def test_binary_file_source_to_features(spark, tmp_path):
    """Loose files -> binaryFile source -> Arrow decode pipeline; glob
    prunes at listing time."""
    from ray_mapreduce_spark.sources import binary_files_to_features, read_binary_files

    (tmp_path / "a.bin").write_bytes(b"payload-a")
    (tmp_path / "b.bin").write_bytes(b"payload-bb")
    (tmp_path / "skip.txt").write_bytes(b"nope")

    files = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r["doc_path"].rsplit("/", 1)[-1]: r for r in files.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"]["payload"]) == b"payload-a"
    assert rows["b.bin"]["n_bytes"] == 10

    feats = binary_files_to_features(spark, str(tmp_path), glob="*.bin").collect()
    assert len(feats) == 2
    assert all(r["decode_error"] is None and r["width"] > 0 for r in feats)
    # deterministic across runs
    again = binary_files_to_features(spark, str(tmp_path), glob="*.bin").collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))


def test_pipeline_to_partitioned_sink_roundtrip(spark, sf_dir, tmp_path):
    """End-to-end: the clean-corpus pipeline result written as
    lang-partitioned parquet and read back intact, with partition
    pruning active on the partition column."""
    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.sources.sinks import write_parquet

    out = all_queries()["pipeline_clean_corpus"].builder(spark, sf_dir)
    expected = sorted(map(tuple, out.collect()))
    path = str(tmp_path / "clean_corpus")
    write_parquet(out, path, partition_by=["lang"])

    back = spark.read.parquet(path).select("lang", "n_docs", "avg_quality")
    got = sorted((r["lang"], r["n_docs"], r["avg_quality"]) for r in back.collect())
    assert got == [(l, n, q) for (l, n, q) in expected]

    # partition pruning: a lang filter must hit PartitionFilters
    one = back.filter(back.lang == expected[0][0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:120]


def test_jsonl_round_trip(spark, sf_dir, tmp_path):
    """write_json -> read_jsonl with an explicit schema reproduces the
    frame exactly (and inference-fallback agrees on this simple
    schema)."""
    from ray_mapreduce_spark.sources import load_table, read_jsonl
    from ray_mapreduce_spark.sources.sinks import write_json

    d = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    path = str(tmp_path / "region_jsonl")
    write_json(d, path)
    back = read_jsonl(spark, path, schema="r_regionkey bigint, r_name string")
    want = sorted(tuple(r) for r in d.collect())
    assert sorted(tuple(r) for r in back.select("r_regionkey", "r_name").collect()) == want
    inferred = read_jsonl(spark, path)
    assert sorted(tuple(r) for r in inferred.select("r_regionkey", "r_name").collect()) == want


def test_orc_round_trip(spark, sf_dir, tmp_path):
    from ray_mapreduce_spark.sources import load_table
    from ray_mapreduce_spark.sources.sinks import read_orc, write_orc

    d = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = str(tmp_path / "nation_orc")
    write_orc(d, path)
    back = read_orc(spark, path).select("n_nationkey", "n_name", "n_regionkey")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, d.collect()))
    assert dict(back.dtypes) == dict(d.dtypes)  # schema from footer, no inference


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from ray_mapreduce_spark.sources import load_table
    from ray_mapreduce_spark.sources.sinks import compact_parquet

    d = load_table(spark, sf_dir, "orders").repartition(64)
    src = str(tmp_path / "fragmented")
    d.write.parquet(src)
    n_in = len(spark.read.parquet(src).inputFiles())
    assert n_in >= 32  # genuinely fragmented

    dst = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, src, dst, target_mb=256)
    assert n_out < n_in / 4
    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert b.count() == a.count()
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, a.collect()))

    # no-shuffle variant also preserves content
    dst2 = str(tmp_path / "compacted2")
    n2 = compact_parquet(spark, src, dst2, target_mb=256, shuffle=False)
    assert n2 < n_in / 4
    assert spark.read.parquet(dst2).count() == a.count()


def test_manifest_text_datasource(spark, tmp_path):
    """The reference's multi-file manifest ingestion as a registered
    Spark 4 Python DataSource: one partition per listed file,
    driver reads only the index."""
    from ray_mapreduce_spark.sources.pydatasource import register_manifest_source

    files = []
    for i in range(3):
        p = tmp_path / f"f{i}.txt"
        p.write_text("".join(f"file{i}-line{j}\n" for j in range(5)))
        files.append(str(p))
    index = tmp_path / "index.txt"
    index.write_text("\n".join(files) + "\n")

    register_manifest_source(spark)
    df = spark.read.format("manifest_text").option("index", str(index)).load()
    rows = df.collect()
    assert len(rows) == 15
    assert df.rdd.getNumPartitions() == 3  # one partition per listed file
    got = {(r["path"], r["line_no"], r["value"]) for r in rows}
    assert (files[1], 2, "file1-line2") in got
    # composes with ordinary DataFrame ops
    per_file = {r["path"]: r["n"] for r in df.groupBy("path").count().withColumnRenamed("count", "n").collect()}
    assert per_file == {f: 5 for f in files}


def test_zorder_write_improves_multicol_skipping(spark, tmp_path):
    """Z-ordered files must be tighter (smaller per-file min/max span)
    than hash layout in BOTH columns simultaneously — the property
    file-skipping needs; content survives byte-identical."""
    from pyspark.sql import functions as F

    from ray_mapreduce_spark.sources.sinks import write_zordered

    df = (
        spark.range(20_000)
        .select(
            F.col("id"),
            (F.hash(F.col("id"), F.lit(1)) % 1000).alias("x"),
            (F.hash(F.col("id"), F.lit(2)) % 1000).alias("y"),
        )
    )
    zpath = str(tmp_path / "z")
    hpath = str(tmp_path / "h")
    write_zordered(df, zpath, ["x", "y"], n_files=8)
    df.repartition(8).write.parquet(hpath)

    def mean_span(path, col):
        per = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("span"))
            .agg(F.avg("span"))
            .collect()[0][0]
        )
        return per

    for c in ("x", "y"):
        assert mean_span(zpath, c) < 0.7 * mean_span(hpath, c), c
    a = sorted(tuple(r) for r in spark.read.parquet(zpath).collect())
    b = sorted(tuple(r) for r in df.collect())
    assert a == b


def test_merge_upsert_parquet(spark, tmp_path):
    """MERGE semantics: updates replace on key, new keys insert,
    delete-marked keys drop, untouched base rows survive byte-equal;
    duplicate-keyed updates raise."""
    import pytest
    from pyspark.sql import functions as F

    from ray_mapreduce_spark.sources.sinks import merge_upsert_parquet

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, name string, v double",
    )
    base_path = str(tmp_path / "base")
    base.write.parquet(base_path)

    updates = spark.createDataFrame(
        [
            (2, "B2", 21.0, False),   # update
            (5, "e", 50.0, False),    # insert
            (3, "c", 0.0, True),      # delete
            (9, "x", 0.0, True),      # delete of absent key: no-op
        ],
        "id long, name string, v double, is_deleted boolean",
    )
    dst = str(tmp_path / "merged")
    stats = merge_upsert_parquet(
        spark, base_path, updates, dst, key="id", delete_col="is_deleted"
    )
    assert stats == {"inserted": 1, "updated": 1, "deleted": 1, "total": 4}
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(dst).collect()}
    assert got == {1: ("a", 10.0), 2: ("B2", 21.0), 4: ("d", 40.0), 5: ("e", 50.0)}

    dup = spark.createDataFrame(
        [(2, "x", 1.0, False), (2, "y", 2.0, False)],
        "id long, name string, v double, is_deleted boolean",
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_upsert_parquet(
            spark, base_path, dup, str(tmp_path / "m2"), key="id",
            delete_col="is_deleted",
        )

    # upsert-only path (no delete column)
    stats2 = merge_upsert_parquet(
        spark, base_path,
        updates.drop("is_deleted"),
        str(tmp_path / "m3"), key="id",
    )
    assert stats2 == {"inserted": 2, "updated": 2, "deleted": 0, "total": 6}


def test_manifest_text_write_then_read_roundtrip(spark, tmp_path):
    """The custom DataSource WRITE path: task-per-file output + a
    driver-committed index listing exactly the committed files; the
    manifest_text READER then consumes its own writer's output
    (write/read round-trip through the same registered format)."""
    from ray_mapreduce_spark.sources.pydatasource import register_manifest_source

    register_manifest_source(spark)
    vals = [f"record-{i:03d}" for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], "value string").repartition(4)
    out = str(tmp_path / "mtab")
    df.write.format("manifest_text").option("dir", out).mode("append").save()

    import os

    index = os.path.join(out, "index.txt")
    assert os.path.exists(index)
    listed = [ln.strip() for ln in open(index) if ln.strip()]
    assert len(listed) == 4
    on_disk = {os.path.join(out, f) for f in os.listdir(out)} - {index}
    assert set(listed) == on_disk  # index lists exactly the committed files

    back = (
        spark.read.format("manifest_text").option("index", index).load()
    )
    assert sorted(r.value for r in back.collect()) == sorted(vals)
    assert back.select("path").distinct().count() == 4


def test_csv_with_rejects_dlq(spark, tmp_path):
    """Malformed rows land in the DLQ with their raw text; good rows
    parse clean; the persisted rejects file replays."""
    from ray_mapreduce_spark.sources.text import read_csv_with_rejects

    src = tmp_path / "in.csv"
    src.write_text(
        "id,price,name\n"
        "1,9.99,widget\n"
        "2,notanumber,gadget\n"
        "3,1.50,sprocket\n"
        "broken row with no commas at all extra,fields,here,overflow\n"
    )
    rej_path = str(tmp_path / "rejects")
    good, rejects = read_csv_with_rejects(
        spark,
        str(src),
        "id INT, price DOUBLE, name STRING",
        rejects_path=rej_path,
    )
    g = {r["id"]: (r["price"], r["name"]) for r in good.collect()}
    assert g == {1: (9.99, "widget"), 3: (1.5, "sprocket")}
    raws = [r["raw"] for r in rejects.collect()]
    assert len(raws) == 2
    assert any("notanumber" in r for r in raws)
    replay = spark.read.json(rej_path)
    assert replay.count() == 2


def _sorted_rows(spark, path):
    """Rows of a parquet directory as tuples, sorted with None first."""
    rows = [tuple(r) for r in spark.read.parquet(path).collect()]
    return sorted(rows, key=lambda t: [(v is not None, v) for v in t])


def test_merge_upsert_parquet_edge_cases(spark, tmp_path):
    """Pins MERGE stats and written rows on the inputs the unit test
    above does not cover: duplicate base keys (``deleted`` counts base
    rows, ``updated`` counts update rows), a composite key, an empty
    update batch, a null delete flag (the key still leaves the base,
    but the row is neither kept, inserted, updated nor counted as
    deleted) and null keys (never match: a null-keyed base row
    survives, a null-keyed update inserts, two null-keyed updates are
    duplicates)."""
    import pytest

    from ray_mapreduce_spark.sources.sinks import merge_upsert_parquet

    schema = "id long, name string, v double"
    uschema = schema + ", del boolean"

    def merge(tag, base_rows, update_rows, key="id", bschema=schema, uschema=uschema,
              delete_col="del"):
        base_path = str(tmp_path / f"{tag}_base")
        spark.createDataFrame(base_rows, bschema).write.parquet(base_path)
        updates = spark.createDataFrame(update_rows, uschema)
        if delete_col is None:
            updates = updates.drop("del")
        dst = str(tmp_path / f"{tag}_merged")
        stats = merge_upsert_parquet(spark, base_path, updates, dst, key=key,
                                     delete_col=delete_col)
        return stats, _sorted_rows(spark, dst)

    # duplicate base keys
    dup_base = [(1, "a", 1.0), (1, "a2", 1.5), (2, "b", 2.0), (2, "b2", 2.5), (3, "c", 3.0)]
    dup_upd = [(1, "X", 10.0, False), (2, "gone", 0.0, True), (4, "d", 4.0, False)]
    assert merge("dupbase", dup_base, dup_upd) == (
        {"inserted": 1, "updated": 1, "deleted": 2, "total": 3},
        [(1, "X", 10.0), (3, "c", 3.0), (4, "d", 4.0)],
    )
    assert merge("dupbase_nodel", dup_base, dup_upd, delete_col=None) == (
        {"inserted": 1, "updated": 2, "deleted": 0, "total": 4},
        [(1, "X", 10.0), (2, "gone", 0.0), (3, "c", 3.0), (4, "d", 4.0)],
    )

    # composite key
    cschema = "k1 long, k2 string, v double"
    cbase = [(1, "x", 10.0), (1, "y", 11.0), (2, "x", 20.0)]
    cupd = [
        (1, "x", 100.0, False),  # update
        (1, "z", 12.0, False),   # insert (k1 alone matches, the pair does not)
        (2, "x", 0.0, True),     # delete
        (2, "y", 0.0, True),     # delete of absent key: no-op
    ]
    assert merge("composite", cbase, cupd, key=["k1", "k2"], bschema=cschema,
                 uschema=cschema + ", del boolean") == (
        {"inserted": 1, "updated": 1, "deleted": 1, "total": 3},
        [(1, "x", 100.0), (1, "y", 11.0), (1, "z", 12.0)],
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge("composite_dup", cbase, [(1, "x", 1.0, False), (1, "x", 2.0, False)],
              key=["k1", "k2"], bschema=cschema, uschema=cschema + ", del boolean")
    assert not (tmp_path / "composite_dup_merged").exists()

    # empty update batch
    base = [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    for delete_col in ("del", None):
        assert merge(f"empty_{delete_col}", base, [], delete_col=delete_col) == (
            {"inserted": 0, "updated": 0, "deleted": 0, "total": 3},
            base,
        )

    # null delete flag
    assert merge("nullflag", base, [(2, "B", 20.0, None), (5, "e", 5.0, None)]) == (
        {"inserted": 0, "updated": 0, "deleted": 0, "total": 2},
        [(1, "a", 1.0), (3, "c", 3.0)],
    )

    # null key on both sides
    nbase = [(None, "n", 0.0), (1, "a", 1.0)]
    assert merge("nullkey", nbase, [(None, "N", 9.0, False), (1, "A", 10.0, False)]) == (
        {"inserted": 1, "updated": 1, "deleted": 0, "total": 3},
        [(None, "N", 9.0), (None, "n", 0.0), (1, "A", 10.0)],
    )
    assert merge("nullkey_del", nbase, [(None, "x", 0.0, True)]) == (
        {"inserted": 0, "updated": 0, "deleted": 0, "total": 2},
        [(None, "n", 0.0), (1, "a", 1.0)],
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge("nullkey_dup", nbase, [(None, "x", 1.0, False), (None, "y", 2.0, False)])


def test_compact_parquet_shuffle_path_splits_large_input(spark, tmp_path):
    """An input larger than ``target_mb`` takes the ``repartition(n)``
    branch: more than one output file, evenly filled even though the
    input files are skewed (a coalesce would keep the skew), the same
    rows, and the returned count is the number of files written."""
    from ray_mapreduce_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "src")
    rows = spark.range(60_000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("h")
    )
    rows.filter("id < 45000").coalesce(1).write.parquet(src)
    rows.filter("id >= 45000").repartition(3).write.mode("append").parquet(src)
    size = spark.read.parquet(src)._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(size) > 1024 * 1024
    dst = str(tmp_path / "dst")
    n = compact_parquet(spark, src, dst, target_mb=1)
    assert n > 1
    per_file = [
        r["count"]
        for r in spark.read.parquet(dst).groupBy(F.input_file_name()).count().collect()
    ]
    assert len(per_file) == n
    assert max(per_file) <= 1.05 * min(per_file)
    assert _sorted_rows(spark, dst) == _sorted_rows(spark, src)


def test_sink_job_counts(spark, tmp_path):
    """Spark jobs per call, the fixed cost that dominates these sinks
    at CDC batch sizes: merge_upsert_parquet runs one stats aggregate
    and one observed write (7 jobs with parquet-backed base and
    updates), and a single-file compact_parquet runs one schema
    inference and one write (2 jobs)."""
    from ray_mapreduce_spark.sources.sinks import compact_parquet, merge_upsert_parquet

    sc = spark.sparkContext
    base_path, upd_path = str(tmp_path / "base"), str(tmp_path / "updates")
    spark.range(2000).selectExpr("id", "cast(id * 2 as double) v").write.parquet(base_path)
    spark.range(1900, 2100).selectExpr(
        "id", "cast(id as double) v", "id % 3 = 0 del"
    ).write.parquet(upd_path)
    updates = spark.read.parquet(upd_path)

    def jobs(group, call):
        sc.setJobGroup(group, group)
        try:
            result = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    merged = str(tmp_path / "merged")
    stats, n_merge = jobs(
        "test_sink_job_counts.merge",
        lambda: merge_upsert_parquet(spark, base_path, updates, merged, key="id",
                                     delete_col="del"),
    )
    assert stats == {"inserted": 67, "updated": 67, "deleted": 33, "total": 2034}
    n_files, n_compact = jobs(
        "test_sink_job_counts.compact",
        lambda: compact_parquet(spark, merged, str(tmp_path / "compacted")),
    )
    assert n_files == 1
    assert (n_merge, n_compact) == (7, 2)
    assert sc.getLocalProperty("spark.jobGroup.id") is None
