"""Source-registry and sink-adapter behavior (SURVEY §2.1, §2.2):
daily-layout multi-path reads, empty-day fallback, FAILFAST drift,
dynamic partition overwrite, chunked document push."""

from __future__ import annotations

import contextlib
import json
from datetime import date

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from cmsspark_spark import sinks
from cmsspark_spark.sources.readers import SourceSpec, read_source

SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
    ]
)


def _write_day(tmp_path, day: str, rows: list[str], fmt: str = "csv"):
    d = tmp_path / day
    d.mkdir(parents=True, exist_ok=True)
    header = "id,name\n" if fmt == "csv" else ""
    (d / f"part-0.{fmt}").write_text(header + "\n".join(rows) + "\n")


def test_multi_day_csv_scan_single_read(spark, tmp_path):
    _write_day(tmp_path, "2024/01/01", ["1,alpha", "2,null"])
    _write_day(tmp_path, "2024/01/02", ["3,gamma"])
    spec = SourceSpec(
        name="t_src",
        fmt="csv",
        path_template=str(tmp_path) + "/%Y/%m/%d/part-*.csv",
        schema=SCHEMA,
    )
    df = read_source(spark, spec, start=date(2024, 1, 1), end=date(2024, 1, 2))
    rows = {(r.id, r.name) for r in df.collect()}
    # 'null' literal normalized to None (reference spark_utils.py:287-290)
    assert rows == {(1, "alpha"), (2, None), (3, "gamma")}
    # registered as a temp view (reference registerTempTable behavior)
    assert spark.sql("SELECT count(*) n FROM t_src").collect()[0].n == 3


def test_empty_day_fallback_schema(spark, tmp_path):
    spec = SourceSpec(
        name="t_empty",
        fmt="csv",
        path_template=str(tmp_path) + "/%Y/%m/%d/part-*.csv",
        schema=SCHEMA,
    )
    df = read_source(spark, spec, start=date(2024, 2, 1))
    assert df.count() == 0
    assert df.schema == SCHEMA


def test_empty_day_without_schema_raises(spark, tmp_path):
    spec = SourceSpec(
        name="t_noschema",
        fmt="json",
        path_template=str(tmp_path) + "/%Y/%m/%d/part-*.json",
    )
    with pytest.raises(FileNotFoundError):
        read_source(spark, spec, start=date(2024, 2, 1))


def test_day_delta_widens_scan(spark, tmp_path):
    _write_day(tmp_path, "2024/01/01", ["1,a"])
    _write_day(tmp_path, "2024/01/02", ["2,b"])
    _write_day(tmp_path, "2024/01/03", ["3,c"])
    spec = SourceSpec(
        name="t_slack",
        fmt="csv",
        path_template=str(tmp_path) + "/%Y/%m/%d/part-*.csv",
        schema=SCHEMA,
    )
    exact = read_source(spark, spec, start=date(2024, 1, 2), register=False)
    slack = read_source(
        spark, spec, start=date(2024, 1, 2), day_delta=1, register=False
    )
    assert exact.count() == 1
    assert slack.count() == 3


def test_failfast_aborts_on_drift(spark, tmp_path):
    _write_day(tmp_path, "2024/01/01", ["1,a", "not_an_int,b"])
    spec = SourceSpec(
        name="t_drift",
        fmt="csv",
        path_template=str(tmp_path) + "/%Y/%m/%d/part-*.csv",
        schema=SCHEMA,
        failfast=True,
    )
    df = read_source(spark, spec, start=date(2024, 1, 1), register=False)
    with pytest.raises(Exception):
        df.collect()


def test_json_partial_schema_projection(spark, tmp_path):
    d = tmp_path / "2024" / "03" / "01"
    d.mkdir(parents=True)
    recs = [
        {"data": {"site": "T1_A", "cpu": 1.5, "noise": "x" * 50}},
        {"data": {"site": "T2_B", "cpu": 2.5, "noise": "y" * 50}},
    ]
    (d / "part-0.json").write_text("\n".join(json.dumps(r) for r in recs))
    partial = StructType(
        [
            StructField(
                "data",
                StructType(
                    [
                        StructField("site", StringType()),
                        StructField("cpu", StringType()),
                    ]
                ),
            )
        ]
    )
    spec = SourceSpec(
        name="t_json",
        fmt="json",
        path_template=str(tmp_path) + "/%Y/%m/%d/part-*.json",
        schema=partial,
        flatten="data.*",
    )
    df = read_source(spark, spec, start=date(2024, 3, 1), register=False)
    assert set(df.columns) == {"site", "cpu"}
    assert df.count() == 2


def test_partitioned_parquet_dynamic_overwrite(spark, tmp_path):
    out = str(tmp_path / "curated")
    df1 = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], ["day", "v"]
    )
    sinks.write_partitioned_parquet(df1, out)
    # overwrite ONLY day=2024-01-02; day=2024-01-01 must survive
    df2 = spark.createDataFrame([("2024-01-02", 99)], ["day", "v"])
    sinks.write_partitioned_parquet(df2, out)
    # partition values read back type-inferred (string day -> DateType)
    back = {(str(r.day), r.v) for r in spark.read.parquet(out).collect()}
    assert back == {("2024-01-01", 1), ("2024-01-02", 99)}


def test_doc_batches_chunks_and_drops_nulls(spark):
    df = spark.createDataFrame(
        [(i, None if i % 2 else f"n{i}") for i in range(10)], ["id", "name"]
    )
    batches = list(sinks.doc_batches(df, chunk_size=4))
    docs = [d for b in batches for d in b]
    assert len(docs) == 10
    assert all(len(b) <= 4 for b in batches)
    assert all("name" not in d for d in docs if d["id"] % 2)


def test_push_documents_driver_side(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "name"])
    got: list[list[dict]] = []
    sinks.push_documents(df, got.append, chunk_size=10, executor_side=False)
    docs = [d for b in got for d in b]
    assert sorted(d["id"] for d in docs) == [1, 2]
    assert all("name" not in d for d in docs if d["id"] == 2)


def test_push_documents_executor_side(spark, tmp_path):
    # transport runs on executors: capture through the filesystem
    out = tmp_path / "pushed"
    out.mkdir()

    def transport(docs):
        import json as _json
        import os
        import uuid

        p = os.path.join(str(out), uuid.uuid4().hex + ".json")
        with open(p, "w") as fh:
            _json.dump(docs, fh)

    df = spark.createDataFrame([(i,) for i in range(20)], ["id"]).repartition(4)
    sinks.push_documents(df, transport, chunk_size=3, executor_side=True)
    docs = []
    for f in out.glob("*.json"):
        docs.extend(json.loads(f.read_text()))
    assert sorted(d["id"] for d in docs) == list(range(20))


def _write_json_day(base, day: str, lines: list[str], fname="part-0.json"):
    d = base / day
    d.mkdir(parents=True, exist_ok=True)
    (d / fname).write_text("\n".join(lines) + "\n")


def test_versioned_source_spans_era_boundary(spark, tmp_path):
    """A date range crossing a format change reads each era with its
    own path template + schema, normalizes onto canonical columns via
    per-era projections, and unions by name (SURVEY §7.4 EOS drift:
    spark_utils.py:550-566 documents three formats, reads one)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from cmsspark_spark.functions.cms import parse_kv_record
    from cmsspark_spark.sources.readers import Era, SourceSpec, VersionedSource

    # Era 1 (raw-string records, old path layout): data is one k=v&k=v blob.
    _write_json_day(
        tmp_path / "old",
        "2019/12/30",
        ['{"data": "path=/store/a.root&rb=100&host=h1"}'],
    )
    _write_json_day(
        tmp_path / "old",
        "2019/12/31",
        ['{"data": "path=/store/b.root&rb=200&host=h2"}'],
    )
    # Era 2 (structured records, new path layout, extra column).
    _write_json_day(
        tmp_path / "new",
        "2020/01/01",
        ['{"data": {"path": "/store/c.root", "rb": "300", "app": "xrootd"}}'],
    )

    era1 = Era(
        since=date(2019, 1, 1),
        spec=SourceSpec(
            name="eos_v1",
            fmt="json",
            path_template=str(tmp_path / "old") + "/%Y/%m/%d/part-*.json",
            schema=StructType([StructField("data", StringType())]),
        ),
        normalize=lambda df: df.select(
            parse_kv_record("data").alias("m")
        ).select(
            F.col("m")["path"].alias("path"),
            F.col("m")["rb"].cast("long").alias("read_bytes"),
        ),
    )
    era2 = Era(
        since=date(2020, 1, 1),
        spec=SourceSpec(
            name="eos_v2",
            fmt="json",
            path_template=str(tmp_path / "new") + "/%Y/%m/%d/part-*.json",
            schema=StructType(
                [
                    StructField(
                        "data",
                        StructType(
                            [
                                StructField("path", StringType()),
                                StructField("rb", StringType()),
                                StructField("app", StringType()),
                            ]
                        ),
                    )
                ]
            ),
        ),
        normalize=lambda df: df.select(
            F.col("data.path").alias("path"),
            F.col("data.rb").cast("long").alias("read_bytes"),
            F.col("data.app").alias("app"),
        ),
    )
    src = VersionedSource(name="eos", eras=[era1, era2])

    # era resolution
    assert src.era_for(date(2019, 6, 1)) is era1
    assert src.era_for(date(2020, 1, 1)) is era2
    with pytest.raises(ValueError):
        src.era_for(date(2018, 12, 31))

    df = src.read(spark, start=date(2019, 12, 30), end=date(2020, 1, 2))
    rows = {(r.path, r.read_bytes, r.app) for r in df.collect()}
    # era-1 rows carry null for the era-2-only column (unionByName
    # allowMissingColumns), era-2 rows carry it populated
    assert rows == {
        ("/store/a.root", 100, None),
        ("/store/b.root", 200, None),
        ("/store/c.root", 300, "xrootd"),
    }
    # registered under the canonical name
    assert spark.sql("SELECT count(*) n FROM eos").collect()[0].n == 3


def test_versioned_source_single_era_slice(spark, tmp_path):
    """A range entirely inside one era touches only that era's spec."""
    from cmsspark_spark.sources.readers import Era, SourceSpec, VersionedSource

    _write_day(tmp_path, "2024/03/01", ["1,a"])
    era = Era(
        since=date(2024, 1, 1),
        spec=SourceSpec(
            name="v1",
            fmt="csv",
            path_template=str(tmp_path) + "/%Y/%m/%d/part-*.csv",
            schema=SCHEMA,
        ),
    )
    late_era = Era(
        since=date(2024, 6, 1),
        spec=SourceSpec(
            name="v2",
            fmt="csv",
            path_template=str(tmp_path / "nonexistent") + "/%Y/%m/%d/part-*.csv",
            schema=SCHEMA,
        ),
    )
    src = VersionedSource(name="versioned_csv", eras=[era, late_era])
    slices = src.slices(date(2024, 3, 1), date(2024, 3, 2))
    assert len(slices) == 1 and slices[0][0] is era
    df = src.read(spark, start=date(2024, 3, 1), end=date(2024, 3, 2))
    assert df.count() == 1


def test_orc_roundtrip_through_source_spec(spark, tmp_path):
    """S-family breadth: ORC is a first-class columnar format in Spark
    (native reader/writer, predicate pushdown) — SourceSpec passes any
    registered format through, so ORC needs no special casing."""
    from datetime import date as _date

    out = tmp_path / "2024" / "03" / "05"
    out.mkdir(parents=True)
    spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "gamma")], "id long, name string"
    ).write.mode("overwrite").orc(str(out / "day"))
    spec = SourceSpec(
        name="t_orc",
        fmt="orc",
        path_template=str(tmp_path) + "/%Y/%m/%d/day",
    )
    df = read_source(spark, spec, start=_date(2024, 3, 5))
    assert {(r.id, r.name) for r in df.collect()} == {
        (1, "alpha"), (2, None), (3, "gamma")
    }


def test_training_shards_deterministic_and_capped(spark, tmp_path):
    from cmsspark_spark.sinks import write_training_shards

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    m1 = write_training_shards(
        df, p1, "doc_id", num_shards=8, max_records_per_file=20
    ).collect()
    # same data, different incoming partitioning → identical shards
    m2 = write_training_shards(
        df.repartition(13).orderBy(F.rand(3)), p2, "doc_id", num_shards=8
    ).collect()
    assert [tuple(r) for r in m1] == [tuple(r) for r in m2]
    assert sum(r["n_rows"] for r in m1) == 500
    assert {r["shard_id"] for r in m1} == set(range(8))
    # membership is content-derived: re-read shard 3 both sides, same rows
    s1 = {r["doc_id"] for r in spark.read.parquet(p1 + "/_shard_id=3").collect()}
    s2 = {r["doc_id"] for r in spark.read.parquet(p2 + "/_shard_id=3").collect()}
    assert s1 == s2 and s1
    # maxRecordsPerFile respected
    import glob

    for f in glob.glob(p1 + "/_shard_id=*/part-*.parquet"):
        import pyarrow.parquet as pq

        assert pq.read_metadata(f).num_rows <= 20


def test_fixed_schemas_load_csv_failfast(spark, tmp_path):
    """§1.3 regime 1: fixed prefixed schemas pin CSV loads (FAILFAST +
    nullValue='null'), and the empty-day fallback carries the same
    shape so unions never branch on emptiness."""
    from datetime import date as _date

    from cmsspark_spark import schemas

    assert "dbs_files" in schemas.available()
    sch = schemas.schema("dbs_files")
    day = tmp_path / "2024" / "04" / "01"
    day.mkdir(parents=True)
    (day / "part-0.csv").write_text(
        "f_file_id,f_logical_file_name,f_dataset_id,f_block_id,f_event_count,"
        "f_file_size,f_adler32,f_check_sum,f_creation_date,f_is_file_valid\n"
        "1,/store/a.root,10,100,5000,1234.0,abcd,null,1.6e9,1\n"
    )
    spec = SourceSpec(
        name="t_dbs_files",
        fmt="csv",
        path_template=str(tmp_path) + "/%Y/%m/%d/part-*.csv",
        schema=sch,
        failfast=True,
    )
    df = read_source(spark, spec, start=_date(2024, 4, 1))
    row = df.collect()[0]
    assert row["f_logical_file_name"] == "/store/a.root"
    assert row["f_check_sum"] is None  # 'null' literal normalized
    assert df.schema == sch == schemas.empty_fallback("dbs_files")


def test_kvlog_python_datasource(spark, tmp_path):
    """Spark 4 Python DataSource: kv-record logs as a typed source with
    one input partition per file; result matches the text-scan +
    parse_kv_record (str_to_map) path on the same data."""
    from cmsspark_spark.functions.cms import parse_kv_record
    from cmsspark_spark.sources.pyds import KVLogDataSource

    (tmp_path / "day1.log").write_text(
        "path=/store/a&rb=100&wb=5&ts=1700000000\n"
        "path=/store/b&rb=200&ts=1700000001\n"
    )
    (tmp_path / "day2.log").write_text("path=/store/c&rb=300&wb=7&ts=1700000002\n")

    spark.dataSource.register(KVLogDataSource)
    df = (
        spark.read.format("kvlog")
        .option("path", str(tmp_path / "*.log"))
        .option("columns", "path,rb,wb,ts")
        .load()
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == [
        ("/store/a", "100", "5", "1700000000"),
        ("/store/b", "200", None, "1700000001"),
        ("/store/c", "300", "7", "1700000002"),
    ]
    # twin: text scan + Catalyst str_to_map projection
    txt = spark.read.text(str(tmp_path / "*.log"))
    m = txt.select(parse_kv_record("value").alias("m")).select(
        F.col("m")["path"].alias("path"),
        F.col("m")["rb"].alias("rb"),
        F.col("m")["wb"].alias("wb"),
        F.col("m")["ts"].alias("ts"),
    )
    assert sorted(tuple(r) for r in m.collect()) == got
    # file-level parallelism: one partition per file
    assert df.rdd.getNumPartitions() == 2


def test_kvlog_streaming_exactly_once(spark, tmp_path):
    """Streaming kvlog source: the sorted file list is the offset log —
    a restart from the checkpoint reads ONLY files that appeared since
    the committed offset (file-level exactly-once through a
    recoverable parquet sink)."""
    from cmsspark_spark.sources.pyds import KVLogDataSource

    spark.dataSource.register(KVLogDataSource)
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "day-01.log").write_text("path=/a&rb=1&ts=t1\npath=/b&rb=2&ts=t2\n")
    (logs / "day-02.log").write_text("path=/c&rb=3&ts=t3\n")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_batch():
        q = (
            spark.readStream.format("kvlog")
            .option("path", str(logs / "*.log"))
            .option("columns", "path,rb,ts")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run_batch()
    first = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert first == {("/a", "1", "t1"), ("/b", "2", "t2"), ("/c", "3", "t3")}

    # a new day file arrives; restart from the same checkpoint
    (logs / "day-03.log").write_text("path=/d&rb=4&ts=t4\n")
    run_batch()
    again = [tuple(r) for r in spark.read.parquet(out).collect()]
    # exactly the one new row was appended, nothing replayed
    assert sorted(again) == sorted(list(first) + [("/d", "4", "t4")])


def test_read_training_shards_verifies_manifest(spark, tmp_path):
    """Loader contract: subset reads prune to the requested shards and
    a corrupted store fails the manifest check loudly."""
    import glob
    import os

    import pyspark.sql.functions as F
    import pytest

    from cmsspark_spark.sinks import read_training_shards, write_training_shards

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v")
    )
    path = str(tmp_path / "shards")
    manifest = write_training_shards(df, path, key_col="doc_id", num_shards=4)
    manifest = manifest.localCheckpoint()

    whole = read_training_shards(spark, path, manifest=manifest)
    assert whole.count() == 200
    sub = read_training_shards(spark, path, manifest=manifest, shard_ids=[1, 3])
    subset_ids = {r["_shard_id"] for r in sub.select("_shard_id").collect()}
    assert subset_ids == {1, 3}
    assert sub.count() < 200

    # corrupt one shard (drop a file) → integrity check trips
    victim = glob.glob(f"{path}/_shard_id=2/*.parquet")[0]
    os.remove(victim)
    with pytest.raises(ValueError, match="manifest mismatch"):
        read_training_shards(spark, path, manifest=manifest)
    # but reading only intact shards still verifies clean
    ok = read_training_shards(
        spark, path, manifest=manifest, shard_ids=[0, 1, 3]
    )
    assert ok.count() > 0


def test_partlog_batch_read_partition_offsets(spark, tmp_path):
    """Kafka-shaped partlog source, batch side: (partition, offset,
    value) with per-partition monotone offsets across segment files,
    one Spark input partition per log partition."""
    from cmsspark_spark.sources.pyds import PartLogDataSource

    root = tmp_path / "topic"
    (root / "p0").mkdir(parents=True)
    (root / "p1").mkdir()
    (root / "p0" / "000001.log").write_text("a\nb\n")
    (root / "p0" / "000002.log").write_text("c\n")
    (root / "p1" / "000001.log").write_text("x\n")

    spark.dataSource.register(PartLogDataSource)
    df = spark.read.format("partlog").option("path", str(root)).load()
    got = sorted(tuple(r) for r in df.collect())
    assert got == [
        ("p0", 0, "a"), ("p0", 1, "b"), ("p0", 2, "c"), ("p1", 0, "x"),
    ]
    assert df.rdd.getNumPartitions() == 2


def test_partlog_streaming_exactly_once_across_rebalance(spark, tmp_path):
    """VERDICT r10 item 6: checkpoint-recovery exactly-once for the
    partitioned offset source, ACROSS A REBALANCE — new records land
    in existing partitions AND a brand-new partition directory
    appears between restarts; the restarted query consumes exactly
    the unseen records (old partitions resume from their committed
    offsets, the new partition from 0), nothing replayed, nothing
    lost."""
    from cmsspark_spark.sources.pyds import PartLogDataSource

    spark.dataSource.register(PartLogDataSource)
    root = tmp_path / "topic"
    (root / "p0").mkdir(parents=True)
    (root / "p1").mkdir()
    (root / "p0" / "000001.log").write_text("a0\na1\n")
    (root / "p1" / "000001.log").write_text("b0\n")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_batch():
        q = (
            spark.readStream.format("partlog")
            .option("path", str(root))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run_batch()
    first = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert first == [("p0", 0, "a0"), ("p0", 1, "a1"), ("p1", 0, "b0")]

    # rebalance between restarts: p0 grows a new segment, p1 appends
    # in-place... no — segments are immutable; p1 gets a second
    # segment too, and partition p2 APPEARS
    (root / "p0" / "000002.log").write_text("a2\n")
    (root / "p1" / "000002.log").write_text("b1\nb2\n")
    (root / "p2").mkdir()
    (root / "p2" / "000001.log").write_text("c0\n")
    run_batch()
    again = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert again == sorted(
        first
        + [("p0", 2, "a2"), ("p1", 1, "b1"), ("p1", 2, "b2"), ("p2", 0, "c0")]
    )

    # quiescent restart: nothing new, nothing duplicated
    run_batch()
    assert sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    ) == again


def test_partlog_into_snapshot_sink_versioned_ingest(spark, tmp_path):
    """Composition: the Kafka-shaped partlog source feeding the
    exactly-once snapshot sink — streaming ingest into a
    time-travelable table. Each micro-batch commits one snapshot
    version with its batch id recorded; a restart neither loses nor
    duplicates records, and an earlier version still reads exactly
    the corpus as of that batch."""
    from cmsspark_spark.operators import snapshots as SN
    from cmsspark_spark.sources.pyds import PartLogDataSource

    spark.dataSource.register(PartLogDataSource)
    root = tmp_path / "topic"
    (root / "p0").mkdir(parents=True)
    (root / "p0" / "000001.log").write_text("a\nb\n")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run_batch():
        q = (
            spark.readStream.format("partlog")
            .option("path", str(root))
            .load()
            .writeStream.foreachBatch(SN.snapshot_sink(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run_batch()
    v_first = SN.list_snapshots(spark, table)[-1]
    first = sorted(
        tuple(r)
        for r in SN.read_snapshot(spark, table).select(
            "partition", "offset", "value"
        ).collect()
    )
    assert first == [("p0", 0, "a"), ("p0", 1, "b")]

    # new partition + new segment arrive; restart consumes only them
    (root / "p0" / "000002.log").write_text("c\n")
    (root / "p1").mkdir()
    (root / "p1" / "000001.log").write_text("x\n")
    run_batch()
    latest = sorted(
        tuple(r)
        for r in SN.read_snapshot(spark, table).select(
            "partition", "offset", "value"
        ).collect()
    )
    assert latest == sorted(first + [("p0", 2, "c"), ("p1", 0, "x")])
    # time travel: the pre-restart version still reads batch 1 exactly
    again = sorted(
        tuple(r)
        for r in SN.read_snapshot(spark, table, v_first).select(
            "partition", "offset", "value"
        ).collect()
    )
    assert again == first




def _partlog_rows(rdr, parts):
    """Flatten the arrow record batches an executor read yields."""
    out = []
    for pt in parts:
        for b in rdr.read(pt):
            out.extend(
                zip(
                    b.column("partition").to_pylist(),
                    b.column("offset").to_pylist(),
                    b.column("value").to_pylist(),
                )
            )
    return [tuple(r) for r in out]


def test_partlog_replay_of_deleted_segment_fails_loudly(spark, tmp_path):
    """Review r11: a committed range must replay record-exactly — if
    segments were deleted/truncated under a committed offset, the
    reader raises instead of silently shrinking the batch."""
    from cmsspark_spark.sources.pyds import PartLogStreamReader

    root = tmp_path / "topic"
    (root / "p0").mkdir(parents=True)
    (root / "p0" / "000001.log").write_text("a\nb\nc\n")
    rdr = PartLogStreamReader({"path": str(root)})
    end = rdr.latestOffset()
    assert end == {"parts": {"p0": 3}}
    parts = rdr.partitions({"parts": {}}, end)
    rows = _partlog_rows(rdr, parts)
    assert [r[2] for r in rows] == ["a", "b", "c"]

    # replanning the committed range works while the data is intact
    again = _partlog_rows(rdr, rdr.partitions({"parts": {}}, end))
    assert [r[2] for r in again] == ["a", "b", "c"]

    # the segment vanishes; replanning the committed range must raise
    (root / "p0" / "000001.log").unlink()
    rdr2 = PartLogStreamReader({"path": str(root)})
    import pytest

    with pytest.raises(ValueError, match="cannot replay"):
        rdr2.partitions({"parts": {}}, end)


def test_partlog_stream_plans_one_task_per_segment_slice(spark, tmp_path):
    """VERDICT r11 item 1: the stream readers are full
    DataSourceStreamReaders — the driver-side planner hands out one
    InputPartition per (segment × offset-slice) and the records are
    parsed inside executor tasks. Assertions: (a) each micro-batch's
    DataFrame carries exactly as many partitions as planned segment
    slices (3 segments -> 3 tasks, not one driver-prefetched blob);
    (b) the planner API is the partition-based one (no driver-side
    read(start) -> rows path left to fall back to)."""
    from pyspark.sql.datasource import DataSourceStreamReader

    from cmsspark_spark.sources.pyds import (
        KVLogStreamReader,
        PartLogDataSource,
        PartLogStreamReader,
    )

    assert issubclass(PartLogStreamReader, DataSourceStreamReader)
    assert issubclass(KVLogStreamReader, DataSourceStreamReader)

    spark.dataSource.register(PartLogDataSource)
    root = tmp_path / "topic"
    (root / "p0").mkdir(parents=True)
    (root / "p1").mkdir()
    (root / "p0" / "000001.log").write_text("a0\na1\n")
    (root / "p0" / "000002.log").write_text("a2\n")
    (root / "p1" / "000001.log").write_text("b0\nb1\n")

    n_parts: list[int] = []
    rows: list[tuple] = []

    def sink(bdf, _bid):
        n_parts.append(bdf.rdd.getNumPartitions())
        rows.extend(
            (r.partition, r.offset, r.value) for r in bdf.collect()
        )

    q = (
        spark.readStream.format("partlog")
        .option("path", str(root))
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    assert sorted(rows) == [
        ("p0", 0, "a0"), ("p0", 1, "a1"), ("p0", 2, "a2"),
        ("p1", 0, "b0"), ("p1", 1, "b1"),
    ]
    # one task per segment slice: 3 segments across the batch(es)
    assert sum(n_parts) == 3


def test_partlog_planner_slices_offsets_within_segments(tmp_path):
    """Unit contract of partitions(start, end): a range that starts
    mid-segment plans a slice with the right base/lo/hi, whole
    segments below the range are skipped (never re-read), and the
    executor-side read of the slice yields exactly the sliced
    records with dense global offsets."""
    from cmsspark_spark.sources.pyds import PartLogStreamReader

    root = tmp_path / "topic"
    (root / "p0").mkdir(parents=True)
    (root / "p0" / "000001.log").write_text("r0\nr1\nr2\n")
    (root / "p0" / "000002.log").write_text("r3\nr4\n")
    rdr = PartLogStreamReader({"path": str(root)})
    assert rdr.latestOffset() == {"parts": {"p0": 5}}

    # resume from offset 4: only the second segment is planned
    parts = rdr.partitions({"parts": {"p0": 4}}, {"parts": {"p0": 5}})
    assert len(parts) == 1
    (s,) = parts
    assert s.path.endswith("000002.log")
    assert (s.base, s.lo, s.hi) == (3, 4, 5)
    assert _partlog_rows(rdr, [s]) == [("p0", 4, "r4")]

    # a range spanning the boundary plans one slice per segment
    parts = rdr.partitions({"parts": {"p0": 2}}, {"parts": {"p0": 5}})
    assert [(p.base, p.lo, p.hi) for p in parts] == [(0, 2, 3), (3, 3, 5)]
    got = _partlog_rows(rdr, parts)
    assert got == [("p0", 2, "r2"), ("p0", 3, "r3"), ("p0", 4, "r4")]


def test_partlog_sidecar_offsets_are_metadata_only(spark, tmp_path):
    """Segments written with write_partlog_segment carry size-validated
    count sidecars: the stream planner's latestOffset never OPENS a
    segment's bytes (proven by making the segment unreadable), a stale
    sidecar (size mismatch after an append) falls back to a real
    count, and count_partlog_segments backfills legacy segments
    distributively."""
    import builtins
    import json
    import os

    from cmsspark_spark.sources.pyds import (
        PartLogStreamReader,
        count_partlog_segments,
        partlog_sidecar_path,
        write_partlog_segment,
    )

    root = tmp_path / "topic"
    s1 = write_partlog_segment(str(root / "p0"), "000001.log",
                               ["a", "b", "c"])
    write_partlog_segment(str(root / "p0"), "000002.log", ["d"])
    assert json.load(open(partlog_sidecar_path(s1)))["count"] == 3

    # latestOffset plans from sidecars only: opening any *.log file
    # raises inside this block
    rdr = PartLogStreamReader({"path": str(root)})
    real_open = builtins.open

    def guarded(path, *a, **kw):
        if str(path).endswith(".log"):
            raise AssertionError(
                f"driver opened segment bytes: {path}"
            )
        return real_open(path, *a, **kw)

    builtins.open = guarded
    try:
        end = rdr.latestOffset()
    finally:
        builtins.open = real_open
    assert end == {"parts": {"p0": 4}}
    got = _partlog_rows(rdr, rdr.partitions({"parts": {}}, end))
    assert [r[2] for r in got] == ["a", "b", "c", "d"]

    # a grown segment invalidates its sidecar (size mismatch) and the
    # fallback count sees the new records
    with open(s1, "a", encoding="utf-8") as fh:
        fh.write("e\n")
    rdr2 = PartLogStreamReader({"path": str(root)})
    assert rdr2.latestOffset() == {"parts": {"p0": 5}}

    # legacy segment (no sidecar): backfilled by the distributed job,
    # after which planning is metadata-only again
    legacy = root / "p1"
    legacy.mkdir()
    (legacy / "000001.log").write_text("x\ny\n")
    n = count_partlog_segments(spark, str(root))
    assert n == 2  # the legacy segment AND the grown s1
    rdr3 = PartLogStreamReader({"path": str(root)})
    builtins.open = guarded
    try:
        end3 = rdr3.latestOffset()
    finally:
        builtins.open = real_open
    assert end3 == {"parts": {"p0": 5, "p1": 2}}


def test_kvlog_offset_signature_detects_prefix_swap(spark, tmp_path):
    """ADVICE r12: a committed kvlog range whose file-list PREFIX
    changed (early file deleted while a new file arrived — the count
    matches) must fail the replan instead of silently reading the
    wrong files; intact prefixes keep replaying exactly."""
    from pyspark.sql.types import StringType, StructField, StructType

    from cmsspark_spark.sources.pyds import KVLogStreamReader

    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text("k=1\n")
    (d / "b.log").write_text("k=2\n")
    schema = StructType([StructField("k", StringType(), True)])
    rdr = KVLogStreamReader(schema, {"path": str(d / "*.log")})
    end = rdr.latestOffset()
    assert end["idx"] == 2
    # intact: replanning the committed range is fine
    assert len(rdr.partitions({"idx": 0, "sig": end["sig"] and
                               rdr._prefix_sig([], 0)}, end)) == 2

    # swap: delete the FIRST file, add a later one — count unchanged
    (d / "a.log").unlink()
    (d / "c.log").write_text("k=3\n")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="prefix changed"):
        rdr.partitions({"idx": 0, "sig": rdr._prefix_sig([], 0)}, end)

    # pre-signature checkpoints (no sig field) keep the old
    # count-only behavior instead of failing on upgrade
    assert len(rdr.partitions({"idx": 0}, {"idx": 2})) == 2


# ---------------------------------------------------------------------------
# read_parquet: footer-resolved schemas, no inference job
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_job_free_parity(spark, paths, **options):
    """``read_parquet`` equals Spark's inferred read in schema (with
    metadata) and rows, and submits no job while resolving."""
    from cmsspark_spark.sources.readers import read_parquet
    from tests.conftest import jobs_submitted

    with jobs_submitted(spark) as jobs:
        got = read_parquet(spark, *paths, **options)
    want = spark.read.options(**options).parquet(*paths)
    assert jobs() == 0
    assert got.schema == want.schema
    assert got.schema.json() == want.schema.json()
    assert _rows(got) == _rows(want)
    return got


@pytest.mark.parametrize("table", [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
])
def test_read_parquet_single_file_matches_inference(spark, table):
    from tests.conftest import SF_SMOKE

    _assert_job_free_parity(spark, [f"{SF_SMOKE}/{table}.parquet"])


def test_read_parquet_nanos_timestamp_file(spark, tmp_path):
    """TIMESTAMP(NANOS) maps to long under the session's nanosAsLong."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "k": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_000_000_001, 2_000_000_002], pa.timestamp("ns")),
    }), path)
    got = _assert_job_free_parity(spark, [path])
    assert dict(got.dtypes)["ts"] == "bigint"


def test_read_parquet_spark_written_layouts(spark, tmp_path):
    """Flat, ``day=`` (read below the base with ``basePath``),
    ``_shard_id=`` and multi-path reads of Spark-written directories."""
    df = spark.range(40).selectExpr(
        "id", "CAST(id AS STRING) AS s", "id % 3 AS day", "id % 4 AS _shard_id"
    )
    flat, daily, shards = (str(tmp_path / n) for n in ("flat", "daily", "shards"))
    df.coalesce(2).write.parquet(flat)
    df.write.partitionBy("day").parquet(daily)
    df.write.partitionBy("_shard_id").parquet(shards)

    _assert_job_free_parity(spark, [flat])
    got = _assert_job_free_parity(spark, [f"{daily}/day=1"], basePath=daily)
    assert "day" in got.columns
    _assert_job_free_parity(spark, [shards])
    _assert_job_free_parity(
        spark, [f"{daily}/day=2", f"{daily}/day=0"], basePath=daily
    )
    _assert_job_free_parity(spark, [flat, f"{shards}/_shard_id=3"])


def _write_siblings(spark, root, prefix=""):
    """``x`` and ``x-y`` under ``root``, plus an empty ``a``: by name
    ``x`` sorts first, by leaf path ``x-y/…`` does ('-' < '/'). The two
    differ in schema, so the file Spark infers from is visible."""
    spark.range(3).selectExpr("id AS a", "'v' AS b").write.parquet(
        f"{root}/{prefix}x"
    )
    spark.range(3).selectExpr("id AS a").write.parquet(f"{root}/{prefix}x-y")
    (root / f"{prefix}a").mkdir()
    (root / f"{prefix}a" / "_SUCCESS").write_text("")


def test_read_parquet_follows_leaf_path_order(spark, tmp_path):
    """Partition directories ``k=x`` / ``k=x-y`` under one root, and
    plain directories ``x`` / ``x-y`` as two roots."""
    _write_siblings(spark, tmp_path / "parted", prefix="k=")
    got = _assert_job_free_parity(spark, [str(tmp_path / "parted")])
    assert got.columns == ["a", "k"]
    plain = tmp_path / "plain"
    _write_siblings(spark, plain)
    got = _assert_job_free_parity(spark, [str(plain / "x"), str(plain / "x-y")])
    assert got.columns == ["a"]
    # the given order and a trailing slash do not move the first leaf
    got = _assert_job_free_parity(spark, [str(plain / "x-y"), f"{plain}/x/"])
    assert got.columns == ["a"]


@contextlib.contextmanager
def _session_conf(spark, conf):
    """Set the session confs in ``conf`` for the block, then restore."""
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _same_outcome(spark, paths, conf=None, **options):
    """``read_parquet`` gives Spark's schema, or Spark's error."""
    from cmsspark_spark.sources.readers import read_parquet

    def attempt(read):
        try:
            return read().schema
        except Exception as e:  # noqa: BLE001 — the error IS the outcome
            return type(e), getattr(e, "getCondition", lambda: None)()

    with _session_conf(spark, conf or {}):
        got = attempt(lambda: read_parquet(spark, *paths, **options))
        want = attempt(lambda: spark.read.options(**options).parquet(*paths))
    assert got == want
    return got


def test_read_parquet_defers_unmodelled_cases_to_spark(spark, tmp_path):
    import shutil

    root = tmp_path / "sib"
    _write_siblings(spark, root, prefix="k=")
    # schema merging, as an option or a conf
    merged = _same_outcome(spark, [str(root)], mergeSchema="true")
    assert merged.fieldNames() == ["a", "b", "k"]
    merged = _same_outcome(
        spark, [str(root)], conf={"spark.sql.parquet.mergeSchema": "true"}
    )
    assert merged.fieldNames() == ["a", "b", "k"]
    # any option besides basePath; a glob
    _same_outcome(spark, [str(root)], recursiveFileLookup="true")
    _same_outcome(spark, [f"{root}/k=x*"], basePath=str(root))
    # a summary file: Spark's inference prefers it over any data file
    summ = tmp_path / "summ"
    spark.range(3).selectExpr("id AS a").write.parquet(str(summ))
    wide = next((root / "k=x").glob("part-*.parquet"))
    shutil.copy(wide, summ / "_common_metadata")
    assert _same_outcome(spark, [str(summ)]).fieldNames() == ["a", "b"]
    # a data column that is also a partition directory key
    part = tmp_path / "part" / "k=1"
    spark.range(3).selectExpr("id AS a", "id AS k").write.parquet(str(part))
    _same_outcome(spark, [str(tmp_path / "part")])
    # Spark's own errors: missing path, empty directory, corrupt file,
    # data only in non-partition subdirectories
    (tmp_path / "empty").mkdir()
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.parquet").write_bytes(b"not a parquet file")
    _write_siblings(spark, tmp_path / "plain")
    for p in ("missing", "empty", "bad", "plain"):
        assert isinstance(_same_outcome(spark, [str(tmp_path / p)]), tuple)


def test_read_parquet_builds_the_inference_converter(spark, tmp_path):
    """The converter takes five arguments from the session conf and
    leaves variant annotations at the default whatever the conf says,
    as inference does; a variant column reads alike under that conf."""
    from cmsspark_spark.sources import readers

    conf = spark._jsparkSession.sessionState().conf()
    respect = spark._jvm.org.apache.spark.sql.internal.SQLConf \
        .PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION().key()
    flipped = not conf.parquetReaderRespectUnknownTypeAnnotation()
    variant = str(tmp_path / "variant")
    spark.sql("""SELECT 1 AS k, parse_json('{"a": 1}') AS v""").write.parquet(variant)
    confs = {
        "spark.sql.parquet.ignoreVariantAnnotation": "true",
        respect: str(flipped).lower(),
    }
    with _session_conf(spark, confs):
        conv = readers._inference_converter(readers._footer_jvm(spark._jvm), conf)
        assert conv.ignoreVariantAnnotation() is False
        assert conv.respectUnknownTypeAnnotation() is flipped
    got = _same_outcome(spark, [variant], conf=confs)
    assert got.simpleString() == "struct<k:int,v:variant>"


def test_read_parquet_falls_back_when_a_jvm_member_is_missing(spark, monkeypatch):
    """A JVM class or member this Spark lacks leaves the read to Spark's
    own inference instead of failing it."""
    from py4j.protocol import Py4JError

    from cmsspark_spark.sources import readers
    from tests.conftest import SF_SMOKE, jobs_submitted

    def missing(jvm):
        raise Py4JError("no such member")

    monkeypatch.setattr(readers, "_footer_jvm", missing)
    path = f"{SF_SMOKE}/nation.parquet"
    with jobs_submitted(spark) as jobs:
        got = readers.read_parquet(spark, path)
    assert jobs() == 1  # Spark's own inference job
    assert got.schema == spark.read.parquet(path).schema
