"""Source/sink tests (SURVEY §2.1): CSV roundtrip with inference, pinned
schemas, single-file export, managed tables + metadata catalog."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.sources import (
    create_table_with_meta,
    read_csv,
    read_meta,
    save_table,
    write_single_csv,
)
from azure_medicine_data_engineering_spark.operators.quality import (
    TemporalRule,
    temporal_sanity_report,
)


def test_csv_roundtrip_with_inference(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id int, name string, x double"
    )
    path = str(tmp_path / "csvout")
    write_single_csv(df, path)
    # exactly one part file (S6 coalesce(1) semantics)
    parts = glob.glob(os.path.join(path, "part-*"))
    assert len(parts) == 1
    back = read_csv(spark, path)
    assert back.count() == 2
    assert dict(back.dtypes) == {"id": "int", "name": "string", "x": "double"}
    # pinned-schema read skips inference
    pinned = read_csv(spark, path, schema="id long, name string, x double", infer_schema=False)
    assert dict(pinned.dtypes)["id"] == "bigint"


def test_catalog_registration(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id int, v string")
    create_table_with_meta(df, "t_cat_test", "demo table", catalog_table="meta_test")
    create_table_with_meta(df, "t_cat_test2", "second table", catalog_table="meta_test")
    meta = read_meta(spark, "meta_test")
    rows = {r.tableName: r.tableDescription for r in meta.collect()}
    assert rows == {"t_cat_test": "demo table", "t_cat_test2": "second table"}
    assert spark.read.table("t_cat_test").count() == 1
    # re-publish updates the description; read_meta dedups to latest
    create_table_with_meta(df, "t_cat_test", "demo table v2", catalog_table="meta_test")
    rows = {r.tableName: r.tableDescription for r in read_meta(spark, "meta_test").collect()}
    assert rows["t_cat_test"] == "demo table v2"
    # any description round-trips byte-exact, and each registration adds
    # exactly one data file to the catalog table
    location = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED meta_test").collect()
    }["Location"]
    meta_dir = location.removeprefix("file:")

    def data_files():
        return {f for f in os.listdir(meta_dir) if not f.startswith((".", "_"))}

    before = data_files()
    tricky = "it's a 'quoted'; DROP TABLE meta_test; -- \\ \"x\" ;"
    create_table_with_meta(df, "t_cat_test", tricky, catalog_table="meta_test")
    after = data_files()
    assert len(after - before) == 1 and before <= after
    create_table_with_meta(df, "t_cat_test2", "third; 'one'", catalog_table="meta_test")
    assert len(data_files() - after) == 1
    rows = {r.tableName: r.tableDescription for r in read_meta(spark, "meta_test").collect()}
    assert rows == {"t_cat_test": tricky, "t_cat_test2": "third; 'one'"}
    for t in ("t_cat_test", "t_cat_test2", "meta_test"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_save_table_partitioned(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)], "id int, part string, v double"
    )
    save_table(df, "t_part_test", partition_by=["part"])
    back = spark.read.table("t_part_test")
    assert back.count() == 3
    # partition pruning: filter on the partition column prunes to one dir
    plan = back.where(F.col("part") == "a")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    spark.sql("DROP TABLE IF EXISTS t_part_test")


def test_temporal_sanity_months_between(spark):
    rows = [
        ("2014-01-10", "2015-01-15"),   # ok: ~12 months
        ("2015-06-01", "2015-01-01"),   # violation: exam before surgery
        ("1800-01-01", "2015-01-01"),   # violation: > 2000 months
        (None, "2015-01-01"),           # NULL → not counted
    ]
    df = spark.createDataFrame(rows, "surgery string, exam string").select(
        F.to_date("surgery").alias("surgery"), F.to_date("exam").alias("exam")
    )
    rep = temporal_sanity_report(
        df, [TemporalRule("exam_after_surgery", later="exam", earlier="surgery")]
    )
    assert rep.collect()[0].number == 2


def test_parquet_merge_schema_evolution(spark, tmp_path):
    # batch 1 lacks the column batch 2 adds — mergeSchema must unify and
    # null-fill, the way an evolving 100 TB ingest actually lands
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.range(3).select(F.col("id"), F.lit("a").alias("v1")).write.parquet(
        f"{p}/batch=1"
    )
    spark.range(3).select(
        F.col("id"), F.lit("b").alias("v1"), F.lit(1.5).alias("v2")
    ).write.parquet(f"{p}/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v1", "v2", "batch"}
    rows = df.where(F.col("batch") == 1).select("v2").collect()
    assert all(r.v2 is None for r in rows)
    assert df.count() == 6


def test_csv_permissive_mode_corrupt_records(spark, tmp_path):
    # real ingests contain malformed rows; PERMISSIVE mode must null-fill
    # them into _corrupt_record instead of failing the 100 TB job
    p = str(tmp_path / "dirty.csv")
    with open(p, "w") as f:
        f.write("id,qty\n1,10\nnot-a-number-row-with,extra,columns\n3,30\n")
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("qty", IntegerType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", "true")
        .csv(p)
        .cache()  # SPARK-21610: corrupt-record column needs materialization
    )
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    good = sorted((r.id, r.qty) for r in rows if r._corrupt_record is None)
    assert len(bad) == 1
    assert good == [(1, 10), (3, 30)]


def test_write_training_shards_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from azure_medicine_data_engineering_spark.sources.writers import (
        write_training_shards,
    )

    packed = spark.range(5000).select(
        (F.col("id") % 250).alias("seq_id"),
        F.col("id").alias("chunk_key"),
    )
    out = str(tmp_path / "shards")
    manifest = write_training_shards(packed, out, seqs_per_shard=100)
    rows = {r.shard: r for r in manifest.collect()}
    # 250 seq_ids / 100 per shard -> shards 0,1,2
    assert sorted(rows) == [0, 1, 2]
    assert rows[0].n_seqs == 100 and rows[2].n_seqs == 50
    assert rows[0].min_seq == 0 and rows[2].max_seq == 249
    # round-trip: partition pruning reads exactly one shard's rows
    back = spark.read.parquet(out)
    assert back.where(F.col("shard") == 1).count() == rows[1].n_rows
    assert back.count() == 5000
    # manifest persisted alongside
    assert spark.read.parquet(out + "_manifest").count() == 3


def test_read_jsonl_permissive_quarantines_bad_lines(spark, tmp_path):
    from pyspark.sql import functions as F

    from azure_medicine_data_engineering_spark.sources.readers import read_jsonl

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good line"}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "text": "another good line"}\n'
        '{"doc_id": 3, "text": "unclosed\n'
    )
    df = read_jsonl(
        spark,
        str(p),
        schema="doc_id long, text string, _corrupt_record string",
    )
    rows = df.collect()  # count via collect: Spark restricts queries that
    # reference ONLY the internal corrupt column on an uncached json scan
    assert {r.doc_id for r in rows if r._corrupt_record is None} == {1, 2}
    assert sum(r._corrupt_record is not None for r in rows) == 2

    # pinned schema, FAILFAST: the ingest gate refuses the corrupt file
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import CapturedException

    with pytest.raises((Py4JJavaError, CapturedException, Exception)):
        read_jsonl(spark, str(p), schema="doc_id long, text string",
                   mode="FAILFAST").collect()


def test_orc_roundtrip_preserves_schema_and_values(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.25), (2, "b", -3.5), (3, None, 0.0)],
        "k long, s string, v double",
    )
    path = str(tmp_path / "orc")
    df.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


class TestAvroSeam:
    """Avro ingress/egress seam: Spark's avro module is EXTERNAL (a
    separate jar this runtime does not ship and cannot fetch — same
    environment gate as Delta, re-probed per round: 2026-08-14 (r5: delta pkg absent, spark-avro connector jar absent; core avro-1.12.1 only) still
    absent). The test runs the real round-trip whenever the jar is
    present and pins the honest failure mode here."""

    def test_avro_roundtrip_or_documented_absence(self, spark, tmp_path):
        df = spark.range(5).selectExpr("id", "id * 2 AS v")
        path = str(tmp_path / "avro_probe")
        try:
            df.write.format("avro").mode("overwrite").save(path)
        except Exception as e:
            assert "Failed to find data source: avro" in str(e)
            import pytest as _pytest

            _pytest.skip("spark-avro jar absent in this runtime (no network)")
        back = spark.read.format("avro").load(path)
        assert back.count() == 5
        assert {r["v"] for r in back.collect()} == {0, 2, 4, 6, 8}


def test_python_datasource_partitions_and_rows(spark):
    """Spark 4 custom Python DataSource: partition planning must place
    each id in exactly one round-robin partition and the union must be
    the full range — no dropped or duplicated splits."""
    from azure_medicine_data_engineering_spark.sources.readers import (
        register_seq_datasource,
    )

    register_seq_datasource(spark)
    df = (
        spark.read.format("amde_seq")
        .option("n", "97")  # non-multiple of parts: ragged partitions
        .option("parts", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    ids = sorted(r["id"] for r in df.collect())
    assert ids == list(range(97))
    import hashlib

    h = {r["id"]: r["h"] for r in df.collect()}
    assert h[42] == hashlib.md5(b"42").hexdigest()


def test_python_datasource_writer_commit_manifest(spark, tmp_path):
    """Write half of the Python connector: staged files promote on
    commit, the _MANIFEST lands LAST and lists exactly the committed
    parts, and the row payload round-trips."""
    import os

    from pyspark.sql import functions as F

    from azure_medicine_data_engineering_spark.sources.writers import (
        register_linesink_datasource,
    )

    register_linesink_datasource(spark)
    out = str(tmp_path / "sink")
    (
        spark.range(25)
        .select("id", (F.col("id") % 5).alias("v"))
        .repartition(4)
        .write.format("amde_linesink")
        .option("path", out)
        .mode("append")
        .save()
    )
    manifest = open(os.path.join(out, "_MANIFEST")).read().split()
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert manifest == parts and len(parts) == 4
    rows = []
    for f in parts:
        for line in open(os.path.join(out, f)).read().splitlines():
            a, b = line.split("\t")
            rows.append((int(a), int(b)))
    assert sorted(rows) == [(i, i % 5) for i in range(25)]
    assert not os.listdir(os.path.join(out, "_staging"))  # all promoted


def test_warc_corrupt_gzip_raises_valueerror():
    import pytest

    from azure_medicine_data_engineering_spark.sources.warc import (
        warc_parse,
        warc_write_records,
    )

    good = warc_write_records(
        [({"WARC-Type": "response", "WARC-Record-ID": "<r1>"}, b"body")],
        gzip_members=True,
    )
    bad = bytearray(good)
    bad[10] ^= 0xFF  # corrupt inside the member
    with pytest.raises(ValueError):  # wrapped zlib.error
        warc_parse(bytes(bad))


def test_warc_folded_header_lines_join():
    from azure_medicine_data_engineering_spark.sources.warc import warc_parse

    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://example.com/a\r\n"
        b"\tvery/long/path\r\n"
        b"Content-Length: 4\r\n"
        b"\r\n"
        b"body\r\n\r\n"
    )
    records = warc_parse(raw)
    assert len(records) == 1
    headers, content = records[0]
    assert headers["warc-target-uri"] == "http://example.com/a very/long/path"
    assert content == b"body"
