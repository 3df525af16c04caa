"""Sink roundtrips + Hadoop exists-check parity."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from hadoop_cs4225_spark import registry
from hadoop_cs4225_spark.sources import sinks
from hadoop_cs4225_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

registry.load_all()


def test_parquet_roundtrip(spark, tmp_path):
    df = registry.QUERIES["q1_pricing_summary"](spark, SF_SMOKE)
    out = str(tmp_path / "q1")
    sinks.write_parquet(df, out)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # Parquet roundtrips may flip nullability flags; names/types must hold.
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]


def test_write_fails_if_exists(spark, tmp_path):
    df = load_table(spark, SF_SMOKE, "region")
    out = str(tmp_path / "dup")
    sinks.write_parquet(df, out)
    with pytest.raises(AnalysisException):
        sinks.write_parquet(df, out)  # Hadoop exists-check parity


def test_partitioned_layout(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "bylang")
    sinks.write_partitioned(docs, out, ("lang",))
    langs = {d.name for d in (tmp_path / "bylang").iterdir() if d.is_dir()}
    assert {"lang=en", "lang=fr"} <= langs
    # Partition pruning: reading one partition returns only that lang.
    en = spark.read.parquet(out).where("lang = 'en'")
    assert en.select("lang").distinct().collect()[0].lang == "en"


def test_csv_json_source_roundtrip(spark, tmp_path):
    """CSV + JSON sources (SURVEY §2.2 scans: utility formats)."""
    df = load_table(spark, SF_SMOKE, "nation")
    csv_path, json_path = str(tmp_path / "n.csv"), str(tmp_path / "n.json")
    df.write.option("header", True).csv(csv_path)
    df.write.json(json_path)
    back_csv = spark.read.option("header", True).option("inferSchema", True).csv(csv_path)
    back_json = spark.read.json(json_path)
    want = sorted((r.n_nationkey, r.n_name, r.n_regionkey) for r in df.collect())
    assert sorted((r.n_nationkey, r.n_name, r.n_regionkey) for r in back_csv.collect()) == want
    assert sorted((r.n_nationkey, r.n_name, r.n_regionkey) for r in back_json.collect()) == want


def test_text_kv_matches_reference_format(spark, tmp_path):
    df = registry.QUERIES["topk_common_words_max"](spark, SF_SMOKE)
    out = str(tmp_path / "topk")
    # TopkCommonWords emits count TAB word (key=count).
    sinks.write_text_kv(df, out, "score", "word")
    lines = spark.read.text(out).collect()
    rows = df.collect()
    got = {r.value for r in lines}
    want = {f"{r.score}\t{r.word}" for r in rows}
    assert got == want and len(lines) == len(rows)


def test_write_compacted_bounds_file_count_and_size(spark, tmp_path):
    """1000 rows at 250/file -> exactly 4 parquet files, none over cap,
    and a lossless round-trip."""
    import glob

    from hadoop_cs4225_spark.sources.sinks import write_compacted

    df = spark.range(1000).selectExpr("id", "id % 7 AS g")
    out = str(tmp_path / "compacted")
    write_compacted(df, out, target_rows_per_file=250)
    files = glob.glob(out + "/*.parquet")
    # repartition's round-robin split is near- but not exactly-even, so
    # maxRecordsPerFile may split one task's output: 4 or 5 files, never
    # the 1000 an unmanaged write could produce.
    assert 4 <= len(files) <= 5, files
    back = spark.read.parquet(out)
    assert back.count() == 1000
    import pyarrow.parquet as pq

    assert max(pq.ParquetFile(f).metadata.num_rows for f in files) <= 250


def test_python_datasource_partition_invariant(spark):
    """The custom Python data source must return identical data under
    any partitioning (row->partition assignment is data layout, not
    semantics) and honor the rows/partitions options."""
    from hadoop_cs4225_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)

    def rows(parts):
        df = (
            spark.read.format("synthetic_scores")
            .option("rows", 500)
            .option("partitions", parts)
            .load()
        )
        assert df.rdd.getNumPartitions() == parts
        return sorted((r.row_id, r.value) for r in df.collect())

    assert rows(2) == rows(7)
    assert len(rows(2)) == 500


def test_python_datasource_filter_pushdown_prunes_partitions(spark):
    """An EqualTo('part', k) filter must be consumed by pushFilters and
    shrink the planned split set to ONE partition; results must equal
    the unpushed filter's."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    base = (
        spark.read.format("synthetic_scores")
        .option("rows", 400)
        .option("partitions", 5)
    )
    pushed = base.load().filter(F.col("part") == 3)
    assert pushed.rdd.getNumPartitions() == 1, "filter not pushed"
    want = sorted(
        (r.row_id, r.value)
        for r in base.load().collect()
        if r.part == 3
    )
    got = sorted((r.row_id, r.value) for r in pushed.collect())
    assert got == want and len(got) == 80


def test_python_kv_sink_matches_jvm_text_sink(spark, tmp_path):
    """The custom Python writer must publish the same key TAB value
    content as the JVM text sink (write_text_kv) and only mark success
    via the driver-side commit (_SUCCESS with the row total)."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.sources.pykv import register_kv_sink
    from hadoop_cs4225_spark.sources.sinks import write_text_kv

    register_kv_sink(spark)
    df = (
        spark.range(100)
        .select(
            F.concat(F.lit("w"), F.col("id")).alias("word"),
            (F.col("id") * 3).alias("n"),
        )
        .repartition(4)
    )
    pydir, jvmdir = str(tmp_path / "py"), str(tmp_path / "jvm")
    df.write.format("pykv").option("path", pydir).mode("append").save()
    write_text_kv(df, jvmdir, "word", "n")

    def lines(d):
        out = []
        for fn in os.listdir(d):
            if fn.startswith("part-") and not fn.endswith(".crc"):
                with open(os.path.join(d, fn)) as f:
                    out.extend(ln.rstrip("\n") for ln in f if ln.strip())
        return sorted(out)

    assert lines(pydir) == lines(jvmdir)
    with open(os.path.join(pydir, "_SUCCESS")) as f:
        assert f.read().strip() == "100"
    # 4 input partitions -> 4 task part files
    n_parts = len([f for f in os.listdir(pydir) if f.startswith("part-")])
    assert n_parts == 4


def test_python_kv_sink_exists_check_and_overwrite(spark, tmp_path):
    """Reference TextOutputFormat contract, restated through the Python
    writer: a re-run over an existing output dir FAILS unless overwrite
    was asked, and overwrite replaces stale part files rather than
    mixing them with new ones under a fresh _SUCCESS."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.sources.pykv import register_kv_sink

    register_kv_sink(spark)

    def frame(n):
        return spark.range(n).select(
            F.concat(F.lit("w"), F.col("id")).alias("word"),
            F.col("id").alias("n"),
        )

    out = str(tmp_path / "kv")
    frame(10).write.format("pykv").option("path", out).mode("append").save()
    first = {f for f in os.listdir(out) if f.startswith("part-")}
    assert first

    # default (non-overwrite) re-run must fail, leaving output intact
    with pytest.raises(Exception, match="already contains output"):
        frame(5).write.format("pykv").option("path", out).mode("append").save()
    assert {f for f in os.listdir(out) if f.startswith("part-")} == first

    # overwrite replaces: no stale part file survives, total is new
    frame(5).repartition(1).write.format("pykv").option("path", out).mode(
        "overwrite"
    ).save()
    second = {f for f in os.listdir(out) if f.startswith("part-")}
    assert second and not (second & first)
    with open(os.path.join(out, "_SUCCESS")) as f:
        assert f.read().strip() == "5"


def test_read_derived_sees_rebuild_with_equal_mtime_sum(spark, tmp_path):
    """Two layout states whose ``_SUCCESS`` and ``_DERIVED_CONFIG``
    mtimes sum to the same value must not share a cached read plan."""
    path = str(tmp_path / "layout")

    def build(n_rows, success_mtime, config_mtime):
        spark.range(n_rows).write.mode("overwrite").parquet(path)
        sinks.write_derived_config(path, "cfg")
        os.utime(os.path.join(path, "_SUCCESS"), (success_mtime,) * 2)
        os.utime(os.path.join(path, "_DERIVED_CONFIG"), (config_mtime,) * 2)

    build(3, 100, 200)
    assert sinks.read_derived(spark, path).count() == 3
    build(5, 150, 150)
    assert sinks.read_derived(spark, path).count() == 5
