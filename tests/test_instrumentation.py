"""Pipeline instrumentation + escape hatches: Observation metrics (free
per-pass stats, no second scan), Python UDTF (the documented last-resort
custom-operator path), and compacted writes (small-files mitigation)."""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.sources.sinks import write_compacted


def test_observe_metrics_single_pass(spark):
    obs = Observation("ingest_stats")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("x")
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("x").alias("sum_x"),
        F.count(F.when(F.col("x") == 0, 1)).alias("n_zero"),
    )
    assert df.count() == 100  # one action; metrics ride along
    got = obs.get
    assert got["n_rows"] == 100
    assert got["sum_x"] == sum(i % 7 for i in range(100))
    assert got["n_zero"] == len([i for i in range(100) if i % 7 == 0])


def test_python_udtf_escape_hatch(spark):
    # UDTFs are the LAST-resort path (SURVEY §2.11 stance: zero Python in
    # relational plans); this certifies the hatch exists and works.
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="word: string, wlen: int")
    class SplitWords:
        def eval(self, text: str):
            for w in text.split():
                yield w, len(w)

    out = SplitWords(lit("alpha bb c")).collect()
    assert [(r.word, r.wlen) for r in out] == [
        ("alpha", 5), ("bb", 2), ("c", 1)
    ]


def test_write_compacted_exact_file_count(spark, tmp_path):
    df = spark.range(0, 1000).repartition(16)  # over-partitioned input
    n_files = write_compacted(
        df, str(tmp_path / "exact"), target_rows_per_file=250, exact=True
    )
    assert n_files == 4
    back = spark.read.parquet(str(tmp_path / "exact"))
    assert back.count() == 1000


def test_write_compacted_caps_rows_per_file(spark, tmp_path):
    df = spark.range(0, 1000).coalesce(1)  # one fat task
    n_files = write_compacted(
        df, str(tmp_path / "capped"), target_rows_per_file=300
    )
    assert n_files == 4  # 300+300+300+100 split by one task, no shuffle
    back = spark.read.parquet(str(tmp_path / "capped"))
    assert back.count() == 1000


def test_write_compacted_counts_files_at_uri_path(spark, tmp_path):
    # a scheme-qualified path is listed through its Hadoop FileSystem,
    # not the local os module
    uri = (tmp_path / "uri").as_uri()
    assert uri.startswith("file:///")
    df = spark.range(0, 1000).coalesce(1)
    assert write_compacted(df, uri, target_rows_per_file=300) == 4
    assert spark.read.parquet(uri).count() == 1000


def test_orc_roundtrip(spark, tmp_path):
    # second columnar format certified end-to-end (ORC is Spark-native)
    src = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 5).cast("string").alias("g")
    )
    path = str(tmp_path / "orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.count() == 100
    assert dict(back.dtypes) == {"id": "bigint", "g": "string"}
    got = back.groupBy("g").count().collect()
    assert {r.g: r["count"] for r in got} == {str(i): 20 for i in range(5)}


def test_train_split_deterministic_and_partition_independent(spark):
    from gene_level_metadata_pipeline_spark.operators.textanalysis import train_split

    df1 = spark.range(0, 2000).select(F.col("id").alias("k"))
    a = {r.k: r.split for r in train_split(df1, "k").collect()}
    b = {r.k: r.split
         for r in train_split(df1.repartition(17), "k").collect()}
    assert a == b  # partitioning-independent
    frac = {s: list(a.values()).count(s) / len(a) for s in set(a.values())}
    assert 0.75 < frac["train"] < 0.85
    assert 0.05 < frac["val"] < 0.15
    assert 0.05 < frac["test"] < 0.15
