"""Add-column schema evolution in the engine scan: files written before a
column existed read back with nulls there (Iceberg add-column semantics);
same-named columns with different shapes still fail loudly at plan time.

Reference parity: the reference reads one file at a time
(``file_reader.cc``) and has no dataset-evolution layer; the semantics
here follow the public Iceberg spec's add-column rule (new columns are
nullable, absent values read as null) applied by column NAME over the
sink's homogeneous-per-file PAR1 output.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-schema-evo",
                     shuffle_partitions=4)


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """v1 files: (doc_id, tokens, n_tok). v2 files add (source, score)."""
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset

    out = str(tmp_path_factory.mktemp("evo") / "ds")
    v1 = spark.range(0, 40).selectExpr(
        "cast(id as string) doc_id", "array(cast(id as int)) tokens",
        "cast(1 as int) n_tok")
    emit_parquet_dataset(v1.coalesce(2), out, name_prefix="v1-").collect()
    v2 = spark.range(40, 80).selectExpr(
        "cast(id as string) doc_id", "array(cast(id as int)) tokens",
        "cast(2 as int) n_tok", "cast('web' as string) source",
        "cast(id as double) score")
    emit_parquet_dataset(v2.coalesce(2), out, name_prefix="v2-").collect()
    return out


def test_union_schema_null_fill(spark, evolved):
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    df = read_parquet_dataset(spark, evolved)
    assert set(df.columns) == {"doc_id", "tokens", "n_tok", "source",
                               "score"}
    assert df.count() == 80
    assert df.filter("source is null").count() == 40
    assert df.filter("source = 'web' and score is not null").count() == 40
    # evolved fields are nullable in the Spark schema
    fields = {f.name: f for f in df.schema.fields}
    assert fields["source"].nullable and fields["score"].nullable


def test_projection_of_evolved_column(spark, evolved):
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    df = read_parquet_dataset(spark, evolved, columns=["doc_id", "score"])
    assert df.columns == ["doc_id", "score"]
    assert df.filter("score is null").count() == 40
    got = df.filter("score is not null") \
        .agg({"score": "sum"}).collect()[0][0]
    assert got == float(sum(range(40, 80)))


def test_null_rejecting_predicate_prunes_predating_files(spark, evolved):
    """== on a column v1 files predate: those files are provably empty
    and never become tasks (rg_kept covers only v2 files)."""
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    plan = {}
    df = read_parquet_dataset(spark, evolved,
                              predicate=[("source", "==", "web")],
                              plan_out=plan)
    assert df.count() == 40
    assert plan["files_kept"] == 2 and plan["files_total"] == 4


def test_is_null_predicate_matches_predating_files(spark, evolved):
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    df = read_parquet_dataset(spark, evolved,
                              predicate=[("source", "is_null", None)])
    assert df.count() == 40
    assert df.filter("n_tok = 1").count() == 40


def test_projection_plus_predicate_on_evolved_column(spark, evolved):
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    df = read_parquet_dataset(spark, evolved, columns=["doc_id"],
                              predicate=[("score", ">=", 60.0)])
    assert df.columns == ["doc_id"] and df.count() == 20


def test_incompatible_same_name_column_fails_loudly(spark, tmp_path):
    """Type evolution is out of scope: the same column name with a
    different leaf shape raises at plan time, naming both files."""
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out = str(tmp_path / "bad")
    a = spark.range(0, 10).selectExpr("cast(id as int) x")
    emit_parquet_dataset(a.coalesce(1), out, name_prefix="a-").collect()
    b = spark.range(0, 10).selectExpr("cast(id as string) x")
    emit_parquet_dataset(b.coalesce(1), out, name_prefix="b-").collect()
    with pytest.raises(ValueError, match="schema mismatch.*column 'x'"):
        read_parquet_dataset(spark, out).count()


def test_delimiter_characters_in_evolved_column_name(spark, tmp_path):
    """Split descriptors reach the tasks as Python values, not delimited
    strings, so a column name holding ',' or ':' null-fills like any
    other."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    pq.write_table(pa.table({"doc_id": pa.array([1, 2], pa.int32())}),
                   str(tmp_path / "v1.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array([3], pa.int32()),
                             "a,b:c": ["x"]}),
                   str(tmp_path / "v2.parquet"))
    df = read_parquet_dataset(spark, str(tmp_path))
    assert df.columns == ["doc_id", "a,b:c"]
    assert sorted(tuple(r) for r in df.collect()) == \
        [(1, None), (2, None), (3, "x")]


def test_spark_jvm_reader_agrees(spark, evolved):
    """Spark's own mergeSchema read of the same directory produces the
    identical union content — the engine's evolution semantics match the
    JVM reference behavior."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    eng = read_parquet_dataset(spark, evolved)
    jvm = spark.read.option("mergeSchema", "true").parquet(evolved)
    cols = sorted(eng.columns)
    assert cols == sorted(jvm.columns)

    def csum(df):
        h = F.xxhash64(*cols).cast("decimal(38,0)")
        return df.agg(F.sum(h).alias("h"), F.count("*").alias("n")) \
            .collect()[0]
    a, b = csum(eng), csum(jvm)
    assert (a.h, a.n) == (b.h, b.n)
