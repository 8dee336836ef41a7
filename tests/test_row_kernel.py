"""The one row-kernel runner (pipeline/stages.map_rows): how rows cross the
Arrow boundary into a Python row function and back."""

import datetime as dt

from pyspark.sql import functions as F

from open_ocr_spark.pipeline.stages import map_rows


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def test_fan_out_zero_one_and_many(spark):
    df = spark.createDataFrame([(0,), (1,), (3,)], "n long")
    out = map_rows(
        df, lambda n: ((n, k) for k in range(n)), "n long, k long"
    )
    assert _collect(out) == [(1, 0), (3, 0), (3, 1), (3, 2)]


def test_batches_that_yield_nothing(spark):
    # every row of every batch yields nothing: an empty result, not an error
    df = spark.range(50).repartition(3)
    out = map_rows(df, lambda i: (), "id long, s string")
    assert out.collect() == []
    assert out.columns == ["id", "s"]


def test_null_inputs_reach_the_row_function_as_none(spark):
    df = spark.createDataFrame(
        [(1, None, None), (2, "x", b"ab")], "i long, s string, b binary"
    )

    def fn(i, s, b):
        yield (i, s is None, b is None, s, b)

    out = map_rows(
        df, fn, "i long, s_null boolean, b_null boolean, s string, b binary"
    )
    assert _collect(out) == [
        (1, True, True, None, None),
        (2, False, False, "x", bytearray(b"ab")),
    ]


def test_bytes_and_bytearray_into_binary(spark):
    df = spark.createDataFrame([(1,), (2,)], "i long")

    def fn(i):
        yield (i, b"raw" if i == 1 else bytearray(b"\x00\xffbuf"))

    out = map_rows(df, fn, "i long, payload binary")
    assert _collect(out) == [
        (1, bytearray(b"raw")), (2, bytearray(b"\x00\xffbuf"))
    ]


def test_python_int_into_int32_column(spark):
    df = spark.createDataFrame([(7,), (2**31 - 1,)], "i long")
    out = map_rows(df, lambda i: [(i, i % 1000)], "i long, r int")
    assert out.schema["r"].dataType.simpleString() == "int"
    assert _collect(out) == [(7, 7), (2**31 - 1, 647)]


def test_nested_and_timestamp_columns_pass_through_unchanged(spark):
    # the warc_ts / preprocessor_args / vector shapes sources.py carries
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    df = spark.createDataFrame(
        [
            (1, [0.5, -1.25], {"k": "v", "a": "b"}, ts),
            (2, None, None, None),
            (3, [], {}, dt.datetime(1999, 12, 31, 23, 59, 59)),
        ],
        "i long, vec array<double>, args map<string,string>, "
        "warc_ts timestamp",
    )
    out = map_rows(
        df,
        lambda *row: [row],
        "i long, vec array<double>, args map<string,string>, "
        "warc_ts timestamp",
    )
    assert _collect(out) == _collect(df)
    # and a JVM-side comparison, so no Python round trip hides a shift
    joined = out.alias("o").join(df.alias("d"), "i")
    assert joined.where(
        F.col("o.warc_ts").eqNullSafe(F.col("d.warc_ts"))
        & F.col("o.vec").eqNullSafe(F.col("d.vec"))
    ).count() == 3


def test_struct_schema_and_input_column_order(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    df = spark.createDataFrame([("a", 1)], "s string, i long").select("i", "s")
    schema = StructType([
        StructField("odd name", StringType()), StructField("i", LongType()),
    ])
    out = map_rows(df, lambda i, s: [(s * 2, i + 1)], schema)
    assert out.columns == ["odd name", "i"]
    assert out.collect()[0] == ("aa", 2)
