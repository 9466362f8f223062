"""`session.row_stage`: one per-row Python stage over a frame, the row
function's yielded tuples laid out by a DDL schema."""

from pyspark.sql import functions as F


def _ids(spark, n):
    return spark.range(0, n, 1, 3).select(F.col("id").alias("k"))


def test_zero_one_and_many_rows_per_input(spark):
    from docling_eval_spark.session import row_stage

    def _fan_out(k):
        for i in range(k % 4):  # 0, 1, 2 or 3 rows
            yield k, i, f"{k}-{i}"

    out = row_stage(_ids(spark, 600), _fan_out, "k bigint, i int, s string")
    got = sorted(tuple(r) for r in out.collect())
    want = sorted((k, i, f"{k}-{i}") for k in range(600) for i in range(k % 4))
    assert got == want
    assert out.dtypes == [("k", "bigint"), ("i", "int"), ("s", "string")]


def test_every_row_yielding_nothing_gives_the_declared_schema(spark):
    from docling_eval_spark.session import row_stage

    def _nothing(k):
        return
        yield

    schema = "k bigint, tags array<string>, m map<string,int>, b binary"
    out = row_stage(_ids(spark, 500), _nothing, schema)
    assert out.collect() == []
    assert out.dtypes == [("k", "bigint"), ("tags", "array<string>"),
                          ("m", "map<string,int>"), ("b", "binary")]
    # an input with no rows at all runs the same way
    assert row_stage(_ids(spark, 0), _nothing, schema).collect() == []


def test_null_inputs_arrive_as_none_and_null_outputs_stay_null(spark):
    from docling_eval_spark.session import literal_frame, row_stage

    df = literal_frame(spark, [
        (1, "a", 0.5, [1, None], True),
        (None, None, None, None, None),
        (3, "c", 2.0, [], False),
    ], "k bigint, s string, x double, a array<int>, f boolean")

    def _echo(k, s, x, a, f):
        # the batch holds a null in every column, so pandas would hand a
        # float NaN for `k` and `x`; the row sees None and a Python int
        kinds = ",".join(type(v).__name__ for v in (k, s, x, f))
        a = None if a is None else [None if v is None or v != v else int(v)
                                    for v in a]
        yield k, s, x, a, f, kinds

    out = row_stage(df.coalesce(1), _echo, "k bigint, s string, x double, "
                    "a array<int>, f boolean, kinds string")
    got = sorted((tuple(r) for r in out.collect()), key=lambda r: r[0] or 0)
    assert got == [
        (None, None, None, None, None, "NoneType,NoneType,NoneType,NoneType"),
        (1, "a", 0.5, [1, None], True, "int,str,float,bool"),
        (3, "c", 2.0, [], False, "int,str,float,bool"),
    ]


def test_array_struct_map_and_binary_outputs(spark):
    from docling_eval_spark.session import row_stage

    def _shapes(k):
        yield (k, [k, None], (k, f"s{k}"), {"x": -k, "y": None},
               {f"k{k}": k, "z": None}, bytes([k, 255]), bytearray(b"\x00"))

    out = row_stage(_ids(spark, 3), _shapes, (
        "k bigint, a array<int>, st struct<x:int,y:string>, "
        "sd struct<x:int,y:string>, m map<string,int>, b binary, b2 binary"))
    got = {r.k: r for r in out.collect()}
    assert sorted(got) == [0, 1, 2]
    r = got[2]
    assert r.a == [2, None]
    assert tuple(r.st) == (2, "s2") and tuple(r.sd) == (-2, None)
    assert r.m == {"k2": 2, "z": None}
    assert bytes(r.b) == b"\x02\xff" and bytes(r.b2) == b"\x00"


def test_values_come_in_the_frames_column_order(spark):
    from docling_eval_spark.session import literal_frame, row_stage

    df = literal_frame(spark, [(1, "one", 10.0), (2, "two", 20.0)],
                       "a bigint, b string, c double")

    def _pair(first, second):
        yield f"{first}|{second}",

    out = row_stage(df.select("c", "b"), _pair, "joined string")
    assert sorted(r.joined for r in out.collect()) == ["10.0|one", "20.0|two"]


def test_plan_node_names_the_row_function(spark):
    from docling_eval_spark.session import row_stage

    def _named_rows(k):
        yield k,

    out = row_stage(_ids(spark, 10), _named_rows, "k bigint")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "MapInPandas _named_rows(k#" in plan
    assert sorted(r.k for r in out.collect()) == list(range(10))
