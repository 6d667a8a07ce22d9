"""The one Arrow row stage, ``spark.stages.map_rows``: a row function
returns 0, 1 or n output tuples per input row; nulls arrive as None;
a batch whose rows all drop still yields a typed, empty batch."""

import pyarrow as pa

OUT = "k string, i int, payload binary"
ARROW_OUT = pa.schema([("k", pa.string()), ("i", pa.int32()),
                       ("payload", pa.binary())])


def _fan_fn():
    # nested, so workers unpickle it by value (tests/ is not on their
    # path): n output rows per input row; a null count gives one row
    def fan(k, n, payload):
        if n is None:
            return [(k, None, payload)]
        return [(k, i, payload) for i in range(n)]
    return fan


def _rows(df):
    return sorted(((k, i, None if p is None else bytes(p))
                   for k, i, p in df.collect()), key=repr)


def test_map_rows_returns_zero_one_or_many_rows_and_keeps_nulls(spark):
    from pdf_table_spark.spark.stages import map_rows
    df = spark.createDataFrame(
        [("zero", 0, b"\x00"), ("one", 1, None), ("three", 3, b"\xff\x00"),
         (None, None, b"")], "k string, n int, payload binary")
    out = map_rows(df, _fan_fn(), OUT)
    assert out.schema.simpleString() == \
        "struct<k:string,i:int,payload:binary>"
    assert _rows(out) == sorted(
        [("one", 0, None), ("three", 0, b"\xff\x00"),
         ("three", 1, b"\xff\x00"), ("three", 2, b"\xff\x00"),
         (None, None, b"")], key=repr)


def test_map_rows_all_dropped_batch_is_typed_and_empty(spark, monkeypatch):
    from pdf_table_spark.spark.stages import map_rows
    df = spark.createDataFrame([("a", 0, b"x")] * 3,
                               "k string, n int, payload binary")
    assert _rows(map_rows(df, _fan_fn(), OUT)) == []

    stages = []
    monkeypatch.setattr(type(df), "mapInArrow",
                        lambda self, fn, schema, **kw: stages.append(fn))
    map_rows(df, _fan_fn(), OUT)
    batch = pa.RecordBatch.from_pydict(
        {"k": ["a", "b"], "n": pa.array([0, 0], pa.int32()),
         "payload": pa.array([b"x", None], pa.binary())})
    out = list(stages[0](iter([batch])))
    assert len(out) == 1
    assert out[0].num_rows == 0
    assert out[0].schema == ARROW_OUT
