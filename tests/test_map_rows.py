"""``map_rows``: the one per-row Arrow map every Python document kernel
runs under.  Its batch body is pinned directly (zero-row batch, 0/1/3
output rows per input row, missing keys as nulls) and once through Spark."""

import pyarrow as pa

from livre_spark.operators.extraction import _row_batches, map_rows

SCHEMA = pa.schema([("n", pa.int64()), ("k", pa.int32()),
                    ("tag", pa.string())])


def _fan_out(n):
    """n output rows for input n; ``tag`` only on the first."""
    for k in range(n):
        row = {"n": n, "k": k}
        if k == 0:
            row["tag"] = "first"
        yield row


def test_zero_row_batch_yields_empty_batch_with_schema():
    empty = pa.RecordBatch.from_pydict({"n": pa.array([], pa.int64())})
    (out,) = _row_batches(iter([empty]), _fan_out, SCHEMA)
    assert out.num_rows == 0 and out.schema == SCHEMA


def test_zero_one_and_three_rows_per_input_row():
    batch = pa.RecordBatch.from_pydict({"n": [0, 1, 3]})
    (out,) = _row_batches(iter([batch]), _fan_out, SCHEMA)
    assert out.schema == SCHEMA
    assert out.to_pylist() == [
        {"n": 1, "k": 0, "tag": "first"},
        {"n": 3, "k": 0, "tag": "first"},
        {"n": 3, "k": 1, "tag": None},
        {"n": 3, "k": 2, "tag": None},
    ]


def test_one_output_batch_per_input_batch():
    batches = [pa.RecordBatch.from_pydict({"n": [n]}) for n in (3, 0, 1)]
    out = list(_row_batches(iter(batches), _fan_out, SCHEMA))
    assert [b.num_rows for b in out] == [3, 0, 1]


def test_map_rows_through_spark(spark):
    def fan_out(n):  # defined here so it pickles by value: the test
        for k in range(n):  # module is not importable in the workers
            row = {"n": n, "k": k}
            if k == 0:
                row["tag"] = "first"
            yield row

    df = spark.createDataFrame([(0,), (1,), (3,)], "n bigint")
    got = map_rows(df, fan_out, "n bigint, k int, tag string")
    assert "MapInArrow" in got._jdf.queryExecution().executedPlan().toString()
    rows = sorted((r["n"], r["k"], r["tag"]) for r in got.collect())
    assert rows == [(1, 0, "first"), (3, 0, "first"), (3, 1, None),
                    (3, 2, None)]
