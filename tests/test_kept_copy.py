"""``ParquetTable.merge_apply`` copies the kept rows in Arrow: the state after
each apply must equal the one-plan state (``current LEFT ANTI JOIN
changed_keys``, plus the upsert images, then the spill replay) across column
types, key shapes, schema changes and spills, whether the batch-side rows
come from the write-set collect or from Spark's writer; a failed copy must
leave the previous version, and repeated applies must not accumulate
files."""

import datetime as dt
import os
import random
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ape_dts_spark.operators.merge import compact_changes
from ape_dts_spark.sinks import parquet_table
from ape_dts_spark.sinks.parquet_table import ParquetTable


def _canon(v):
    """A collected value as a comparable, order-free representation."""
    if isinstance(v, dict):
        return tuple(sorted((repr(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _rows(df):
    return sorted((repr(_canon(r.asDict(recursive=True))) for r in df.collect()))


def _events(spark, payload, events):
    """A change batch from ``(row_type, before, after, seq)`` tuples."""
    schema = T.StructType([
        T.StructField("schema", T.StringType()), T.StructField("tb", T.StringType()),
        T.StructField("row_type", T.StringType()), T.StructField("before", payload),
        T.StructField("after", payload), T.StructField("seq", T.LongType()),
    ])
    return spark.createDataFrame([("db", "t", *e) for e in events], schema)


def _one_plan(table, compacted, spilled, keys):
    """The rows of the next version as the single Spark plan computes them:
    the current rows less every changed key, plus the upsert images, then
    the spill replay over all of it."""
    kept = table.current().join(compacted.select(*keys), keys, "left_anti")
    state = kept.unionByName(
        compacted.filter(F.col("op") == "upsert").select(*table._image_cols(compacted, "after"))
    )
    if not spilled.isEmpty():
        state = table._replay_spill(state, spilled, keys)
    return _rows(state)


def _image_bytes(batch):
    """The after-image estimate CdcPipeline's stats pass hands merge_apply."""
    est = parquet_table.estimated_bytes(F.col("after"), batch.schema["after"].dataType)
    return batch.agg(F.sum(est)).first()[0] or 0


def _apply(spark, table, keys, events):
    batch = _events(spark, table.payload_schema, events)
    compacted, spilled = compact_changes(batch, keys)
    table.merge_apply(compacted, spilled, keys, image_bytes=_image_bytes(batch))


def _apply_and_compare(spark, table, keys, events, route=None):
    """Apply ``events`` with the stats pass's estimate and compare with the
    one-plan state; ``route`` names the route the batch must take."""
    batch = _events(spark, table.payload_schema, events)
    compacted, spilled = compact_changes(batch, keys)
    want = _one_plan(table, compacted, spilled, keys)
    table.merge_apply(compacted, spilled, keys, image_bytes=_image_bytes(batch))
    assert _rows(table.current()) == want
    if route is not None:
        upsert_file = os.path.join(table.path, f"v{table.version()}", "part-upsert.parquet")
        assert os.path.exists(upsert_file) == (route == "collect")


@pytest.fixture(params=["collect", "spark"])
def route(request, monkeypatch):
    """merge_apply's route for the batch-side rows: the write-set collect,
    or Spark's writer, forced by a zero byte bound."""
    if request.param == "spark":
        monkeypatch.setattr(parquet_table, "_WRITE_SET_MAX_BYTES", 0)
    return request.param


TYPES = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("ntz", T.TimestampNTZType()),
    T.StructField("d", T.DateType()),
    T.StructField("dec", T.DecimalType(38, 10)),
    T.StructField("bin", T.BinaryType()),
    T.StructField("arr", T.ArrayType(T.IntegerType())),
    T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
    T.StructField("st", T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())])),
])


def _typed(i, tag=0):
    return (
        i, dt.datetime(2024, 1, 1, 12, 0, i % 60) + dt.timedelta(days=tag),
        dt.datetime(2023, 6, 1, 0, 0, i % 60), dt.date(2020, 1, 1) + dt.timedelta(days=i + tag),
        Decimal(f"12345678901234567890123456.{i:010d}"), bytes([i % 256, tag]),
        [i, tag, None], {"k": i, "t": tag}, (i, f"s{tag}"),
    )


TYPED_BATCHES = [
    [
        ("update", _typed(3), _typed(3, 1), 100),
        ("delete", _typed(4), None, 101),
        ("insert", None, _typed(41, 2), 102),
        ("update", _typed(5), (5, None, None, None, None, None, None, None, None), 103),
    ],
    [("update", _typed(3, 1), _typed(3, 5), 200), ("delete", _typed(7), None, 201)],
]


def _typed_table(spark, path):
    """A TYPES table whose v0 Spark wrote, with its ``ts`` as INT96."""
    table = ParquetTable(spark, path, TYPES)
    table.merge_apply(*compact_changes(
        _events(spark, TYPES, [("insert", None, _typed(i), i) for i in range(1, 41)]), ["id"]), ["id"])
    v0 = os.path.join(table.path, "v0")
    assert any("int96 field_id=-1 ts" in str(pq.ParquetFile(os.path.join(v0, f)).schema)
               for f in os.listdir(v0) if f.endswith(".parquet"))
    return table


def test_typed_columns_copy_equals_one_plan(spark, tmp_path):
    """An INT96 timestamp written by Spark in v0, TIMESTAMP_NTZ, date,
    decimal(38,10), binary and nested columns survive two kept copies (the
    second copies a pyarrow-written file)."""
    table = _typed_table(spark, str(tmp_path / "t"))
    for events in TYPED_BATCHES:
        _apply_and_compare(spark, table, ["id"], events, "collect")
    assert len(table.current().collect()) == 39


KEYED = T.StructType([
    T.StructField("a", T.StringType()),
    T.StructField("b", T.IntegerType()),
    T.StructField("v", T.LongType()),
])

KEYED_BATCHES = [
    [
        ("update", ("k1", 1, 1), ("k1", 1, 100), 50),
        ("delete", ("k2", 2, 2), None, 51),
        ("insert", None, ("k99", 0, 99), 52),
    ],
    [("update", ("k1", 1, 100), ("k1", 1, 101), 60)],
]


def _keyed_table(spark, path, keys):
    """A KEYED table with two NULL-key base rows."""
    table = ParquetTable(spark, path, KEYED)
    base = [("insert", None, (f"k{i}", i % 3, i), i) for i in range(30)]
    base += [("insert", None, (None, 1, 900), 40), ("insert", None, ("k5", None, 901), 41)]
    table.merge_apply(*compact_changes(_events(spark, KEYED, base), keys), keys)
    return table


@pytest.mark.parametrize("keys", [["a"], ["a", "b"]], ids=["string_key", "composite_key"])
def test_keyed_copy_equals_one_plan(spark, tmp_path, keys):
    """A string key and a composite key; base rows with a NULL key (spilled
    inserts of v0) are kept, and a NULL key in a changed key matches
    nothing."""
    table = _keyed_table(spark, str(tmp_path / "t"), keys)
    for events in KEYED_BATCHES:
        _apply_and_compare(spark, table, keys, events, "collect")
        assert table.current().filter(F.col("a").isNull() | F.col("b").isNull()).count() == 2


def test_forced_spark_route_equals_collect_route(spark, tmp_path, monkeypatch):
    """The type matrix and the composite key through both batch-side
    routes: the write-set collect, and Spark's writer, forced by a zero
    byte bound. After every batch both routes hold the same rows, each the
    one-plan state, and each version shows the route it took."""
    states = {}
    for route in ("collect", "spark"):
        with monkeypatch.context() as m:
            if route == "spark":
                m.setattr(parquet_table, "_WRITE_SET_MAX_BYTES", 0)
            typed = _typed_table(spark, str(tmp_path / route / "typed"))
            keyed = _keyed_table(spark, str(tmp_path / route / "keyed"), ["a", "b"])
            states[route] = []
            for table, keys, batches in [(typed, ["id"], TYPED_BATCHES), (keyed, ["a", "b"], KEYED_BATCHES)]:
                for events in batches:
                    _apply_and_compare(spark, table, keys, events, route)
                    states[route].append(_rows(table.current()))
    assert states["collect"] == states["spark"]


SIMPLE = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("bal", T.LongType()),
])


def _simple_table(spark, path):
    table = ParquetTable(spark, path, SIMPLE)
    base = [("insert", None, (i, f"n{i}", i), i) for i in range(1, 21)]
    base.append(("insert", None, (None, "ghost", 7), 30))
    table.merge_apply(*compact_changes(_events(spark, SIMPLE, base), ["id"]), ["id"])
    return table


def test_copy_after_add_and_drop_column_equals_one_plan(spark, tmp_path):
    """ADD COLUMN NULL-fills the copied rows; DROP COLUMN leaves the column
    out of the copy."""
    table = _simple_table(spark, str(tmp_path / "t"))
    table.add_column(T.StructField("tier", T.IntegerType()))
    _apply_and_compare(spark, table, ["id"], [
        ("update", (1, "n1", 1, None), (1, "n1", 2, 7), 100),
        ("insert", None, (50, "new", 0, 3), 101),
    ], "collect")
    table.drop_column("name")
    _apply_and_compare(spark, table, ["id"], [
        ("delete", (2, 2, None), None, 200),
        ("update", (3, 3, None), (3, 33, 1), 201),
    ], "collect")
    assert table.current().columns == ["id", "bal", "tier"]


def test_spill_copy_equals_one_plan(spark, tmp_path):
    """A spilled batch: a key-changing update of a base row and a NULL-key
    whole-row delete of a base row both remove the base row from the copy;
    a later spilled insert a delete outranks stays out."""
    table = _simple_table(spark, str(tmp_path / "t"))
    _apply_and_compare(spark, table, ["id"], [
        ("update", (5, "n5", 5), (105, "moved", 5), 100),
        ("delete", (None, "ghost", 7), None, 101),
        ("update", (6, "n6", 6), (6, "x", 66), 102),
        ("insert", None, (None, "late", 1), 103),
        ("delete", (None, "late", None), None, 104),
        ("delete", (7, None, None), None, 105),
    ])
    names = {r["name"] for r in table.current().collect()}
    assert {"n5", "n7", "ghost", "late"}.isdisjoint(names) and "moved" in names
    _apply_and_compare(spark, table, ["id"], [("update", (105, "moved", 5), (8, "back", 5), 200)])


NESTED = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("st", T.StructType([T.StructField("a", T.IntegerType())])),
])


def test_nested_whole_row_delete_copy_equals_one_plan(spark, tmp_path):
    """A NULL-key whole-row delete whose image sets array and struct
    columns (compared as Python values, not by an Arrow join) removes only
    the base row it equals."""
    table = ParquetTable(spark, str(tmp_path / "t"), NESTED)
    base = [("insert", None, (i, [f"t{i}"], (i,)), i) for i in range(1, 6)]
    base += [("insert", None, (None, ["x", None], (1,)), 10), ("insert", None, (None, ["x"], (1,)), 11)]
    table.merge_apply(*compact_changes(_events(spark, NESTED, base), ["id"]), ["id"])
    _apply_and_compare(spark, table, ["id"], [
        ("delete", (None, ["x", None], (1,)), None, 20),
        ("update", (2, ["t2"], (2,)), (2, ["u"], None), 21),
    ])
    assert sorted(r["tags"] for r in table.current().collect() if r["id"] is None) == [["x"]]


def test_all_deleted_version_holds_the_schema(spark, tmp_path, route):
    """A batch that deletes every row commits a version whose directory
    still holds a file with the payload schema, so pyarrow and Spark both
    read it as an empty table of the right shape."""
    table = ParquetTable(spark, str(tmp_path / "t"), SIMPLE)
    _apply(spark, table, ["id"], [("insert", None, (i, f"n{i}", i), i) for i in range(1, 6)])
    _apply_and_compare(spark, table, ["id"], [
        ("delete", (i, f"n{i}", i), None, 10 + i) for i in range(1, 6)
    ], route)
    files = parquet_table._data_files(os.path.join(table.path, f"v{table.version()}"))
    assert table.version() == 1 and files
    got = pq.read_table(files)
    assert got.num_rows == 0 and got.schema.names == ["id", "name", "bal"]
    assert table.current().collect() == [] and table.current().schema == SIMPLE


def test_empty_write_set_commits_no_version(spark, tmp_path):
    """A write-set with no rows and no spill writes no version: the epoch
    alone is recorded."""
    table = _simple_table(spark, str(tmp_path / "t"))
    before = _rows(table.current())
    batch = _events(spark, SIMPLE, [])
    table.merge_apply(*compact_changes(batch, ["id"]), ["id"], stream_id="s", batch_id=0.5,
                      image_bytes=_image_bytes(batch))
    assert table.version() == 0 and table._read_meta()["applied_batches"]["s"] == 0.5
    assert not os.path.exists(os.path.join(table.path, "v1"))
    assert _rows(table.current()) == before


def test_failed_copy_keeps_version_and_retry_commits(spark, tmp_path, monkeypatch):
    """A copy task that raises fails the apply before the meta moves: the
    table stays at its version and reads as before, and applying the same
    batch again commits the one-plan state."""
    table = _simple_table(spark, str(tmp_path / "t"))
    before = _rows(table.current())
    events = [("update", (1, "n1", 1), (1, "a", 10), 100), ("delete", (2, "n2", 2), None, 101)]
    compacted, spilled = compact_changes(_events(spark, SIMPLE, events), ["id"])
    want = _one_plan(table, compacted, spilled, ["id"])

    def boom(table, groups):
        raise RuntimeError("injected copy failure")

    with monkeypatch.context() as m:
        # the copy task pickles this module global by value, so the workers raise
        m.setattr(parquet_table, "_removed", boom)
        with pytest.raises(Exception, match="injected copy failure"):
            table.merge_apply(compacted, spilled, ["id"], stream_id="s", batch_id=1)
    assert table.version() == 0 and table.last_applied("s") == -1
    assert _rows(table.current()) == before
    table.merge_apply(compacted, spilled, ["id"], stream_id="s", batch_id=1)
    assert table.version() == 1 and _rows(table.current()) == want


def test_bulk_applies_keep_two_files_per_version(spark, tmp_path):
    """Ten bulk-shaped applies on the write-set collect route: each version
    holds the kept copy and the driver's upsert file, because the previous
    upsert file folds into the next copy, and the state tracks a dict
    model."""
    table = ParquetTable(spark, str(tmp_path / "t"), SIMPLE)
    model = {i: (f"n{i}", i) for i in range(2000)}
    _apply(spark, table, ["id"], [("insert", None, (i, *v), i) for i, v in model.items()])
    rng = random.Random(7)
    seq = 10_000
    for n in range(10):
        events = []
        for i in rng.sample(sorted(model), 60):
            seq += 1
            if i % 7 == 0:
                events.append(("delete", (i, *model.pop(i)), None, seq))
            else:
                events.append(("update", (i, *model[i]), (i, f"u{n}", seq), seq))
                model[i] = (f"u{n}", seq)
        for i in range(2000 + n * 5, 2005 + n * 5):
            seq += 1
            events.append(("insert", None, (i, "new", seq), seq))
            model[i] = ("new", seq)
        _apply(spark, table, ["id"], events)
        vdir = os.path.join(table.path, f"v{table.version()}")
        assert len(parquet_table._data_files(vdir)) <= 2
        assert os.path.exists(os.path.join(vdir, "part-upsert.parquet"))
    assert {r["id"]: (r["name"], r["bal"]) for r in table.current().collect()} == model
