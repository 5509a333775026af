"""Dtype-zoo behavioral tests (FIXTURES F3, mirroring the reference's
tests/test_pipes_dtypes.py): special dtypes inferred from the first batch,
enforced on later batches, widened on conflict, round-tripped exactly."""

import datetime
import uuid
from decimal import Decimal

import pandas as pd
import pytest

from meerschaum_spark.pipe import Pipe

UTC = datetime.timezone.utc


def dtm(*args):
    return datetime.datetime(*args, tzinfo=UTC)


def test_special_dtype_inference_and_roundtrip(spark, instance_dir,
                                              monkeypatch):
    from meerschaum_spark import geometry as geo

    pipe = Pipe("dtypes", "zoo", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"},
                dtypes={"geom_col": "geometry"})
    u = uuid.UUID("12345678-1234-5678-1234-567812345678")
    batch = pd.DataFrame([{
        "dt": dtm(2024, 1, 1), "id": 1,
        "json_col": {"b": 1, "a": [2, 3]},
        "num_col": Decimal("1.000000001"),
        "uuid_col": u,
        "bytes_col": b"\x00\x01",
        "date_col": datetime.date(2024, 1, 1),
        "bool_col": True,
        "geom_col": "POINT (1 2)",
    }])
    res = pipe.sync(batch)
    assert res.success, res.message
    dt = pipe.dtypes
    assert dt["json_col"] == "json"
    assert dt["num_col"].startswith("numeric")
    assert dt["uuid_col"] == "uuid"
    assert dt["bytes_col"] == "bytes"
    [doc] = pipe.get_docs()
    assert doc["json_col"] == '{"a":[2,3],"b":1}'   # canonical: sorted keys
    assert doc["num_col"] == Decimal("1.000000001000000000")
    assert doc["uuid_col"] == str(u)
    assert bytes(doc["bytes_col"]) == b"\x00\x01"
    assert doc["bool_col"] is True

    # a small mixed sync takes the fused driver-local diff: a late
    # correction of every special column plus one insert, both written
    # through Arrow-built frames, must round-trip exactly
    fused = []
    orig = Pipe._fused_local_diff
    monkeypatch.setattr(Pipe, "_fused_local_diff",
                        lambda self, *a: fused.append(1) or orig(self, *a))
    u2 = uuid.UUID("87654321-4321-8765-4321-876543218765")
    u3 = uuid.UUID("00000000-0000-0000-0000-000000000003")
    res = pipe.sync(pd.DataFrame([
        {"dt": dtm(2024, 1, 1), "id": 1, "json_col": {"z": None, "c": [4]},
         "num_col": Decimal("-2.5"), "uuid_col": u2,
         "bytes_col": b"\xff\x00", "date_col": datetime.date(1969, 12, 31),
         "bool_col": False, "geom_col": "POINT (3 4)"},
        {"dt": dtm(2024, 1, 2), "id": 2, "json_col": [1, "x"],
         "num_col": Decimal("0.000000000000000001"), "uuid_col": u3,
         "bytes_col": b"", "date_col": datetime.date(2024, 2, 29),
         "bool_col": True, "geom_col": "LINESTRING (0 0, 1 1)"},
    ]))
    assert fused == [1]
    assert (res.inserted, res.updated) == (1, 1), res.message
    docs = {d["id"]: d for d in pipe.get_docs()}
    assert len(docs) == 2
    want = {
        1: ('{"c":[4],"z":null}', Decimal("-2.5"), str(u2), b"\xff\x00",
            datetime.date(1969, 12, 31), False, "POINT (3 4)"),
        2: ('[1,"x"]', Decimal("0.000000000000000001"), str(u3), b"",
            datetime.date(2024, 2, 29), True, "LINESTRING (0 0, 1 1)"),
    }
    for i, (js, num, uid, raw, day, flag, wkt) in want.items():
        d = docs[i]
        assert d["json_col"] == js
        assert d["num_col"] == num
        assert d["uuid_col"] == uid
        assert bytes(d["bytes_col"]) == raw
        assert d["date_col"] == day
        assert d["bool_col"] is flag
        assert bytes(d["geom_col"]) == geo.serialize_geometry(wkt, "wkb")


def test_json_identity_is_canonical(spark, instance_dir):
    """Same JSON content with different key order must diff as identical
    (reference: canonical serialization is load-bearing for diffing)."""
    pipe = Pipe("dtypes", "jsonid", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1,
                             "json_col": {"x": 1, "y": 2}}]))
    res = pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1,
                                   "json_col": {"y": 2, "x": 1}}]))
    assert res.inserted == 0 and res.updated == 0
    assert pipe.get_rowcount() == 1


def test_int_to_numeric_widening(spark, instance_dir):
    """int column receiving floats widens to numeric (reference
    get_alter_columns_queries, connectors/sql/_pipes.py:3496-3832)."""
    pipe = Pipe("dtypes", "widen", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1, "val": 1}]))
    assert pipe.dtypes["val"] == "int64"
    res = pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 2), "id": 1,
                                   "val": 2.5}]))
    assert res.success
    assert pipe.dtypes["val"] == "numeric"
    vals = sorted(d["val"] for d in pipe.get_docs())
    assert vals == [Decimal("1.000000000000000000"),
                    Decimal("2.500000000000000000")]


def test_explicit_precision_scale(spark, instance_dir):
    pipe = Pipe("dtypes", "prec", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"},
                dtypes={"num_col": "numeric(10,5)"})
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1,
                             "num_col": Decimal("3.14159265")}]))
    [doc] = pipe.get_docs()
    assert doc["num_col"] == Decimal("3.14159")   # quantized to scale 5


def test_enforce_false_passthrough(spark, instance_dir):
    """enforce=False skips dtype casting (reference _attributes.py:401-416)."""
    pipe = Pipe("dtypes", "noenf", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"}, enforce=False)
    res = pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1,
                                   "val": 1.5}]))
    assert res.success
    assert pipe.get_rowcount() == 1


def test_tz_naive_and_aware_mix(spark, instance_dir):
    """naive datetimes are treated as UTC; aware ones convert to UTC."""
    pipe = Pipe("dtypes", "tz", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    est = datetime.timezone(datetime.timedelta(hours=-5))
    pipe.sync(pd.DataFrame([
        {"dt": datetime.datetime(2024, 1, 1, 12), "id": 1, "val": 1},
    ]))
    res = pipe.sync(pd.DataFrame([
        {"dt": datetime.datetime(2024, 1, 1, 7, tzinfo=est), "id": 1,
         "val": 1},   # same instant as 12:00 UTC → no-op
    ]))
    assert res.inserted == 0 and res.updated == 0
    assert pipe.get_rowcount() == 1


def test_quantize_on_ingest_half_up(spark, instance_dir):
    """numeric(p,s) columns quantize on write with ROUND_HALF_UP
    (reference utils/dtypes/__init__.py:533-560): 1.005 -> 1.01."""
    pipe = Pipe("dtypes", "quant", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"},
                dtypes={"val": "numeric(10,2)"})
    pipe.sync(pd.DataFrame([
        {"dt": dtm(2024, 1, 1), "id": 1, "val": Decimal("1.005")},
        {"dt": dtm(2024, 1, 1), "id": 2, "val": Decimal("2.674")},
        {"dt": dtm(2024, 1, 1), "id": 3, "val": "3.995"},
    ]))
    vals = {d["id"]: d["val"] for d in pipe.get_docs()}
    assert vals[1] == Decimal("1.01")
    assert vals[2] == Decimal("2.67")
    assert vals[3] == Decimal("4.00")


def test_mixed_numerics_column(spark, instance_dir):
    """A column mixing Decimal, int, and float resolves to numeric
    (reference mixed_numerics), not to the type of the first value."""
    pipe = Pipe("dtypes", "mixednum", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([
        {"dt": dtm(2024, 1, 1), "id": 1, "val": 2},
        {"dt": dtm(2024, 1, 1), "id": 2, "val": 0.5},
        {"dt": dtm(2024, 1, 1), "id": 3, "val": Decimal("1.25")},
    ]))
    assert pipe.dtypes["val"].startswith("numeric")
    vals = {d["id"]: d["val"] for d in pipe.get_docs()}
    assert vals[3] == Decimal("1.25") and vals[1] == Decimal("2")


def test_mixed_numerics_across_batches(spark, instance_dir):
    """An int column widens to numeric when a later batch brings floats
    (reference utils/dataframe.py:266-295, flag default True)."""
    pipe = Pipe("dtypes", "mixedcross", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1, "val": 2}]))
    assert pipe.dtypes["val"].startswith("int")
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 2), "id": 2, "val": 0.5}]))
    assert pipe.dtypes["val"].startswith("numeric")
    vals = {d["id"]: d["val"] for d in pipe.get_docs()}
    assert vals[1] == Decimal("2") and vals[2] == Decimal("0.5")


def test_mixed_numerics_flag_opt_out(spark, instance_dir):
    """mixed_numerics=False (reference core/Pipe/_attributes.py:506-514)
    disables the int/float -> numeric coercion; the conflict takes the
    str fallback instead (the reference's object fallback)."""
    pipe = Pipe("dtypes", "mixedoff", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"},
                mixed_numerics=False)
    assert pipe.mixed_numerics is False
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1, "val": 2}]))
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 2), "id": 2, "val": 0.5}]))
    assert pipe.dtypes["val"] == "str"


def test_sniff_scans_all_values(spark, instance_dir):
    """A column whose FIRST value looks special but later holds plain
    strings must not be mis-typed for the whole batch."""
    from meerschaum_spark.dataframe import sniff_special_dtypes
    pdf = pd.DataFrame([
        {"u": uuid.UUID("12345678-1234-5678-1234-567812345678"),
         "d": Decimal("1.5"), "ok_num": Decimal("1.5"), "ok_json": "scalar"},
        {"u": "not-a-uuid", "d": "text", "ok_num": 2, "ok_json": {"a": 1}},
    ])
    sniffed = sniff_special_dtypes(pdf)
    assert "u" not in sniffed
    assert "d" not in sniffed
    assert sniffed["ok_num"] == "numeric"
    assert sniffed["ok_json"] == "json"


def test_all_null_batch_column_does_not_evolve_dtype(spark, instance_dir):
    """A batch whose column is entirely null must not flip the registered
    dtype (it used to corrupt the table's read schema)."""
    pipe = Pipe("dtypes", "allnull", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1, "val": 5}]))
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 2), "id": 2, "val": None}]))
    assert pipe.dtypes["val"] == "int64"
    docs = {d["id"]: d["val"] for d in pipe.get_docs()}
    assert docs[1] == 5 and docs[2] is None


def test_int_column_with_nulls_stays_int(spark, instance_dir):
    """NaN-upcast float64 batches for a registered int column stay int64
    (reference nullable-Int64 semantics), not widen to numeric."""
    pipe = Pipe("dtypes", "intnull", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1, "val": 5}]))
    pipe.sync(pd.DataFrame([
        {"dt": dtm(2024, 1, 2), "id": 2, "val": None},
        {"dt": dtm(2024, 1, 3), "id": 3, "val": 7},
    ]))
    assert pipe.dtypes["val"] == "int64"
    docs = {d["id"]: d["val"] for d in pipe.get_docs()}
    assert docs[3] == 7 and docs[2] is None
    # genuinely fractional values DO widen to numeric (reference widening)
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 4), "id": 4, "val": 1.5}]))
    assert pipe.dtypes["val"].startswith("numeric")
