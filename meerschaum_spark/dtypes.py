"""Dtype core: the abstract dtype vocabulary ↔ Spark types, canonical
serializers, date-bound parsing, and epoch/precision helpers.

Mirrors the reference's dtype model (meerschaum/utils/dtypes/__init__.py:22-89
alias table and pandas mapping; meerschaum/utils/dtypes/sql.py:79-144 DB
inference) collapsed to a single MRSM↔Spark mapping. Canonical storage is
µs-precision UTC timestamps (reference utils/dtypes/__init__.py:39-56).
"""

from __future__ import annotations

import datetime
import json
import uuid as uuid_mod
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# dtype vocabulary
# ---------------------------------------------------------------------------

#: alias → canonical dtype name (reference utils/dtypes/__init__.py:22-38)
MRSM_ALIAS_DTYPES: dict[str, str] = {
    "decimal": "numeric",
    "Decimal": "numeric",
    "number": "numeric",
    "jsonl": "json",
    "JSON": "json",
    "binary": "bytes",
    "blob": "bytes",
    "varbinary": "bytes",
    "bytea": "bytes",
    "guid": "uuid",
    "UUID": "uuid",
    "datetime64": "datetime",
    "timestamp": "datetime",
    "bigint": "int64",
    "integer": "int",
    "double": "float64",
    "string": "str",
    "text": "str",
    "boolean": "bool",
}

_BASE_SPARK_TYPES: dict[str, T.DataType] = {
    "int": T.LongType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.DoubleType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "bool": T.BooleanType(),
    "str": T.StringType(),
    "datetime": T.TimestampType(),
    "date": T.DateType(),
    "json": T.StringType(),       # canonical JSON text (sort_keys, compact)
    "uuid": T.StringType(),       # canonical lowercase hex
    "bytes": T.BinaryType(),
    "geometry": T.BinaryType(),   # WKB passthrough
    "geography": T.BinaryType(),
}

#: default precision/scale for bare ``numeric``
#: (reference utils/dtypes/sql.py:14-19 caps per flavor; we keep one)
NUMERIC_DEFAULT_PRECISION = 38
NUMERIC_DEFAULT_SCALE = 18

#: datetime precision units → µs multiplier (reference
#: utils/dtypes/__init__.py:58-89; 'ns' stored at µs granularity)
UNIT_US: dict[str, int] = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}
_UNIT_ALIASES = {
    "us": "microsecond", "microseconds": "microsecond",
    "ms": "millisecond", "milliseconds": "millisecond",
    "s": "second", "sec": "second", "seconds": "second",
    "m": "minute", "min": "minute", "minutes": "minute",
    "h": "hour", "hours": "hour",
    "d": "day", "days": "day",
    "ns": "microsecond",  # canonical storage floor is µs
    "nanosecond": "microsecond",
}


def canonical_dtype(dtype: str) -> str:
    """Resolve aliases; preserve ``numeric(p,s)`` / ``geometry(...)`` args."""
    dtype = (dtype or "str").strip()
    base, args = _split_dtype_args(dtype)
    base = MRSM_ALIAS_DTYPES.get(base, base)
    if not args:
        return base
    if base in ("geometry", "geography"):
        return f"{base}[{args}]"  # reference bracket modifier syntax
    return f"{base}({args})"


def _split_dtype_args(dtype: str) -> tuple[str, str | None]:
    if "(" in dtype and dtype.endswith(")"):
        base, _, rest = dtype.partition("(")
        return base.strip(), rest[:-1].strip()
    if "[" in dtype and dtype.endswith("]"):
        # reference modifier syntax: geometry[LineString, 4326]
        base, _, rest = dtype.partition("[")
        return base.strip(), rest[:-1].strip()
    return dtype, None


def to_spark_type(dtype: str) -> T.DataType:
    """MRSM dtype string → Spark DataType."""
    dtype = canonical_dtype(dtype)
    base, args = _split_dtype_args(dtype)
    if base == "numeric":
        if args:
            parts = [p.strip() for p in args.split(",")]
            prec = int(parts[0])
            scale = int(parts[1]) if len(parts) > 1 else 0
            return T.DecimalType(prec, scale)
        return T.DecimalType(NUMERIC_DEFAULT_PRECISION, NUMERIC_DEFAULT_SCALE)
    if base in _BASE_SPARK_TYPES:
        return _BASE_SPARK_TYPES[base]
    if base == "array":
        # array(float32) / array(array(int64)) — element type recurses.
        # Spark-native array columns (embeddings!) round-trip the store's
        # explicit read schema; the reference would store these as JSON
        # text (utils/dtypes), which loses the vectorized layout.
        if not args:
            raise ValueError("array dtype needs an element type: array(t)")
        return T.ArrayType(to_spark_type(args))
    if base in ("geometry", "geography"):
        return T.BinaryType()  # WKB regardless of type/SRID modifier
    raise ValueError(f"Unknown MRSM dtype: {dtype!r}")


def from_spark_type(dt: T.DataType) -> str:
    """Spark DataType → MRSM dtype string (best effort)."""
    if isinstance(dt, T.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    mapping = {
        T.LongType: "int64", T.IntegerType: "int32", T.ShortType: "int16",
        T.ByteType: "int8", T.DoubleType: "float64", T.FloatType: "float32",
        T.BooleanType: "bool", T.StringType: "str",
        T.TimestampType: "datetime",
        # Spark 4 reads naive parquet timestamps as NTZ; canonical storage
        # is µs-UTC, so both map to the same MRSM dtype (session TZ = UTC)
        T.TimestampNTZType: "datetime",
        T.DateType: "date", T.BinaryType: "bytes",
    }
    for klass, name in mapping.items():
        if isinstance(dt, klass):
            return name
    if isinstance(dt, T.ArrayType):
        return f"array({from_spark_type(dt.elementType)})"
    return "str"


def is_fallback_type(dt: T.DataType) -> bool:
    """Whether ``from_spark_type`` names ``dt`` only by its ``"str"``
    fallback (a struct, a map, ..., also as an array element): the
    registered dtype then maps back to another Spark type."""
    if isinstance(dt, T.ArrayType):
        return is_fallback_type(dt.elementType)
    return from_spark_type(dt) == "str" and not isinstance(dt, T.StringType)


# ---------------------------------------------------------------------------
# dtype widening (schema evolution)
# ---------------------------------------------------------------------------

_WIDEN_ORDER = ["int8", "int16", "int32", "int64"]


def widen_dtypes(old: str, new: str, mixed_numerics: bool = True) -> str:
    """Resolve a dtype conflict between the registered and incoming dtype.

    Mirrors the reference's evolution rules (connectors/sql/_pipes.py:3496-3832,
    utils/dataframe.py:266-295): int widths widen; int+float → numeric;
    numeric precision unions; anything irreconcilable → str fallback.

    ``mixed_numerics=False`` (the pipe flag, reference
    core/Pipe/_attributes.py:506-514) disables the int/float → numeric
    coercion: the conflict falls through to the str fallback, matching
    the reference's warn-and-object path.
    """
    old, new = canonical_dtype(old), canonical_dtype(new)
    if old == new:
        return old
    ob, oargs = _split_dtype_args(old)
    nb, nargs = _split_dtype_args(new)
    if ob == nb:
        # same base, different args (e.g. numeric(10,5) vs bare numeric):
        # an explicit precision/scale is user intent — keep it
        return old if oargs else new
    ints = set(_WIDEN_ORDER) | {"int"}
    floats = {"float", "float32", "float64"}
    if ob in ints and nb in ints:
        oi = _WIDEN_ORDER.index(ob if ob != "int" else "int64")
        ni = _WIDEN_ORDER.index(nb if nb != "int" else "int64")
        return _WIDEN_ORDER[max(oi, ni)]
    if (ob in ints and nb in floats) or (ob in floats and nb in ints):
        # reference widens mixed int/float to Decimal — unless the pipe
        # opts out via mixed_numerics=False
        return "numeric" if mixed_numerics else "str"
    # an already-numeric side keeps numeric regardless of the flag: the
    # column is Decimal on disk; the flag only gates NEW coercions.
    # Keep THAT side verbatim — an explicit numeric(p,s) is user intent
    # and must survive widening against later int/float batches
    if {ob, nb} <= (ints | floats | {"numeric"}):
        if ob == "numeric":
            return old
        if nb == "numeric":
            return new
    if ob in floats and nb in floats:
        return "float64"
    if {ob, nb} == {"datetime", "date"}:
        return "datetime"
    return "str"


# ---------------------------------------------------------------------------
# canonical serializers (load-bearing for diffing)
# ---------------------------------------------------------------------------

def json_serialize_value(x: Any) -> Any:
    """JSON-encoder default mirroring reference utils/dtypes/__init__.py:963-1006."""
    if isinstance(x, Decimal):
        return serialize_decimal(x)
    if isinstance(x, (datetime.datetime, datetime.date)):
        return x.isoformat()
    if isinstance(x, uuid_mod.UUID):
        return str(x).lower()
    if isinstance(x, (bytes, bytearray)):
        import base64
        return base64.b64encode(bytes(x)).decode("ascii")
    if hasattr(x, "item"):  # numpy scalar
        return x.item()
    return str(x)


def canonical_json(obj: Any) -> str | None:
    """Deterministic JSON text: sorted keys, compact separators.

    Reference: utils/dataframe.py:309-316 and core/Pipe/_sync.py:947-958 —
    this exact serialization defines row identity for json columns.
    """
    if obj is None:
        return None
    if isinstance(obj, str):
        try:
            obj = json.loads(obj)
        except (ValueError, TypeError):
            return obj
    return json.dumps(
        obj, sort_keys=True, separators=(",", ":"), default=json_serialize_value
    )


def serialize_decimal(x: Decimal) -> str:
    """Canonical Decimal string (no exponent, no trailing-zero surprises)."""
    if x != x:  # NaN
        return "NaN"
    return format(x, "f")


def quantize_decimal(x: Decimal, precision: int, scale: int) -> Decimal:
    """ROUND_HALF_UP quantization (reference utils/dtypes/__init__.py:533-560)."""
    quantum = Decimal(1).scaleb(-scale)
    return x.quantize(quantum, rounding=ROUND_HALF_UP)


def attempt_cast_to_uuid(x: Any) -> str | None:
    if x is None:
        return None
    return str(uuid_mod.UUID(str(x))).lower()


# ---------------------------------------------------------------------------
# date bounds / epoch axes
# ---------------------------------------------------------------------------

def normalize_unit(unit: str) -> str:
    unit = (unit or "microsecond").lower().rstrip()
    unit = _UNIT_ALIASES.get(unit, unit)
    if unit not in UNIT_US:
        raise ValueError(f"Unknown datetime precision unit: {unit!r}")
    return unit


def datetime_to_int(dt: datetime.datetime, unit: str = "microsecond") -> int:
    """Datetime → integer epoch at ``unit`` (reference
    utils/dtypes/__init__.py:1094-1137)."""
    dt = coerce_timezone(dt)
    epoch = dt.timestamp()
    us = round(epoch * 1_000_000)
    return us // UNIT_US[normalize_unit(unit)]


def int_to_datetime(value: int, unit: str = "microsecond") -> datetime.datetime:
    us = int(value) * UNIT_US[normalize_unit(unit)]
    # integer split, not float seconds: a float division of epoch-µs
    # carries ~2^-52 relative error, enough to flip the microsecond
    # digit for large epochs
    return (datetime.datetime.fromtimestamp(us // 1_000_000,
                                            tz=datetime.timezone.utc)
            + datetime.timedelta(microseconds=us % 1_000_000))


def coerce_timezone(dt: datetime.datetime) -> datetime.datetime:
    """Attach UTC to naive datetimes; convert aware ones to UTC
    (reference utils/dtypes/__init__.py:601-789)."""
    if dt.tzinfo is None:
        return dt.replace(tzinfo=datetime.timezone.utc)
    return dt.astimezone(datetime.timezone.utc)


def parse_date_bound(
    bound: Any,
    dt_dtype: str = "datetime",
    unit: str = "microsecond",
) -> Any:
    """Normalize a user-supplied begin/end bound.

    Mirrors reference core/Pipe/_data.py:935-1000: accepts str / int /
    datetime / date; on an integer (epoch) axis datetimes are coerced to
    ints, and on a datetime axis ints are treated as epoch values at the
    axis precision.
    """
    if bound is None:
        return None
    is_int_axis = canonical_dtype(dt_dtype).startswith("int")
    if isinstance(bound, str):
        try:
            bound = int(bound)
        except ValueError:
            parsed = datetime.datetime.fromisoformat(bound)
            bound = coerce_timezone(parsed)
    if isinstance(bound, bool):
        raise ValueError("boolean is not a valid date bound")
    if isinstance(bound, datetime.datetime):
        return datetime_to_int(bound, unit) if is_int_axis else coerce_timezone(bound)
    if isinstance(bound, datetime.date):
        dt = datetime.datetime(bound.year, bound.month, bound.day,
                               tzinfo=datetime.timezone.utc)
        return datetime_to_int(dt, unit) if is_int_axis else dt
    if isinstance(bound, (int, float)):
        bound = int(bound)
        return bound if is_int_axis else int_to_datetime(bound, unit)
    raise ValueError(f"Cannot parse date bound: {bound!r}")


def round_time(
    dt: datetime.datetime,
    unit: str = "minute",
    interval: int = 1,
) -> datetime.datetime:
    """Floor a datetime to a precision grid (reference
    utils/dtypes/__init__.py:1333+ and get_current_timestamp :1138-1248)."""
    us = datetime_to_int(dt, "microsecond")
    step = UNIT_US[normalize_unit(unit)] * int(interval)
    return int_to_datetime((us // step) * step, "microsecond")
