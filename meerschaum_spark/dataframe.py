"""Input normalization: anything → a typed Spark DataFrame.

Covers the reference's ingest funnel — ``parse_simple_lines`` text parsing
(meerschaum/utils/dataframe.py:2178-2227), special-dtype sniffing
(get_json_cols / get_numeric_cols / get_uuid_cols / get_bytes_cols,
utils/dataframe.py:671-1234), and dtype enforcement (enforce_dtypes,
utils/dataframe.py:1236+) — re-expressed as a pre-flight pandas pass plus
Spark-side casts. The pandas pass only ever sees the *incoming batch*
(driver-side by definition in the reference too); stored data never leaves
the JVM.
"""

from __future__ import annotations

import datetime
import uuid as uuid_mod
from decimal import Decimal
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meerschaum_spark import geometry as _geo
from meerschaum_spark.dtypes import (
    canonical_dtype,
    canonical_json,
    coerce_timezone,
    from_spark_type,
    to_spark_type,
)


import re

_ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2})?")


def parse_simple_lines(text: str) -> pd.DataFrame:
    """Parse newline-delimited, tab- or comma-separated text with a header
    row (reference utils/dataframe.py:2178-2227)."""
    import io
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    if not lines:
        return pd.DataFrame()
    sep = "\t" if "\t" in lines[0] else ","
    return pd.read_csv(io.StringIO("\n".join(lines)), sep=sep)


def sniff_special_dtypes(pdf: pd.DataFrame) -> dict[str, str]:
    """Detect json / numeric / uuid / bytes object columns by scanning ALL
    values (reference utils/dataframe.py:671-1234 scans the whole column —
    sampling only the first value mis-types a column whose values mix
    kinds, a silent-corruption class).

    Resolution for mixed columns:
      * any dict/list value            → json  (scalars serialize alongside)
      * any Decimal, rest int/float    → numeric (the reference's
                                         ``mixed_numerics`` handling)
      * ALL non-null UUID / bytes / datetime / date → that type
        (a single stray scalar disqualifies the column rather than
        corrupting it at cast time)
    """
    special: dict[str, str] = {}
    for col in pdf.columns:
        if pdf[col].dtype != object:
            continue
        any_json = any_decimal = False
        all_numeric = all_uuid = all_bytes = all_dt = all_date = True
        all_geometry = True
        n_seen = 0
        for v in pdf[col]:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                continue
            n_seen += 1
            if not (isinstance(v, _geo.Geometry) or _geo.looks_like_wkt(v)
                    or _geo.looks_like_geojson_geometry(v)):
                all_geometry = False
            if isinstance(v, (dict, list)):
                any_json = True
                if not all_geometry:
                    break
            if isinstance(v, Decimal):
                any_decimal = True
            elif isinstance(v, str):
                # numeric-looking strings ride along with Decimals
                # (reference attempt_cast_to_numeric accepts them)
                try:
                    Decimal(v)
                except Exception:
                    all_numeric = False
            elif not isinstance(v, (int, float)):
                all_numeric = False
            if not isinstance(v, uuid_mod.UUID):
                all_uuid = False
            if not isinstance(v, (bytes, bytearray)):
                all_bytes = False
            if not isinstance(v, datetime.datetime):
                all_dt = False
            if isinstance(v, datetime.datetime) or not isinstance(v, datetime.date):
                all_date = False
        if n_seen == 0:
            continue
        if all_geometry:
            special[col] = "geometry"
        elif any_json:
            special[col] = "json"
        elif any_decimal and all_numeric:
            special[col] = "numeric"
        elif all_uuid:
            special[col] = "uuid"
        elif all_bytes:
            special[col] = "bytes"
        elif all_dt:
            special[col] = "datetime"
        elif all_date:
            special[col] = "date"
    return special


def _serialize_for_spark(pdf: pd.DataFrame, special: dict[str, str]) -> pd.DataFrame:
    pdf = pdf.copy()
    for col, dtype in special.items():
        if dtype == "geometry":
            # values already WKB bytes (declared columns pre-serialized
            # with their SRID) pass through; NaN is pandas' null, not data
            pdf[col] = pdf[col].map(
                lambda v: _geo.serialize_geometry(v, "wkb")
                if not (v is None
                        or (isinstance(v, float) and pd.isna(v))
                        or isinstance(v, (bytes, bytearray)))
                else (None if isinstance(v, float) else v)
            )
        elif dtype == "json":
            pdf[col] = pdf[col].map(
                lambda v: canonical_json(v) if v is not None else None
            )
        elif dtype == "uuid":
            pdf[col] = pdf[col].map(lambda v: str(v).lower() if v is not None else None)
        elif dtype == "numeric":
            pdf[col] = pdf[col].map(lambda v: str(v) if v is not None else None)
        elif dtype == "datetime":
            pdf[col] = pdf[col].map(
                lambda v: coerce_timezone(v) if isinstance(v, datetime.datetime) else v
            )
    return pdf


def to_spark_df(
    spark: SparkSession,
    data: Any,
    dtypes: dict[str, str] | None = None,
    _local_out: dict | None = None,
    _fold_rows: int = 0,
) -> tuple[DataFrame, dict[str, str]]:
    """Normalize input (Spark DF / pandas DF / list[dict] / simple-lines str)
    to a Spark DataFrame; returns (df, inferred_mrsm_dtypes).

    ``_local_out``: when the input is driver-local (anything but a Spark
    DataFrame), the fully-converted pandas frame is placed under
    ``_local_out['pdf']`` so callers can derive batch statistics without
    scheduling Spark jobs (see ``Pipe._split_existing``).

    ``_fold_rows``: a driver-local batch of at most this many rows is
    returned as a bare ``LocalRelation`` (not ``narrow``-ed), so that a
    ``collect()`` of projections over it folds into a ``LocalTableScan``
    and runs no Spark job; the caller narrows it before running one."""
    if isinstance(data, DataFrame):
        return data, {c: from_spark_type(f.dataType) for c, f in
                      zip(data.columns, data.schema.fields)}
    if isinstance(data, str):
        data = parse_simple_lines(data)
    if isinstance(data, (list, tuple)):
        data = pd.DataFrame(list(data))
    if not isinstance(data, pd.DataFrame):
        raise TypeError(f"Cannot ingest {type(data)!r}")

    pdf = data.copy()
    # registered geometry columns serialize FIRST (with their declared
    # SRID) — sniffing would otherwise WKB-encode them without it
    geo_declared = {
        col: canonical_dtype(dt) for col, dt in (dtypes or {}).items()
        if col in pdf.columns and pdf[col].dtype == object
        and canonical_dtype(dt).startswith(("geometry", "geography"))
    }
    for col, cdt in geo_declared.items():
        _, srid = _geo.parse_geometry_dtype(cdt)
        pdf[col] = pdf[col].map(
            lambda v: _geo.serialize_geometry(v, "wkb", srid=srid or None)
            if not (v is None or (isinstance(v, float) and pd.isna(v)))
            else None
        )
    special = sniff_special_dtypes(pdf)
    for col in geo_declared:
        special[col] = "geometry"
    pdf = _serialize_for_spark(pdf, special)

    # Parse string datetime columns: ones the registry declares, plus
    # ISO-looking string columns on first contact (reference
    # parse_df_datetimes, utils/dataframe.py:447-640).
    for col, dt in (dtypes or {}).items():
        if col in pdf.columns and dt == "datetime" and pdf[col].dtype == object:
            pdf[col] = pd.to_datetime(pdf[col], utc=True, format="ISO8601")
        elif (col in pdf.columns and canonical_dtype(dt).startswith("int")
              and pdf[col].dtype == "float64"):
            # pandas upcasts int columns to float64 when nulls appear; a
            # registered int column with integral values stays int64 via
            # the nullable Int64 array (reference keeps Int64, it does not
            # widen to numeric on missing values alone)
            non_null = pdf[col].dropna()
            if len(non_null) and (non_null % 1 == 0).all():
                pdf[col] = pdf[col].astype("Int64")
    declared = set(dtypes or {})
    for col in pdf.columns:
        if col in declared or col in special or pdf[col].dtype != object:
            continue
        sample = next((v for v in pdf[col] if isinstance(v, str)), None)
        if sample is None or not _ISO_DATE_RE.match(sample):
            continue
        try:
            pdf[col] = pd.to_datetime(pdf[col], utc=True, format="ISO8601")
        except (ValueError, TypeError):
            pass  # looked like a date but isn't — leave as text

    # columns with NO non-null values carry no type evidence: cast them to
    # the declared dtype (string fallback) and keep them OUT of the
    # inferred map — an all-null batch must never evolve a registered
    # dtype (it would corrupt the table's read schema)
    all_null_cols = [c for c in pdf.columns if pdf[c].isna().all()]
    if _local_out is not None:
        _local_out["pdf"] = pdf
    sdf = spark.createDataFrame(_nested_nulls_as_objects(pdf))
    if len(pdf) > _fold_rows:
        sdf = narrow(spark, sdf, len(pdf))
    for c in all_null_cols:
        want = (dtypes or {}).get(c)
        sdf = sdf.withColumn(
            c, F.col(c).cast(to_spark_type(want) if want else "string"))
    inferred = {c: from_spark_type(f.dataType) for c, f in
                zip(sdf.columns, sdf.schema.fields)
                if c not in all_null_cols}
    for col, dtype in special.items():
        if dtype in ("json", "uuid", "geometry"):
            inferred[col] = dtype
        elif dtype == "numeric":
            inferred[col] = "numeric"
            sdf = sdf.withColumn(col, F.col(col).cast(to_spark_type("numeric")))
    return sdf, inferred


def _nested_nulls_as_objects(pdf: pd.DataFrame) -> pd.DataFrame:
    """``pdf`` with each Arrow-backed nested column (a list, a struct)
    that holds a null turned into Python objects, None for the nulls:
    Spark's pandas conversion iterates such a column's values, and a
    null one arrives as ``pd.NA``, which is not iterable."""
    import pyarrow as pa
    cols = [c for c in pdf.columns
            if isinstance(pdf[c].dtype, pd.ArrowDtype)
            and pa.types.is_nested(pdf[c].dtype.pyarrow_dtype)
            and pdf[c].isna().any()]
    if not cols:
        return pdf
    pdf = pdf.copy()
    for c in cols:
        pdf[c] = pd.Series(pa.array(pdf[c]).to_pylist(), dtype=object,
                           index=pdf.index)
    return pdf


def narrow(spark: SparkSession, sdf: DataFrame, n_rows: int) -> DataFrame:
    """Driver-local input with a known (small) length: don't let the local
    relation fan out to defaultParallelism empty slices — every action on
    a 100-row batch would otherwise launch a full cluster-width task wave."""
    slices = max(1, min(int(n_rows // 50_000) + 1,
                        spark.sparkContext.defaultParallelism))
    if slices * 2 < spark.sparkContext.defaultParallelism:
        sdf = sdf.coalesce(slices)
    return sdf


def enforce_dtypes(df: DataFrame, dtypes: dict[str, str]) -> DataFrame:
    """Cast columns to their registered dtypes (reference
    core/Pipe/_dtypes.py:19-114). Unknown columns pass through untouched."""
    projections = []
    for c, field in zip(df.columns, df.schema.fields):
        if c in dtypes:
            want = to_spark_type(dtypes[c])
            if field.dataType != want:
                projections.append(F.col(c).cast(want).alias(c))
                continue
        projections.append(F.col(c))
    return df.select(*projections)


def add_missing_columns(df: DataFrame, dtypes: dict[str, str]) -> DataFrame:
    """Add NULL columns for registered columns absent from the batch, so
    unions/merges line up (reference _data.py:258-308 post-trim)."""
    for c, dt in dtypes.items():
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(to_spark_type(dt)))
    return df
