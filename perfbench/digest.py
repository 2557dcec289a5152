"""Order-independent row digest of a DataFrame, usable on entity results.

``xxhash64`` rejects MAP columns (``DATATYPE_MISMATCH.HASH_MAP_TYPE``), so
maps are hashed as ``array_sort(map_entries(...))``. Floating-point values
are hashed at seven significant digits, so a change of summation order
between runs cannot change a digest. Rows are summed as exact decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _canon(col: Column, dt: T.DataType) -> Column:
    if isinstance(dt, T.MapType):
        return F.array_sort(F.transform(F.map_entries(col), lambda e: F.struct(
            _canon(e["key"], dt.keyType).alias("key"),
            _canon(e["value"], dt.valueType).alias("value"))))
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dt.elementType))
    if isinstance(dt, T.StructType):
        return F.struct(*[_canon(col[f.name], f.dataType).alias(f.name)
                          for f in dt.fields])
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return F.format_string("%.6e", col)
    return col


def digest_frame(df: DataFrame) -> DataFrame:
    """One-row frame ``(rows, hash_sum)`` that materializes every row."""
    cols = [_canon(F.col(f"`{f.name}`"), f.dataType).alias(f.name)
            for f in df.schema.fields]
    return df.select(F.xxhash64(F.struct(*cols)).alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("hash_sum"),
    )


def digest_df(df: DataFrame, frame: DataFrame | None = None) -> str:
    row = (frame if frame is not None else digest_frame(df)).collect()[0]
    return f"{row['rows']}:{row['hash_sum']}"
