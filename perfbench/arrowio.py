"""Write generated rows as parquet with the program's own Spark schemas.

Inputs are written with pyarrow, not Spark, so generation costs no Spark
jobs and the same rows always give the same bytes; outputs are read back the
same way for the checks.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

#: files per generated table that an operation scans: one scan task per
#: core of a 4-core machine
PARTS = 4


def arrow_type(t: T.DataType) -> pa.DataType:
    if isinstance(t, T.LongType):
        return pa.int64()
    if isinstance(t, T.IntegerType):
        return pa.int32()
    if isinstance(t, T.StringType):
        return pa.string()
    if isinstance(t, T.BooleanType):
        return pa.bool_()
    if isinstance(t, T.DoubleType):
        return pa.float64()
    if isinstance(t, T.DecimalType):
        return pa.decimal128(t.precision, t.scale)
    if isinstance(t, T.ArrayType):
        return pa.list_(arrow_type(t.elementType))
    if isinstance(t, T.MapType):
        return pa.map_(arrow_type(t.keyType), arrow_type(t.valueType))
    if isinstance(t, T.StructType):
        return pa.struct([pa.field(f.name, arrow_type(f.dataType)) for f in t.fields])
    raise TypeError(f"no arrow mapping for {t}")


def arrow_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema([pa.field(f.name, arrow_type(f.dataType)) for f in schema.fields])


def _maps_to_items(v, t: T.DataType):
    """pyarrow takes map values as lists of (key, value) pairs."""
    if v is None:
        return None
    if isinstance(t, T.MapType):
        return [(k, _maps_to_items(x, t.valueType)) for k, x in v.items()]
    if isinstance(t, T.StructType):
        return {f.name: _maps_to_items(v.get(f.name), f.dataType) for f in t.fields}
    if isinstance(t, T.ArrayType):
        return [_maps_to_items(x, t.elementType) for x in v]
    return v


def read_rows(path: str, columns: list[str]) -> list[dict]:
    """`columns` of every row of the parquet table Spark wrote at `path`."""
    return pq.read_table(path, columns=columns).to_pylist()


def write_file(file_path: str, rows: list[dict], schema: T.StructType) -> None:
    """`rows` as one zstd parquet file; keys outside `schema` are ignored."""
    cols = {
        f.name: [_maps_to_items(r.get(f.name), f.dataType) for r in rows]
        for f in schema.fields
    }
    pq.write_table(pa.table(cols, schema=arrow_schema(schema)), file_path, compression="zstd")


def write_rows(path: str, rows: list[dict], schema: T.StructType, parts: int = 1) -> None:
    """`parts` parquet files of consecutive rows under directory `path`, as
    Spark lays a table out."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // parts) if rows else 1
    for k in range(parts):
        write_file(os.path.join(path, f"part-{k}.parquet"), rows[k * step:(k + 1) * step],
                   schema)
