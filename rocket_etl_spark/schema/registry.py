"""Field-id-based schema evolution (column add / rename / type-widen).

The reference recreated its datastore table when a schema changed
(upstream ``etl_util``/loaders behavior [U]) — unacceptable at lake
scale.  This registry reproduces Iceberg's mechanism: every column gets
a stable integer **field id**; data files record the schema *version*
they were written under; readers map file columns to the current schema
by id.  Consequences, exactly as in Iceberg:

* **add**: new id — old files simply lack it, readers null-backfill;
* **rename**: same id, new name — old files are read under their
  write-time name and re-aliased, no rewrite;
* **widen**: same id, wider type (int→long, float→double) — readers
  cast up on the fly.

A version's schema is immutable once written into a snapshot.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType, _parse_datatype_string

# allowed lossless widenings
_WIDEN_OK = {("int", "bigint"), ("float", "double"), ("smallint", "int"),
             ("smallint", "bigint"), ("int", "double")}


@dataclass(frozen=True)
class Field:
    id: int
    name: str
    dtype: str  # Spark DDL type string, e.g. "string", "bigint"

    def to_struct_field(self) -> StructField:
        return StructField(self.name, _parse_datatype_string(self.dtype), True)


@dataclass(frozen=True)
class TableSchema:
    version: int
    fields: tuple[Field, ...] = field(default_factory=tuple)

    # -- construction -----------------------------------------------------
    @staticmethod
    def from_ddl(pairs: list[tuple[str, str]]) -> "TableSchema":
        return TableSchema(
            version=1,
            fields=tuple(Field(i + 1, n, t) for i, (n, t) in enumerate(pairs)),
        )

    @staticmethod
    def from_json(obj: dict) -> "TableSchema":
        return TableSchema(
            version=obj["version"],
            fields=tuple(Field(f["id"], f["name"], f["type"]) for f in obj["fields"]),
        )

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "fields": [{"id": f.id, "name": f.name, "type": f.dtype} for f in self.fields],
        }

    # -- evolution ops (each returns a NEW version) -----------------------
    def add_column(self, name: str, dtype: str) -> "TableSchema":
        if any(f.name == name for f in self.fields):
            raise ValueError(f"column {name!r} already exists")
        nid = max((f.id for f in self.fields), default=0) + 1
        return TableSchema(self.version + 1, self.fields + (Field(nid, name, dtype),))

    def rename_column(self, old: str, new: str) -> "TableSchema":
        if not any(f.name == old for f in self.fields):
            raise ValueError(f"no column {old!r}")
        return TableSchema(
            self.version + 1,
            tuple(replace(f, name=new) if f.name == old else f for f in self.fields),
        )

    def widen_column(self, name: str, dtype: str) -> "TableSchema":
        cur = self.field_by_name(name)
        if (cur.dtype, dtype) not in _WIDEN_OK:
            raise ValueError(f"illegal widen {cur.dtype} -> {dtype} for {name!r}")
        return TableSchema(
            self.version + 1,
            tuple(replace(f, dtype=dtype) if f.name == name else f for f in self.fields),
        )

    # -- accessors ---------------------------------------------------------
    def field_by_name(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)

    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def to_struct(self) -> StructType:
        return StructType([f.to_struct_field() for f in self.fields])


def project_to(
    df: DataFrame,
    file_schema: TableSchema,
    current: TableSchema,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Re-shape a DataFrame read under ``file_schema`` to ``current``.

    Field-id resolution: same id → select (renamed / cast as needed);
    id absent from the file schema → null-backfill.  This is the whole
    read-side of schema evolution.  ``passthrough`` columns (e.g. the
    internal ``_deleted`` tombstone flag) are carried over unchanged.
    """
    by_id = {f.id: f for f in file_schema.fields}
    cols = []
    for f in current.fields:
        src = by_id.get(f.id)
        if src is None:
            cols.append(F.lit(None).cast(f.dtype).alias(f.name))
        else:
            cols.append(F.col(src.name).cast(f.dtype).alias(f.name))
    cols.extend(F.col(c) for c in passthrough if c in df.columns)
    return df.select(*cols)


def project_arrow(
    tbl: pa.Table, file_schema: TableSchema, current: TableSchema, types: pa.Schema
) -> pa.Table:
    """``project_to`` for an Arrow table read with pyarrow (driver-side
    point lookups): the same field-id resolution, to ``types``, the
    Arrow schema Spark uses for ``current``
    (``to_arrow_schema(current.to_struct())``, built once by the caller:
    each type in it is parsed in the JVM).  A change here belongs in
    ``project_to`` too.

    Spark writes timestamps as INT96 (``spark.sql.parquet.
    outputTimestampType``) holding UTC instants, which pyarrow reads as
    naive timestamps (the caller reads them at Spark's microsecond
    unit); the cast to Spark's ``timestamp[us, tz=UTC]`` reads them as
    UTC."""
    by_id = {f.id: f for f in file_schema.fields}
    cols = [
        pa.nulls(tbl.num_rows, t.type) if (src := by_id.get(f.id)) is None
        else tbl.column(src.name).cast(t.type)
        for f, t in zip(current.fields, types)
    ]
    return pa.Table.from_arrays(cols, schema=types)
