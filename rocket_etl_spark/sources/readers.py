"""Source readers — the engine's analog of the reference's connectors +
extractors (upstream ``pipeline/connectors.py`` / ``pipeline/extractors.py``
[U], SURVEY.md §2.1).

Key inversion vs the reference: extractors yielded one Python dict per
row; here every format maps to a distributed ``spark.read`` with a
DECLARED schema (never inference — the reference declared marshmallow
schemas per job, SURVEY.md §1.1).

Network connectors (the reference's HTTP/SFTP fetch, S2/S3) were
removed: no job, harness query or bench row declares one; stage remote
files locally and read them as csv/json/parquet.  Excel (S5) needs
driver pandas and is gated behind an import-try.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def read_source(spark: SparkSession, src) -> DataFrame:
    """Read a SourceSpec; text formats require a declared schema."""
    fmt = src.format.lower()
    if fmt == "parquet":
        return spark.read.options(**src.options).parquet(src.path)
    if fmt == "csv":
        if not src.schema_ddl:
            raise ValueError("csv sources require a declared schema (no inference)")
        return (
            spark.read.schema(src.schema_ddl)
            .option("header", True)
            .option("encoding", src.encoding)
            .options(**src.options)
            .csv(src.path)
        )
    if fmt == "json":
        if not src.schema_ddl:
            raise ValueError("json sources require a declared schema (no inference)")
        return (
            spark.read.schema(src.schema_ddl)
            .option("encoding", src.encoding)
            .options(**src.options)
            .json(src.path)
        )
    if fmt == "excel":
        try:
            import pandas as pd  # noqa: F401

            pdf = pd.read_excel(src.path, **src.options)  # needs openpyxl/xlrd
        except ImportError as e:  # pragma: no cover - env-dependent
            raise NotImplementedError(f"excel support needs a reader lib: {e}") from e
        return spark.createDataFrame(pdf)
    if fmt == "lake":
        # a lake table as a job source (downstream jobs over CDC-maintained
        # tables); jobspec.extract routes filtered reads through zone-map
        # file pruning before this plain form is reached
        from rocket_etl_spark.lake.table import LakeTable

        return LakeTable.load(spark, src.path).read()
    raise ValueError(f"unknown source format {src.format!r}")


def source_checksum(path: str | Path) -> str:
    """sha256 of a local source file — the reference logged an input
    checksum per run for its status DB (upstream connectors.py [U]);
    the engine records it in lineage-adjacent metadata."""
    h = hashlib.sha256()
    p = Path(path)
    files = sorted(p.rglob("*")) if p.is_dir() else [p]
    for f in files:
        if f.is_file():
            with open(f, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()
