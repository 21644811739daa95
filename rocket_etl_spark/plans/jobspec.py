"""Declarative job specs — the engine's analog of the reference's job dicts.

The reference drives every pipeline from a per-job dict (source
type/path/encoding, a marshmallow schema class, primary keys, destination,
upload method 'upsert'|'insert', wipe flag, per-row hooks — upstream
``launchpad.py`` / ``engine/etl_util.py`` [U], SURVEY.md §1.1/§3.1).
Here the same spec is a typed dataclass tree, and ``run_job`` is three
pure functions: extract → transform → load.  No Pipeline builder class:
the DataFrame API *is* the fluent plan and Catalyst is the optimizer
(SURVEY.md §3.2 conclusion).

Marshmallow semantics map 1:1 (SURVEY.md §2.3):
  load_only (drop)     → TransformSpec.drops
  dump_to (rename)     → TransformSpec.renames
  field type coercion  → TransformSpec.casts
  ''→None / allow_none → TransformSpec.null_norm columns
  @pre_load hooks      → TransformSpec.derived (name → SQL expression)
  field validators     → ValidationSpec rules (plans/validate.py):
  (OneOf/Range/Regexp/   one codegen'd pass collecting failed-rule names,
   allow_none, custom)   rejects quarantined / dropped / job-fatal
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rocket_etl_spark.lake.maintenance import _retry_cas
from rocket_etl_spark.lake.merge import CommitResult, append_batch, merge_batch
from rocket_etl_spark.lake.table import LakeTable, child_snapshot
from rocket_etl_spark.schema.registry import TableSchema
from rocket_etl_spark.sources.readers import read_source


@dataclass(frozen=True)
class SourceSpec:
    format: str                       # parquet | csv | json
    path: str
    schema_ddl: str | None = None     # declared, never inferred, for text formats
    encoding: str = "UTF-8"
    options: dict = field(default_factory=dict)


@dataclass(frozen=True)
class TransformSpec:
    drops: tuple[str, ...] = ()
    renames: dict = field(default_factory=dict)     # old -> new
    casts: dict = field(default_factory=dict)       # col -> spark type ddl
    null_norm: tuple[str, ...] = ()                 # ''/whitespace -> NULL
    derived: dict = field(default_factory=dict)     # new col -> SQL expr
    filter: str | None = None                       # SQL predicate


class ValidationError(Exception):
    """Strict-mode validation failure (marshmallow's ValidationError)."""


@dataclass(frozen=True)
class ValidationSpec:
    """The marshmallow-validator half of the job schema (plans/validate.py).

    on_violation:
      quarantine — write failing rows (+ ``_violations`` reasons) to
                   ``quarantine_path``, load the rest (the reference's
                   log-and-skip, but the rejects are a queryable table),
      drop       — silently load only valid rows,
      fail       — abort the job if ANY row fails (strict schema).
    """

    rules: tuple = ()
    on_violation: str = "quarantine"   # quarantine | drop | fail
    quarantine_path: str | None = None


@dataclass(frozen=True)
class DestSpec:
    mode: str                          # upsert | insert | overwrite | file
    path: str
    key_cols: tuple[str, ...] = ()     # upsert only
    # LWW order for upserts.  Use a column that ADVANCES on change (event
    # seq, updated_at, file mtime).  Pointing it at a key column makes the
    # table effectively insert-only: a re-delivered row carries the same
    # order value and loses the strict `s.order > t.order` MERGE guard, so
    # updates and deletes of existing keys never apply.
    order_col: str = ""                # upsert only (LWW order)
    num_buckets: int = 16
    file_format: str = "parquet"       # file mode only


@dataclass(frozen=True)
class JobSpec:
    name: str
    source: SourceSpec
    transform: TransformSpec = field(default_factory=TransformSpec)
    validate: ValidationSpec | None = None
    dest: DestSpec | None = None


def apply_validation(df: DataFrame, spec: JobSpec) -> DataFrame:
    """Split per ``spec.validate`` and return the valid side.

    fail mode pays one count action over the (cheap, reject-selective)
    quarantine filter; quarantine mode pays the quarantine write —
    both scan-bounded, neither collects rows to the driver."""
    v = spec.validate
    if v is None or not v.rules:
        return df
    from rocket_etl_spark.plans.validate import split

    valid, quarantined = split(df, v.rules)
    if v.on_violation == "fail":
        n = quarantined.count()
        if n:
            raise ValidationError(f"job {spec.name!r}: {n} row(s) failed validation")
    elif v.on_violation == "quarantine":
        if v.quarantine_path:
            quarantined.write.mode("append").parquet(v.quarantine_path)
    elif v.on_violation != "drop":
        raise ValueError(f"unknown on_violation {v.on_violation!r}")
    return valid


def extract(spark: SparkSession, spec: JobSpec) -> DataFrame:
    """Read the source; lake-table sources with a prunable ``filter``
    get automatic zone-map FILE pruning (round-5 verdict item #4: users
    write ``filter``, not a pruning API).

    Safety: pruning only derives a per-column bound when the transform
    leaves that column untouched (no rename/cast/null-norm/derive/drop
    can change what the later ``filter`` sees), and the transform still
    applies the full predicate as the residual — a pruned file set is a
    no-false-negative superset, so the job's rows are identical."""
    src = spec.source
    if src.format.lower() == "lake" and spec.transform.filter:
        from rocket_etl_spark.lake.lookup import filtered_read
        from rocket_etl_spark.lake.table import LakeTable as _LT

        t = _LT.load(spark, src.path)
        tr = spec.transform
        touched = (
            set(tr.renames) | set(tr.renames.values()) | set(tr.derived)
            | set(tr.casts) | set(tr.null_norm) | set(tr.drops)
        )
        df, stats = filtered_read(
            t, tr.filter, return_stats=True, skip_cols=touched,
            residual=False,  # transform() applies the predicate itself
        )
        return df
    return read_source(spark, spec.source)


def transform(df: DataFrame, spec: JobSpec) -> DataFrame:
    t = spec.transform
    for old, new in t.renames.items():
        df = df.withColumnRenamed(old, new)
    if t.drops:
        df = df.drop(*t.drops)
    for col, dtype in t.casts.items():
        # lenient, marshmallow-style coercion: malformed -> NULL (ANSI-safe)
        df = df.withColumn(col, F.col(col).try_cast(dtype))
    for col in t.null_norm:
        df = df.withColumn(col, F.nullif(F.trim(F.col(col)), F.lit("")))
    for col, expr in t.derived.items():
        df = df.withColumn(col, F.expr(expr))
    if t.filter:
        df = df.filter(t.filter)
    return df


def load(df: DataFrame, spec: JobSpec) -> CommitResult | None:
    """Load per destination mode.

    upsert    — keyed LWW MERGE into a lake table (creates it on first run;
                the reference's ``upload_method='upsert'``),
    insert    — TRUE append (``append_batch``): rows land in their buckets
                with no dedupe/join, duplicate keys accumulate — the
                reference's ``upload_method='insert'`` semantics exactly,
    overwrite — the reference's wipe/full-refresh (``always_wipe_data``),
    file      — plain file sink (``FileLoader``).
    """
    d = spec.dest
    if d is None:
        return None
    if d.mode == "file":
        df.write.mode("overwrite").format(d.file_format).option("header", True).save(d.path)
        return None
    if d.mode in ("upsert", "insert"):
        spark = df.sparkSession
        if not (Path(d.path) / "snapshots").exists():
            pairs = [(f.name, f.dataType.simpleString()) for f in df.schema.fields
                     if f.name != "op"]
            table = LakeTable.create(
                spark, d.path, TableSchema.from_ddl(pairs),
                key_cols=d.key_cols, order_col=d.order_col, num_buckets=d.num_buckets,
            )
        else:
            table = LakeTable.load(spark, d.path)
        if d.mode == "insert":
            return append_batch(table, df.drop("op") if "op" in df.columns else df)
        batch = df if "op" in df.columns else df.withColumn("op", F.lit("upsert"))
        return merge_batch(table, batch)
    if d.mode == "overwrite":
        # wipe-and-reload: new table state = exactly this batch (still a
        # snapshot commit, so history/time-travel is preserved)
        spark = df.sparkSession
        table = LakeTable.load(spark, d.path)
        _wipe_snapshot(table)
        batch = df if "op" in df.columns else df.withColumn("op", F.lit("upsert"))
        return merge_batch(table, batch)
    raise ValueError(f"unknown dest mode {d.mode!r}")


def _wipe_snapshot(table: LakeTable) -> dict:
    """Commit an empty table state — retired layouts included — as the
    tip's child.  A lost snapshot CAS retries from the new tip, within
    the bound every maintenance writer uses (``maintenance._retry_cas``),
    so the wipe either lands or raises."""
    def attempt() -> dict | None:
        snap = child_snapshot(
            table.current_snapshot(),
            buckets={}, legacy=None, added_files={}, stats={"wiped": True},
        )
        return snap if table._try_write_snapshot(snap) else None

    return _retry_cas("overwrite wipe", attempt)


def run_job(spark: SparkSession, spec: JobSpec, notifier=None) -> CommitResult | None:
    """Extract → transform → load, with the reference's per-run
    success/failure notification (upstream ``engine/notify.py`` [U]) —
    see ``rocket_etl_spark.notify``; notifier errors never fail the run."""
    from rocket_etl_spark.notify import safe_notify

    try:
        res = load(apply_validation(transform(extract(spark, spec), spec), spec), spec)
    except Exception as e:
        safe_notify(notifier, {
            "kind": "job", "name": spec.name, "status": "failure", "error": str(e),
        })
        raise
    safe_notify(notifier, {
        "kind": "job", "name": spec.name, "status": "success",
        "rows_in": getattr(res, "rows_in", None),
        "rows_upserted": getattr(res, "rows_upserted", None),
        "snapshot_id": getattr(res, "snapshot_id", None),
    })
    return res
