"""The LWW oracle in pure SQL, run by DuckDB over the staged event files.

It is the same query ``__spark_entry__.py`` checks the engine's replay
against: per ``(repo, path)`` the event with the highest ``event_seq``
wins and a winning delete removes the key.  Here it is restricted to a
delivery prefix (every epoch up to and including ``ep``), so each answer
the engine gave mid-run is compared with the state it should have had
at that moment.  DuckDB never shares code with the engine, and it runs
only after the timed section.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

from rocket_etl_spark.functions.lang import ALIASES

# the aggregate the benchmark's scans and filtered reads force: it reads
# every column, and the oracle can compute the same tuple
SUMMARY_EXPRS = (
    "count(*)", "sum(last_event_seq)", "sum(length(content))", "sum(length(lang))",
    "sum(length(last_commit))", "sum(length(content_sha256))",
    "sum(length(repo))", "sum(length(path))",
)


class LwwOracle:
    def __init__(self, stage_dir: Path, temp_dir: Path):
        self.con = duckdb.connect(config={
            "threads": 2, "memory_limit": "1GB", "temp_directory": str(temp_dir),
        })
        self.con.execute(
            "CREATE TABLE alias AS SELECT * FROM (VALUES "
            + ", ".join(f"('{k}', '{v}')" for k, v in ALIASES.items())
            + ") t(raw, norm)"
        )
        self.con.execute(
            "CREATE TABLE ev AS SELECT event_seq, _ep::INTEGER AS ep, op, repo, path, "
            "commit, coalesce(alias.norm, lower(trim(lang))) AS lang, content "
            f"FROM read_parquet('{stage_dir}/*/*.parquet', hive_partitioning = true) "
            "LEFT JOIN alias ON alias.raw = lower(trim(lang))"
        )
        self._states: set[str] = set()

    def _state(self, ep: int) -> str:
        """The table holding the state after epochs ``<= ep`` (``-1`` =
        base only), built on first use."""
        name = f"state_{ep + 1}"
        if name not in self._states:
            self.con.execute(
                f"CREATE TEMP TABLE {name} AS SELECT repo, path, lang, content, "
                "commit AS last_commit, event_seq AS last_event_seq FROM "
                "(SELECT *, row_number() OVER (PARTITION BY repo, path "
                f"ORDER BY event_seq DESC) AS rn FROM ev WHERE ep <= {int(ep)}) "
                "WHERE rn = 1 AND op <> 'delete'"
            )
            self._states.add(name)
        return name

    def summary(self, ep: int, since: int | None = None) -> tuple:
        """The scan summary of the state, or of its rows with
        ``last_event_seq >= since`` (a "changed since" filtered read)."""
        where = "" if since is None else f" WHERE last_event_seq >= {int(since)}"
        exprs = ", ".join(SUMMARY_EXPRS).replace("length(content_sha256)", "64")
        row = self.con.execute(
            f"SELECT {exprs} FROM {self._state(ep)}{where}"
        ).fetchone()
        return canon(row)

    def lookup(self, ep: int, keys) -> set[tuple]:
        """``{(repo, path, last_event_seq, content_sha256)}`` for the keys
        that are live after epoch ``ep``."""
        self.con.execute("CREATE OR REPLACE TEMP TABLE probe(repo VARCHAR, path VARCHAR)")
        self.con.executemany("INSERT INTO probe VALUES (?, ?)", [tuple(k) for k in keys])
        rows = self.con.execute(
            "SELECT s.repo, s.path, s.last_event_seq, sha256(s.content) "
            f"FROM {self._state(ep)} s JOIN probe USING (repo, path)"
        ).fetchall()
        return set(rows)

    def final_mismatches(self, ep: int, engine_dir: Path) -> tuple[int, int]:
        """Rows of the engine's final table (exported as parquet) that are
        missing, extra or differ in any column from the oracle state,
        content compared by sha256.  Returns (mismatches, oracle rows)."""
        st = self._state(ep)
        n_oracle = self.con.execute(f"SELECT count(*) FROM {st}").fetchone()[0]
        bad = self.con.execute(
            "SELECT count(*) FROM (SELECT repo, path, lang, sha256(content) AS h, "
            f"last_commit, last_event_seq FROM {st}) o FULL OUTER JOIN "
            f"read_parquet('{engine_dir}/*.parquet') e USING (repo, path) "
            "WHERE o.h IS DISTINCT FROM e.content_sha256 "
            "OR o.lang IS DISTINCT FROM e.lang "
            "OR o.last_commit IS DISTINCT FROM e.last_commit "
            "OR o.last_event_seq IS DISTINCT FROM e.last_event_seq"
        ).fetchone()[0]
        return int(bad), int(n_oracle)

    def close(self) -> None:
        self.con.close()


def canon(row) -> tuple:
    """A summary row as plain ints (an empty sum reads 0), so engine and
    oracle rows compare equal."""
    return tuple(int(v) if v is not None else 0 for v in row)
