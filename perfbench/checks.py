"""Output checks, run outside every timed region.

Lane outputs are compared with their DuckDB oracle on the generated
inputs, with the same order-insensitive normalisation the repository's
oracle sweep uses. The launch workload is checked for exactly-once
delivery. Each check returns a list of human-readable mismatches; an
empty list means the output is correct.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import functions as F

from oracle_sweep import _normalize


class Oracle:
    """DuckDB views over the generated parquet tables."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, t + ".parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self.con.close()

    def check_lane(self, name: str, sql: str | None, cols, rows) -> list[str]:
        """Hash-compare a lane's collected output with its oracle; lanes
        without one must at least return rows."""
        if sql is None:
            return [] if rows else [f"{name}: no rows (rows-only check)"]
        res = self.con.execute(sql)
        duck_cols = [d[0].lower() for d in res.description]
        duck_rows = res.fetchall()
        cols = [c.lower() for c in cols]
        if sorted(cols) != sorted(duck_cols):
            return [f"{name}: columns {sorted(cols)} != oracle {sorted(duck_cols)}"]
        if len(rows) != len(duck_rows):
            return [f"{name}: {len(rows)} rows != oracle {len(duck_rows)}"]
        got = _normalize(rows, cols)
        want = _normalize(duck_rows, duck_cols)
        bad = sum(1 for a, b in zip(got, want) if a != b)
        return [f"{name}: {bad} rows differ from oracle"] if bad else []


def check_launch_cycle(spark, out_dir: str, launched: list[int], relaunched: int,
                       n_obs: int) -> list[str]:
    """Exactly-once for one drain of the launcher: every observation
    launched once, results and ledger agree, and the re-launch that
    follows selects nothing."""
    errs = []
    total = sum(launched)
    n_res, n_res_distinct = spark.read.parquet(os.path.join(out_dir, "results")).agg(
        F.count(F.lit(1)), F.countDistinct("obs_id")).first()
    n_led = spark.read.parquet(os.path.join(out_dir, "ledger")).count()
    if total != n_obs:
        errs.append(f"launch: launched {total} of {n_obs} observations")
    if not (n_res == n_res_distinct == n_led == total):
        errs.append(
            f"launch: results {n_res} (distinct {n_res_distinct}), "
            f"ledger {n_led}, launched {total}"
        )
    if relaunched != 0:
        errs.append(f"launch: re-launch selected {relaunched}, expected 0")
    return errs


def check_drain(spark, source_dir: str, sink_dir: str, n_events: int) -> list[str]:
    """The incremental drain processed each of the ``n_events`` distinct
    input events exactly once."""
    res = spark.read.parquet(os.path.join(sink_dir, "results"))
    n_res, n_res_distinct = res.agg(
        F.count(F.lit(1)), F.countDistinct("event_id")).first()
    missing = (spark.read.parquet(source_dir)
               .join(res, "event_id", "left_anti").count())
    if not (n_res == n_res_distinct == n_events) or missing:
        return [
            f"drain: {n_res} results ({n_res_distinct} distinct) for "
            f"{n_events} input events, {missing} missing"
        ]
    return []
