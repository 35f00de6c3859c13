"""The benchmark's workloads: which operations one pass runs, on which
inputs, and how each operation's output is checked."""

from __future__ import annotations

import os
from dataclasses import dataclass

import checks
import noaa_gen

STREAM_TWINS = (
    # memory-sink and stateful twins
    "q_stream_tumbling",
    "q_stream_stateful",
    # foreachBatch fold twins
    "q_stream_bootstrap_ci",
    "q_stream_stats_merge",
)

# Wall time of one pass on 4 CPUs shared with other tenants, rounded
# up; a run measures --seconds // NOMINAL_PASS_S passes (at least three).
NOMINAL_PASS_S = {"noaa_etl": 5.0, "stream_twins": 9.0}

# Rows-only queries (no oracle SQL) at sf0.01: (row count, checks.digest).
PINNED = {
    "q_stream_stateful": (150, "de21d436ab623747"),
}

# Raw input of the noaa_etl workload: 6,144 .dly lines (1.7 MB) and
# 70,080 ISD-Lite lines (4.4 MB).
NOAA_SIZE = noaa_gen.InputSize(ghcn_stations=16, ghcn_years=8, isd_stations=4, isd_years=2)


@dataclass
class Outcome:
    """What one operation produced: its error (None when it passed the
    check) and the bytes it delivered."""

    error: str | None
    out_bytes: int
    files: int = 0


class FixtureOp:
    """A registered query on the read-only fixture tables."""

    # Results are kept as collected and checked after the last pass.
    check_at_once = False

    def __init__(self, name: str, sf_dir: str, queries: dict, checker: checks.OracleChecker):
        self.name = name
        self.sf_dir = sf_dir
        self.queries = queries
        self.checker = checker
        self._last: tuple[list, Outcome] | None = None

    def run(self, spark):
        df = self.queries[self.name](spark, self.sf_dir)
        return df, df.collect()

    def check(self, result) -> Outcome:
        df, rows = result
        # Rows equal to the last checked ones get the same verdict.
        if self._last is None or self._last[0] != rows:
            self._last = rows, Outcome(self.checker.check(df.sparkSession, self.name, df, rows), checks.result_bytes(rows))
        return self._last[1]


class PipelineOp:
    """One NOAA pipeline writing year-partitioned parquet."""

    # The next pass overwrites the output, so it is checked at once.
    check_at_once = True

    def __init__(self, name: str, module, in_dir: str, out_dir: str, check_fn):
        self.name = name
        self.module = module
        self.in_dir = in_dir
        self.out_dir = out_dir
        self.check_fn = check_fn
        self._reference = None

    def run(self, spark):
        # Looked up per call so a traced run sees the wrapped function.
        self.module.run_pipeline(spark, self.in_dir, self.out_dir)

    def check(self, result) -> Outcome:
        if self._reference is None:
            ref = noaa_gen.ghcn_reference if self.name == "ghcn" else noaa_gen.isd_reference
            self._reference = ref(self.in_dir)
        files, size = checks.parquet_bytes(self.out_dir)
        return Outcome(self.check_fn(self.out_dir, self._reference), size, files)


@dataclass
class Inputs:
    ops: list
    in_bytes: int
    sf_dir: str | None


def fixture_dir(scale: str) -> str:
    """The fixture tables at ``scale``, beside the engine's default ones."""
    from noaa_etl_spark.io import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), scale)


def prepare(workload: str, seed: int, work: str) -> dict[str, int]:
    """Make the workload's seeded inputs before the engine is imported;
    return raw byte counts (empty for fixture workloads)."""
    if workload == "noaa_etl":
        return noaa_gen.generate(os.path.join(work, "in"), seed, NOAA_SIZE)
    return {}


def build(workload: str, work: str, raw: dict[str, int], queries: dict, oracles: dict) -> tuple[Inputs, object]:
    """The workload's operations and a closer for what they hold open."""
    if workload == "noaa_etl":
        from noaa_etl_spark.pipelines import ghcn, isd

        ops = [
            PipelineOp("ghcn", ghcn, os.path.join(work, "in", "ghcn"), os.path.join(work, "out", "ghcn"), checks.check_ghcn),
            PipelineOp("isd", isd, os.path.join(work, "in", "isd"), os.path.join(work, "out", "isd"), checks.check_isd),
        ]
        return Inputs(ops, sum(raw.values()), None), lambda: None
    from noaa_etl_spark.io import TABLES

    sf_dir = fixture_dir("sf0.01")
    checker = checks.OracleChecker(sf_dir, TABLES, oracles, PINNED)
    ops = [FixtureOp(n, sf_dir, queries, checker) for n in STREAM_TWINS]
    in_bytes = sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES)
    return Inputs(ops, in_bytes, sf_dir), checker.close
