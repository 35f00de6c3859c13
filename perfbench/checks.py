"""Output checks, run outside the timed region.

Fixture queries with oracle SQL go through the repository's own
comparator, ``tests/conftest.assert_parity``, the one
``tests/test_oracle_parity.py`` uses (columns and rows sorted, dtypes
equal, floats exact).
Queries without an oracle compare against a pinned row count and
digest. Pipeline outputs compare against ``noaa_gen``'s pure-Python
reference.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The pure-Python reference sums in another order than Spark does.
REFERENCE_TOL = 1e-9


def _conftest():
    """``tests/conftest.py``, loaded by path (``tests`` is no package)."""
    spec = importlib.util.spec_from_file_location("repo_conftest", os.path.join(ROOT, "tests", "conftest.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def digest(pdf, canon) -> str:
    """Order-insensitive digest of a pandas result in ``canon`` form."""
    return hashlib.sha256(canon(pdf).to_csv(index=False).encode()).hexdigest()[:16]


class OracleChecker:
    """Checks fixture results against DuckDB oracles or pinned digests."""

    def __init__(self, sf_dir: str, tables, oracles: dict[str, str], pinned: dict[str, tuple[int, str]]):
        self.sf_dir = sf_dir
        self.tables = tables
        self.oracles = oracles
        self.pinned = pinned
        self._con = None
        self._conftest = None

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for table in self.tables:
                path = os.path.join(self.sf_dir, f"{table}.parquet")
                self._con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        return self._con

    def check(self, spark, name: str, df, rows) -> str | None:
        """None when the collected ``rows`` of ``df`` are right, else why not."""
        if self._conftest is None:
            self._conftest = _conftest()
        # The rows as collected, with the query's schema: no second run.
        result = spark.createDataFrame(rows, df.schema)
        if name in self.oracles:
            try:
                self._conftest.assert_parity(result, self._duck().sql(self.oracles[name]))
            except AssertionError as exc:
                return str(exc)[:300]
            return None
        if name in self.pinned:
            got = (len(rows), digest(result.toPandas(), self._conftest._canon))
            return None if got == self.pinned[name] else f"rows/digest {got} != {self.pinned[name]}"
        return "no oracle and no pinned digest"

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def result_bytes(rows) -> int:
    """Size of a collected result as text, one line per row."""
    return sum(len(repr(tuple(r)).encode()) + 1 for r in rows)


# ------------------------------------------------------------- pipelines


def _parquet_files(path: str) -> list[str]:
    found = []
    for dirpath, _, names in os.walk(path):
        found += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return sorted(found)


def parquet_bytes(path: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet files under ``path``."""
    files = _parquet_files(path)
    return len(files), sum(os.path.getsize(f) for f in files)


def _num_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def _rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    rows = []
    for f in _parquet_files(path):
        rows += pq.read_table(f).to_pylist()
    return rows


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=REFERENCE_TOL, abs_tol=REFERENCE_TOL)
    return a == b


def _compare_keyed(got: dict, want: dict, label: str) -> str | None:
    if got.keys() != want.keys():
        return f"{label}: {len(got)} keys != {len(want)} expected"
    for key, value in want.items():
        if len(got[key]) != len(value) or not all(_close(a, b) for a, b in zip(got[key], value)):
            return f"{label} {key}: {got[key]} != {value}"
    return None


def check_ghcn(out: str, ref: dict) -> str | None:
    n = _num_rows(os.path.join(out, "observations"))
    if n != ref["observations"]:
        return f"observations: {n} rows != {ref['observations']}"
    got = {
        (r["station_id"], r["year"], r["month"], r["element"]): (
            r["n_obs"], r["avg_value"], r["min_value"], r["max_value"]
        )
        for r in _rows(os.path.join(out, "monthly_climate"))
    }
    return _compare_keyed(got, ref["monthly"], "monthly_climate")


def check_isd(out: str, ref: dict) -> str | None:
    n = _num_rows(os.path.join(out, "hourly"))
    if n != ref["hourly"]:
        return f"hourly: {n} rows != {ref['hourly']}"
    got = {
        (r["station_id"], r["obs_date"].year, r["obs_date"].month, r["obs_date"].day): (
            r["n_obs"], r["tmin"], r["tavg"], r["tmax"], r["prcp"]
        )
        for r in _rows(os.path.join(out, "daily"))
    }
    return _compare_keyed(got, ref["daily"], "daily")
