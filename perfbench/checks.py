"""Output checks that run outside every timed region.

``serve`` checks its table against DuckDB's replay of the generator, its
kept series against a NumPy recount, and its R² against a NumPy
recomputation (``replays_generator``, ``kept_series``, ``r2_ppm_mean``).

Registry results are compared with their DuckDB oracle the way the
repository's oracle harness does it: same column names, same rows in any
order, exact equality except floats, which may differ by 1e-9. Values are
first reduced to a canonical form (dates and timestamps to epoch
microseconds, decimals to floats, NaN to null) so Spark rows and DuckDB
rows compare directly.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import re
from decimal import Decimal
from pathlib import Path

import numpy as np

_EPOCH = dt.datetime(1970, 1, 1)
_MICRO = dt.timedelta(microseconds=1)
_FLOAT_ATOL = 1e-9


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return (v.replace(tzinfo=None) - _EPOCH) // _MICRO
    if isinstance(v, dt.date):
        return (dt.datetime(v.year, v.month, v.day) - _EPOCH) // _MICRO
    if isinstance(v, (int, str)):
        return v
    return repr(v)


def _sort_key(row: tuple) -> tuple:
    return tuple((1, 0) if v is None else (0, v) for v in row)


def canon_result(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """(sorted column names, rows of canonical values in that column
    order, sorted)."""
    order = sorted(range(len(columns)), key=columns.__getitem__)
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return [columns[i] for i in order], out


def _same_value(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) or isinstance(b, float):
            return abs(a - b) <= _FLOAT_ATOL
        return a == b
    return a == b


def same_result(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> bool:
    (gc, gr), (wc, wr) = got, want
    return (
        gc == wc
        and len(gr) == len(wr)
        and all(
            len(g) == len(w) and all(map(_same_value, g, w))
            for g, w in zip(gr, wr)
        )
    )


def duckdb_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canon_result(cols, cur.fetchall())


def cached_duckdb_result(con, sql: str, tables: list[str], cache_dir: Path):
    """``duckdb_result``, kept on disk when the SQL reads none of
    ``tables``: such an oracle depends only on its own text. The one in
    the mix, ``cashflow_synthetic_pipeline``'s replay of the series
    generator, takes 11 to 13 s of the 13 to 15 s all 30 oracles take on
    a 4-core VM; kept, it is evaluated once per checkout, not once per
    run."""
    if re.search(r"\b(" + "|".join(tables) + r")\b", sql):
        return duckdb_result(con, sql)
    path = cache_dir / (hashlib.sha256(sql.encode()).hexdigest()[:24] + ".json")
    if path.is_file():
        cols, rows = json.loads(path.read_text())
        return cols, [tuple(r) for r in rows]
    result = duckdb_result(con, sql)
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(result))
    tmp.replace(path)
    return result


def replays_generator(path: str, seed: int, n_series: int, n_days: int) -> bool:
    """The first ``n_series`` series of the parquet table at ``path``
    equal DuckDB's draw-for-draw replay of ``generate_series_frame``,
    value for value."""
    import duckdb

    from time_series_prediction_spark.sources.generate import duckdb_series_cte

    con = duckdb.connect()
    want = con.execute(
        "WITH " + duckdb_series_cte(n_series, n_days, seed=seed)
        + " SELECT id, signal_type, b FROM gen ORDER BY id"
    ).fetchall()
    got = con.execute(
        "SELECT primaryaccountholder, signal_type, balance"
        f" FROM read_parquet('{path}/*.parquet')"
        f" WHERE primaryaccountholder < {n_series}"
        " ORDER BY primaryaccountholder"
    ).fetchall()
    return len(got) == n_series and got == want


def kept_series(balance: np.ndarray, threshold: int = 20) -> np.ndarray:
    """Mask of the rows of ``balance`` (series x days) that
    ``clean_series`` keeps: not constant, and at least ``threshold``
    non-zero day-to-day changes."""
    changes = (np.diff(balance.astype(np.float64), axis=1) != 0).sum(axis=1)
    constant = (balance == balance[:, :1]).all(axis=1)
    return ~constant & (changes >= threshold)


def _fold(x: np.ndarray) -> np.ndarray:
    """Row sums added left to right, as Spark's ``aggregate`` does."""
    return np.cumsum(x, axis=1)[:, -1]


def r2_ppm_mean(truth: np.ndarray, pred: np.ndarray, n_days: int) -> float | None:
    """``r2_metrics``' R² over the first ``n_days`` of the window: each
    series' R² in whole parts per million, averaged over the series whose
    truth is not constant. Same operations in the same order, so the
    value is bit-identical."""
    t = truth[:, :n_days].astype(np.float64)
    p = pred[:, :n_days].astype(np.float64)
    mean = _fold(t) / n_days
    sse = _fold((t - p) * (t - p))
    sst = _fold((t - mean[:, None]) * (t - mean[:, None]))
    defined = sst != 0.0
    if not defined.any():
        return None
    ppm = np.floor((1.0 - sse[defined] / sst[defined]) * 1e6 + 0.5).astype(np.int64)
    return float(int(ppm.sum())) / (float(int(defined.sum())) * 1e6)
