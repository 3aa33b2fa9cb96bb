"""Seeded Binance 1-second kline generator (FIXTURES.md §1.1).

The benchmark makes its own inputs; the engine only ever sees the files.
Same seed, same bytes.  Prices are a gap-free random walk rounded to the
cent, so every derived constraint holds exactly after the CSV round trip:
``open[i] == close[i-1]``, ``high >= max(open, close)``,
``0 < low <= min(open, close)``, ``close_time == open_time + 999``,
``taker_buy_* <= total``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in epoch ms — the first generated open_time.
BASE_MS = 1_704_067_200_000
DAY_S = 86_400


def klines(seed: int, n: int) -> pa.Table:
    """``n`` consecutive 1-s klines starting at BASE_MS."""
    rng = np.random.default_rng(seed)
    steps = np.clip(rng.normal(0.0, 0.0004, n), -0.005, 0.005)
    close = np.round(42_000.0 * np.exp(np.cumsum(steps)), 2)
    open_ = np.concatenate([[42_000.0], close[:-1]])
    high = np.round(
        np.maximum(open_, close) + np.abs(rng.normal(0.0, 4.0, n)), 2)
    low = np.maximum(
        np.round(np.minimum(open_, close) - np.abs(rng.normal(0.0, 4.0, n)),
                 2), 0.01)
    volume = np.round(rng.lognormal(-2.5, 1.2, n), 5)
    trades = rng.poisson(18, n).astype(np.int64)
    share = rng.random(n)
    qav = np.round(volume * (open_ + close) / 2.0, 4)
    open_time = BASE_MS + np.arange(n, dtype=np.int64) * 1000
    return pa.table(
        {
            "open_time": open_time,
            "open": open_,
            "high": high,
            "low": low,
            "close": close,
            "volume": volume,
            "close_time": open_time + 999,
            "quote_asset_volume": qav,
            "number_of_trades": trades,
            "taker_buy_base_asset_volume": np.floor(volume * share * 1e5) / 1e5,
            "taker_buy_quote_asset_volume": np.floor(qav * share * 1e4) / 1e4,
            "ignore": np.zeros(n, dtype=np.int64),
        }
    )


def write_csv_days(table: pa.Table, days: int, out_dir: str) -> list[str]:
    """The first ``days`` days of ``table`` as one headerless 12-column
    CSV per UTC day (Binance daily-file layout).  Returns the file paths
    in day order."""
    os.makedirs(out_dir, exist_ok=True)
    opts = pacsv.WriteOptions(include_header=False)
    paths = []
    for d in range(days):
        path = os.path.join(out_dir, f"BTCUSDT-1s-2024-01-{d + 1:02d}.csv")
        pacsv.write_csv(table.slice(d * DAY_S, DAY_S), path, opts)
        paths.append(path)
    return paths


def land_parquet_file(
    table: pa.Table, i: int, seconds_per_file: int, out_dir: str
) -> str:
    """Stream landing zone: the ``i``-th ``seconds_per_file`` slice of
    ``table`` as one parquet file, its mtime later than that of every
    earlier slice.  The file source orders new files by mtime; files with
    equal mtimes could be read out of event-time order and the watermark
    would drop the earlier ones as late."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"klines-{i:03d}.parquet")
    pq.write_table(table.slice(i * seconds_per_file, seconds_per_file), path)
    mtime = 1_700_000_000 + 60 * i
    os.utime(path, (mtime, mtime))
    return path
