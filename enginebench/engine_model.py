"""Reference model of the engine's observable semantics, used to check
every answer the benchmark gets back (untimed).

A sensor is a set of rows on a fixed tick grid; each row holds one
float32 cell per known metric.  The rules modelled here are the ones
``ong_tsdb_spark.engine`` documents:

* timestamps snap down to the grid (floor);
* within one batch the last non-NaN value per (row, metric) wins, in
  arrival order; a NaN never overwrites a stored cell;
* a row exists once any input row snapped onto it, even when all of its
  cells are NaN;
* schema growth appends a metric: rows that existed before the write
  that added it read the write's fill value, rows created later read NaN
  until written;
* range reads truncate the start to the grid and include the end.
"""

from __future__ import annotations

import base64
import json
import zlib

import numpy as np
import pandas as pd

CHUNK_ROWS = 16384


class SensorModel:
    """In-memory twin of one sensor: sorted timestamps plus a float32
    value matrix whose columns follow the sensor's metric order."""

    def __init__(self, metrics: list[str], tick: float = 1.0):
        self.metrics = list(metrics)
        self.tick = float(tick)
        self.ts = np.empty(0, dtype="float64")
        self.vals = np.empty((0, len(self.metrics)), dtype="float32")

    # -- grid ----------------------------------------------------------
    def snap(self, ts):
        return np.floor(np.asarray(ts, dtype="float64") / self.tick) * self.tick

    # -- writes --------------------------------------------------------
    def write(self, ts, cols: dict[str, np.ndarray], fill: float = 0.0) -> None:
        """Apply one upsert batch: ``ts`` and each column are in arrival
        order; NaN in a column means "no value supplied"."""
        ts = self.snap(ts)
        if len(ts) == 0 or not cols:
            return
        batch = pd.DataFrame(
            {m: np.asarray(v, dtype="float64").astype("float32") for m, v in cols.items()}
        )
        batch.index = ts
        # groupby().last() keeps the last non-NaN value per column
        folded = batch.groupby(level=0, sort=True).last()
        for m in cols:
            if m not in self.metrics:
                self.metrics.append(m)
                self.vals = np.concatenate(
                    [self.vals, np.full((len(self.ts), 1), np.float32(fill))], axis=1
                )
        new_ts = folded.index.to_numpy(dtype="float64")
        pos = np.searchsorted(self.ts, new_ts)
        exists = (pos < len(self.ts)) & (
            self.ts[np.minimum(pos, len(self.ts) - 1)] == new_ts
        ) if len(self.ts) else np.zeros(len(new_ts), dtype=bool)
        for m in folded.columns:
            j = self.metrics.index(m)
            v = folded[m].to_numpy(dtype="float32")
            hit = exists & ~np.isnan(v)
            self.vals[pos[hit], j] = v[hit]
        if (~exists).any():
            add_ts = new_ts[~exists]
            add = np.full((len(add_ts), len(self.metrics)), np.nan, dtype="float32")
            for m in folded.columns:
                add[:, self.metrics.index(m)] = folded[m].to_numpy(dtype="float32")[~exists]
            all_ts = np.concatenate([self.ts, add_ts])
            all_vals = np.concatenate([self.vals, add], axis=0)
            order = np.argsort(all_ts, kind="mergesort")
            self.ts, self.vals = all_ts[order], all_vals[order]

    # -- reads ---------------------------------------------------------
    def window(self, start: float | None, end: float | None):
        lo = 0 if start is None else np.searchsorted(self.ts, float(self.snap(start)), "left")
        hi = len(self.ts) if end is None else np.searchsorted(self.ts, float(end), "right")
        return self.ts[lo:hi], self.vals[lo:hi]

    def frame(self, start: float | None = None, end: float | None = None) -> pd.DataFrame:
        """Expected ``read_pandas`` answer: tz-aware UTC index, float32."""
        ts, vals = self.window(start, end)
        idx = pd.to_datetime(np.round(ts * 1e9).astype("int64"), utc=True)
        return pd.DataFrame(vals.copy(), index=idx, columns=list(self.metrics))

    def last_timestamp(self) -> float | None:
        return float(self.ts[-1]) if len(self.ts) else None

    def downsampled(self, start: int, end: int, max_points: int):
        """Expected ``read_downsampled``: the first stored row of every
        ``spread``-second bucket, spread = (end-start+1)//max_points."""
        spread = max(int((end - start + 1) / max_points), 1)
        ts, vals = self.window(start, end)
        sec = np.floor(ts).astype("int64")
        keep = (sec >= start) & (sec <= end)
        ts, vals, sec = ts[keep], vals[keep], sec[keep]
        bucket = sec - ((sec - start) % spread)
        first = np.ones(len(ts), dtype=bool)
        first[1:] = bucket[1:] != bucket[:-1]
        return ts[first], vals[first], spread

    @property
    def cells(self) -> int:
        return int(self.vals.size)


# -- answer checks ---------------------------------------------------------
class CheckFailed(Exception):
    """An answer that disagrees with the model."""


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def check_frame(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """``read_pandas`` answer vs the model: index values and tz, column
    order, dtype and every cell (NaN positions included)."""
    require(isinstance(got.index, pd.DatetimeIndex), "index is not a DatetimeIndex")
    require(str(got.index.tz) == "UTC", f"index tz {got.index.tz}, want UTC")
    require(list(got.columns) == list(want.columns),
            f"columns {list(got.columns)[:12]} != {list(want.columns)[:12]}")
    require(len(got) == len(want), f"{len(got)} rows, want {len(want)}")
    require(bool((got.index == want.index).all()), "timestamps differ")
    require(all(str(t) == "float32" for t in got.dtypes), "values are not float32")
    _same_cells(got.to_numpy(dtype="float32"), want.to_numpy(dtype="float32"))


def _same_cells(got: np.ndarray, want: np.ndarray) -> None:
    require(got.shape == want.shape, f"shape {got.shape} != {want.shape}")
    bad = ~((got == want) | (np.isnan(got) & np.isnan(want)))
    if bad.any():
        r, c = np.argwhere(bad)[0]
        raise CheckFailed(
            f"{int(bad.sum())} cells differ, first at row {r} col {c}: "
            f"{got[r, c]!r} != {want[r, c]!r}"
        )


def decode_read_df(body: bytes) -> tuple[np.ndarray, np.ndarray, list]:
    """Decode the byte wire format of ``/<db>/<sensor>/read_df``: a JSON
    object whose one numeric key is the byte length of the float64 date
    block, mapping to base64 (optionally zlib) of dates ++ float32 values."""
    payload = json.loads(body)
    keys = [k for k in payload if k.isdigit()]
    require(len(keys) == 1, f"expected one length key, got {keys}")
    n = int(keys[0])
    raw = payload[keys[0]].encode("ISO-8859-1")
    if payload.get("compressed"):
        raw = zlib.decompress(raw)
    data = base64.decodebytes(raw)
    metrics = payload["metrics"]
    dates = np.frombuffer(data[:n], dtype="float64")
    values = np.frombuffer(data[n:], dtype="float32").reshape(len(dates), len(metrics))
    return dates, values, metrics


def check_wire(body: bytes, model: SensorModel, start: float, end: float) -> None:
    dates, values, metrics = decode_read_df(body)
    ts, vals = model.window(start, end)
    require(metrics == model.metrics, f"wire metrics {metrics} != {model.metrics}")
    require(np.array_equal(dates, ts), f"wire dates differ ({len(dates)} vs {len(ts)})")
    _same_cells(values, vals)


def check_downsampled(got: pd.DataFrame, model: SensorModel, start: int, end: int,
                      max_points: int) -> None:
    ts, vals, _ = model.downsampled(start, end, max_points)
    require(len(got) <= max_points + 1, f"{len(got)} rows exceed the {max_points}-point bound")
    require(list(got.columns) == ["ts_sec", *model.metrics], f"columns {list(got.columns)}")
    require(np.array_equal(got["ts_sec"].to_numpy(dtype="float64"), ts),
            f"bucket rows differ ({len(got)} vs {len(ts)})")
    _same_cells(got[model.metrics].to_numpy(dtype="float32"), vals)


def check_last_timestamp(got, model: SensorModel) -> None:
    want = model.last_timestamp()
    require(got is not None and float(got) == want, f"last_timestamp {got} != {want}")
