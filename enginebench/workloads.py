"""The two workloads.  Each is one closed-loop client driving the
engine's public functions (and its HTTP service) in one process.

A workload plans its ops from the seed alone: cycle ``k`` draws from
``default_rng([seed, stream, k])`` and from planned state (write
cursors), never from an answer, so the same seed gives the same op
sequence.  A run times a fixed number of whole cycles, so the op mix
never depends on the host's speed.  Every answer is checked, untimed,
against ``engine_model.SensorModel``.

Both workloads report the same end-to-end metrics: each latency metric
is the median of exactly one op kind of one size, and ``SLOTS`` says
which kind each workload times for it.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from engine_model import (
    CHUNK_ROWS,
    SensorModel,
    check_downsampled,
    check_frame,
    check_last_timestamp,
    check_wire,
    require,
)
from harness import dir_bytes

#: chunk-aligned epoch second every sensor's data starts at
T_BASE = (1_700_000_000 // CHUNK_ROWS) * CHUNK_ROWS
FREQ = "1s"
BULK_METRICS = 8
UPSERT_SHARE = 0.10  # of a bulk load's rows, in its correction upsert
#: 1 h HTTP reads of each fresh bulk sensor: cheap, so a run takes enough
#: samples for a steady median
BULK_HTTP_READS = 3
HOT_SENSORS = 2  # sensors per serve_live msgpack write
#: sensors per serve_live line post: its per-sensor writes run one after
#: another, and a second sensor would add ~2 s to every post of a run
LINE_SENSORS = 1
LINE_FIELDS = 4  # fields per line: an agent reports the first four metrics
LATE_SHARE = 0.05  # of a line post's events, landing in the previous chunk
DUP_SHARE = 0.02  # of a line post's events, repeated with other values
GROWTH_EVERY = 8  # every 8th line post adds a field to one sensor
#: msgpack writes in serve_live's warm-up: its write keeps getting faster
#: over the first five or so of a session, and a timed write should not
SERVE_WARM_WRITES = 2
WINDOW_S = 3600  # the dashboard window of a read and an HTTP read
DOWNSAMPLE_S = 86400  # the span of a downsample
MAX_POINTS = 720  # the downsample bound


@dataclass
class Op:
    kind: str
    desc: tuple  # what the op does, fixed by the seed
    run: Callable[[], Any]
    check: Callable[[Any], None]
    prepare: Callable[[], None] | None = None  # untimed, before the clock
    after: Callable[[], None] | None = None  # untimed, after the check
    user_bytes: int = 0  # 8 per row timestamp + 4 per value written


@dataclass
class Sample:
    kind: str
    seconds: float
    ok: bool


def _digest(*arrays) -> str:
    h = hashlib.sha1()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


def _walk(rng, n: int) -> np.ndarray:
    """A random walk on the 1/16 grid: exact in float32, compresses like
    a real signal."""
    return np.cumsum(rng.integers(-24, 25, n)).astype("float64") / 16.0


def _input_frame(env, path: str, ts: np.ndarray, cols: dict[str, np.ndarray]):
    """Stage an input batch as one Parquet file (one row group, so file
    order is arrival order) and return the lazy Spark frame over it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"ts_sec": ts, **cols}), path)
    return env.spark.read.parquet(path)


def _http_read_op(env, db, sensor, model, start, end) -> Op:
    """``read_df`` of ``[start, end]`` over HTTP, timed until the response
    bytes arrive; the wire format is decoded and checked untimed."""
    body = json.dumps({"start_ts": start, "end_ts": end}).encode()

    def check(ans):
        status, raw = ans
        require(status == 200, f"read_df HTTP {status}: {raw[:200]!r}")
        check_wire(raw, model, start, end)

    return Op("http_read", ("http_read", sensor, start, end),
              run=lambda: env.post(f"/{db}/{sensor}/read_df", body, "application/json"),
              check=check)


def _downsample_op(env, db, sensor, model, start, end) -> Op:
    def run():
        return env.engine.read_downsampled(db, sensor, start, end, MAX_POINTS).toPandas()

    return Op("downsample", ("downsample", sensor, start, end), run=run,
              check=lambda got: check_downsampled(got, model, start, end, MAX_POINTS))


class Workload:
    name = ""
    #: seconds one cycle takes on a 4-core host; sets how many cycles a
    #: run of ``--seconds`` times (``cycles_for``)
    cycle_s: float
    #: end-to-end latency metric -> the op kind whose median it is
    SLOTS: dict[str, str]

    def __init__(self, seed: int):
        self.seed = int(seed)
        self.storage_bytes_per_cell: float | None = None

    def rng(self, *key) -> np.random.Generator:
        return np.random.default_rng([self.seed, *key])

    def cycles_for(self, seconds: float) -> int:
        """Whole cycles a run of ``seconds`` times: fixed by the argument,
        not by how fast this host gets through them."""
        return max(1, round(seconds / self.cycle_s))

    def prepare_store(self, env) -> None:
        raise NotImplementedError

    def warmup_ops(self, env) -> list[Op]:
        return []

    def after_setup(self, env) -> None:
        pass

    def cycle(self, env, k: int) -> list[Op]:
        raise NotImplementedError

    def metrics(self, samples: list[Sample]) -> tuple[dict, dict]:
        """(end-to-end latency metrics of the timed ops, sample count per
        metric)."""
        out, n = {}, {}
        for metric, kind in self.SLOTS.items():
            xs = [s.seconds for s in samples if s.kind == kind]
            out[metric], n[metric] = statistics.median(xs) * 1e3, len(xs)
        return out, n


# ---------------------------------------------------------------------------
class BulkLoad(Workload):
    """Backfill, then a look at it.  Each cycle loads a fresh sensor
    spanning ``chunks`` chunks (one row every ``stride`` seconds), lands a
    correction upsert over a third of its chunks, reads the whole sensor
    back (more chunks than the pyarrow serve path takes, so Spark scans),
    reads hours of it over HTTP, downsamples its last day, and drops it,
    so every cycle sees the same store.  The warm-up is one cycle of the
    same size and one more load."""

    name, db = "bulk_load", "bulk"
    cycle_s = 8.0
    SLOTS = {"write_p50_ms": "load", "upsert_p50_ms": "upsert", "read_p50_ms": "scan",
             "http_read_p50_ms": "http_read", "downsample_p50_ms": "downsample"}

    def __init__(self, seed, chunks=66, stride=8):
        super().__init__(seed)
        self.chunks, self.stride = chunks, stride

    def prepare_store(self, env):
        env.engine.create_db(self.db)
        env.start_http()

    def warmup_ops(self, env):
        # one more load: after a single warm-up cycle the first timed load
        # still took up to twice as long as the next ones
        extra = self._ops(env, "warm2", self.rng(0, 1), False)[0]
        extra.after = lambda: env.engine.delete_sensor(self.db, "cwarm2")
        return self._ops(env, "warm", self.rng(0), True) + [extra]

    def cycle(self, env, k):
        return self._ops(env, k, self.rng(1, k), k % 2 == 0)

    def _ops(self, env, tag, rng, grow) -> list[Op]:
        db, sensor = self.db, f"c{tag}"
        chunks, stride = self.chunks, self.stride
        metrics = [f"m{i}" for i in range(BULK_METRICS)]
        model = SensorModel(metrics)
        inputs = os.path.join(env.tmp, "inputs")
        os.makedirs(inputs, exist_ok=True)

        n = chunks * CHUNK_ROWS // stride
        ts = T_BASE + np.arange(n, dtype="float64") * stride
        load_cols = {m: _walk(rng, n) for m in metrics}
        up_ts, up_cols = self._correction(rng, ts, metrics, chunks, stride, grow, tag)
        last = int(ts[-1])
        w0 = rng.integers(T_BASE, last - WINDOW_S + 2, BULK_HTTP_READS)
        frames = {}

        def prep_load():
            env.engine.create_sensor(db, sensor, FREQ, metrics)
            frames["load"] = _input_frame(env, os.path.join(inputs, f"{sensor}-load.parquet"),
                                          ts, load_cols)

        def check_load(_):
            model.write(ts, load_cols)

        def prep_upsert():
            frames["upsert"] = _input_frame(env, os.path.join(inputs, f"{sensor}-up.parquet"),
                                            up_ts, up_cols)

        def check_upsert(_):
            model.write(up_ts, up_cols)
            if tag == 0:  # a store state fixed by the seed alone
                path = env.engine.catalog.sensor_path(db, sensor)
                self.storage_bytes_per_cell = dir_bytes(path) / model.cells

        def check_scan(got):
            check_frame(got, model.frame())

        def drop():
            env.engine.delete_sensor(db, sensor)

        up_cells = sum(int((~np.isnan(v)).sum()) for v in up_cols.values())
        down = _downsample_op(env, db, sensor, model, max(T_BASE, last - DOWNSAMPLE_S + 1), last)
        down.after = drop
        return [
            Op("load", ("load", sensor, n, _digest(ts, *load_cols.values())),
               run=lambda: env.engine.write_spark_df(db, sensor, frames.pop("load")),
               check=check_load, prepare=prep_load,
               user_bytes=8 * n + 4 * n * len(metrics)),
            Op("upsert", ("upsert", sensor, len(up_ts), tuple(up_cols),
                          _digest(up_ts, *up_cols.values())),
               run=lambda: env.engine.write_spark_df(db, sensor, frames.pop("upsert")),
               check=check_upsert, prepare=prep_upsert,
               user_bytes=8 * len(up_ts) + 4 * up_cells),
            Op("scan", ("scan", sensor),
               run=lambda: env.engine.read_pandas(db, sensor), check=check_scan),
            *[_http_read_op(env, db, sensor, model, int(w), int(w) + WINDOW_S - 1) for w in w0],
            down,
        ]

    def _correction(self, rng, ts, metrics, chunks, stride, grow, tag):
        """``UPSERT_SHARE`` of the rows over a third of the chunks, in
        arrival order: corrections of stored rows, some new rows between
        them, off-grid jitter, NaN cells (never overwrite) and in-batch
        duplicates (last non-NaN wins).  With ``grow`` the batch also
        carries one new metric."""
        n_up = max(4, int(len(ts) * UPSERT_SHARE))
        span = max(1, chunks // 3)
        c0 = int(rng.integers(0, chunks - span + 1))
        lo, hi = T_BASE + c0 * CHUNK_ROWS, T_BASE + (c0 + span) * CHUNK_ROWS
        pool = ts[(ts >= lo) & (ts < hi)]
        n_dup = max(1, n_up // 20)
        n_new = n_up // 10 if stride > 1 else 0
        n_fix = min(len(pool), n_up - n_dup - n_new)
        base = rng.choice(pool, n_fix, replace=False)
        if n_new:
            base = np.concatenate(
                [base, rng.choice(pool, n_new) + rng.integers(1, stride, n_new)])
        base = base[rng.permutation(len(base))]
        jitter = np.where(rng.random(len(base)) < 0.3, rng.integers(0, 990, len(base)) / 1000, 0)
        rows = base + jitter
        # duplicates of earlier rows, re-jittered, spliced in at random places
        dup_of = rng.integers(0, len(rows), n_dup)
        dup_rows = base[dup_of] + rng.integers(0, 990, n_dup) / 1000
        at = np.sort(rng.integers(0, len(rows) + 1, n_dup))
        out_ts = np.insert(rows, at, dup_rows)
        names = list(metrics) + ([f"g{tag}"] if grow else [])
        cols = {}
        for m in names:
            v = rng.integers(-8000, 8000, len(out_ts)).astype("float64") / 16.0
            v[rng.random(len(out_ts)) < 0.05] = np.nan
            cols[m] = v
        return out_ts, cols


# ---------------------------------------------------------------------------
def _zipf(rng, n: int, a: float = 1.1) -> np.ndarray:
    """Zipf weights over ``n`` sensors, hottest first in a seed-drawn order."""
    w = 1.0 / np.arange(1, n + 1) ** a
    p = np.empty(n)
    p[rng.permutation(n)] = w / w.sum()
    return p


class ServeLive(Workload):
    """The deployment shape: one long-lived HTTP serving session over a
    preloaded fleet.  Each cycle the fleet takes one msgpack write of the
    reference client and one line-protocol post of an agent (with late,
    duplicate and malformed lines and, every ``GROWTH_EVERY``-th post,
    schema growth) beside dashboard reads.  The warm-up is one cycle of
    the same mix (its line post adds a field, so the growth path is warm
    and checked) and ``SERVE_WARM_WRITES`` - 1 more msgpack writes."""

    name, db = "serve_live", "live"
    cycle_s = 9.5
    SLOTS = {"write_p50_ms": "write", "upsert_p50_ms": "line", "read_p50_ms": "read",
             "http_read_p50_ms": "http_read", "downsample_p50_ms": "downsample"}

    def __init__(self, seed, sensors=3, metrics=8, preload_s=86400, reads=20,
                 http_reads=2, last_ts=4, write_s=60, recent_s=6 * 3600,
                 downsample_s=DOWNSAMPLE_S, post_s=600):
        super().__init__(seed)
        self.metric_names = [f"m{i}" for i in range(metrics)]
        self.sensors = [f"s{i}" for i in range(sensors)]
        self.models = {s: SensorModel(self.metric_names) for s in self.sensors}
        self.cursor = {s: T_BASE + preload_s for s in self.sensors}
        self.preload_s = preload_s
        self.reads, self.http_reads, self.last_ts = reads, http_reads, last_ts
        self.write_s, self.recent_s, self.downsample_s = write_s, recent_s, downsample_s
        self.post_s = post_s
        self.p = _zipf(self.rng(3), sensors)

    def prepare_store(self, env):
        env.engine.create_db(self.db)
        inputs = os.path.join(env.tmp, "inputs")
        os.makedirs(inputs, exist_ok=True)
        ts = T_BASE + np.arange(self.preload_s, dtype="float64")
        for i, s in enumerate(self.sensors):
            rng = self.rng(2, i)
            cols = {m: _walk(rng, len(ts)) for m in self.metric_names}
            env.engine.create_sensor(self.db, s, FREQ, self.metric_names)
            frame = _input_frame(env, os.path.join(inputs, f"{s}.parquet"), ts, cols)
            env.engine.write_spark_df(self.db, s, frame)
            self.models[s].write(ts, cols)
        env.start_http()

    def after_setup(self, env):
        cells = sum(m.cells for m in self.models.values())
        self.storage_bytes_per_cell = dir_bytes(env.engine.catalog.db_path(self.db)) / cells

    def warmup_ops(self, env):
        return self._cycle_ops(env, self.rng(4), self.rng(6), "xw") + [
            self._write(env, self.rng(4, i)) for i in range(1, SERVE_WARM_WRITES)]

    def cycle(self, env, k):
        grow = f"x{k}" if k % GROWTH_EVERY == GROWTH_EVERY - 1 else None
        return self._cycle_ops(env, self.rng(5, k), self.rng(7, k), grow)

    def _cycle_ops(self, env, rng, line_rng, grow_field) -> list[Op]:
        ops = [self._write(env, rng), self._post(env, line_rng, grow_field)]
        rest = ([self._read] * self.reads + [self._http_read] * self.http_reads
                + [self._downsample] + [self._last_ts] * self.last_ts)
        return ops + [rest[i](env, rng) for i in rng.permutation(len(rest))]

    def _sensor(self, rng) -> str:
        return self.sensors[int(rng.choice(len(self.sensors), p=self.p))]

    def _window(self, rng, s) -> tuple[int, int]:
        """A 1 h window, 80% of them within the sensor's last ``recent_s``."""
        end_max = self.cursor[s] - 1
        if rng.random() < 0.8:
            start = int(rng.integers(end_max - self.recent_s + 1, end_max - WINDOW_S + 2))
        else:
            start = int(rng.integers(T_BASE, end_max - self.recent_s + 1))
        return start, start + WINDOW_S - 1

    def _write(self, env, rng) -> Op:
        from ong_tsdb_spark.sources.msgpack_lite import packb

        picks = [self.sensors[i] for i in
                 rng.choice(len(self.sensors), HOT_SENSORS, replace=False, p=self.p)]
        batch, tuples = [], []
        for s in picks:
            ts = self.cursor[s] + np.arange(self.write_s, dtype="float64")
            self.cursor[s] += self.write_s
            cols = {m: rng.integers(-8000, 8000, len(ts)) / 16.0 for m in self.metric_names}
            batch.append((s, ts, cols))
            for i, t in enumerate(ts):
                tuples.append([self.db, s, self.metric_names,
                               [float(cols[m][i]) for m in self.metric_names],
                               int(t) * 1_000_000_000])
        body = packb(tuples)

        def check(ans):
            status, raw = ans
            require(status == 200, f"influx_binary HTTP {status}: {raw[:200]!r}")
            reply = json.loads(raw)
            require(reply.get("ok") is True and reply.get("points") == len(tuples),
                    f"influx_binary reply {reply}")
            for s, ts, cols in batch:
                self.models[s].write(ts, cols)

        n = len(tuples) * len(self.metric_names)
        return Op("write", ("write", tuple(picks), _digest(np.frombuffer(body, "uint8"))),
                  run=lambda: env.post("/influx_binary", body, "application/octet-stream"),
                  check=check, user_bytes=8 * len(tuples) + 4 * n)

    def _post(self, env, rng, grow_field) -> Op:
        """One ``/influx`` POST with the next ``post_s`` seconds of
        ``LINE_SENSORS`` seed-drawn sensors, ~``LATE_SHARE`` late lines into
        each one's previous chunk, ~``DUP_SHARE`` duplicate timestamps with
        other values and one malformed line; with ``grow_field`` the first
        of them gets that new field on every one of its lines."""
        S = [self.sensors[i] for i in
             sorted(rng.choice(len(self.sensors), LINE_SENSORS, replace=False))]
        db = self.db
        t0 = {s: self.cursor[s] for s in S}
        prev = {s: int((t0[s] // CHUNK_ROWS) * CHUNK_ROWS) - CHUNK_ROWS for s in S}
        for s in S:
            self.cursor[s] += self.post_s

        def fields(s):
            names = self.metric_names[:LINE_FIELDS] + (
                [grow_field] if grow_field and s == S[0] else [])
            return {m: float(v) for m, v in zip(names, rng.integers(-8000, 8000, len(names)) / 16)}

        events = [(s, t0[s] + t, fields(s)) for t in range(self.post_s) for s in S]
        n_late = round(LATE_SHARE * len(events))
        extras = []
        for _ in range(n_late):
            s = S[int(rng.integers(len(S)))]
            extras.append((s, int(rng.integers(prev[s], prev[s] + CHUNK_ROWS))))
        for i in rng.integers(0, len(events), round(DUP_SHARE * len(events))):
            extras.append(events[int(i)][:2])
        extras = [(s, t, fields(s)) for s, t in extras]
        at = np.sort(rng.integers(0, len(events) + 1, len(extras)))
        for j, (pos, ev) in enumerate(zip(at, extras)):
            events.insert(int(pos) + j, ev)

        def line(s, t, f):
            return f"{db},key={s} " + ",".join(f"{m}={v!r}" for m, v in f.items()) + \
                f" {t * 1_000_000_000}"

        lines = [line(*e) for e in events]
        bad_s = S[int(rng.integers(len(S)))]
        if rng.random() < 0.5:  # a value that is not a number
            t_bad = int(rng.integers(t0[bad_s], t0[bad_s] + self.post_s))
            bad = f"{db},key={bad_s} m0=#bad {t_bad * 10**9}"
        else:  # a line cut before its field section
            bad = f"{db},key={bad_s}"
        lines.insert(int(rng.integers(0, len(lines) + 1)), bad)
        body = "\n".join(lines).encode()
        points = sum(len(f) for _, _, f in events)

        def check(ans):
            status, raw = ans
            require(status == 200, f"influx HTTP {status}: {raw[:200]!r}")
            reply = json.loads(raw)
            require(reply.get("ok") is True and reply.get("points") == len(lines),
                    f"influx reply {reply}")
            for s in S:
                mine = [(t, f) for es, t, f in events if es == s]
                names = list(dict.fromkeys(m for _, f in mine for m in f))
                ts = np.array([t for t, _ in mine], dtype="float64")
                cols = {m: np.array([f.get(m, np.nan) for _, f in mine]) for m in names}
                self.models[s].write(ts, cols)
                lo, hi = prev[s], t0[s] + self.post_s - 1
                check_frame(env.engine.read_pandas(db, s, lo, hi), self.models[s].frame(lo, hi))

        return Op("line", ("line", tuple(S), len(lines), _digest(np.frombuffer(body, "uint8"))),
                  run=lambda: env.post("/influx", body, "text/plain"),
                  check=check, user_bytes=8 * len(events) + 4 * points)

    def _read(self, env, rng) -> Op:
        s = self._sensor(rng)
        start, end = self._window(rng, s)
        model = self.models[s]
        return Op("read", ("read", s, start, end),
                  run=lambda: env.engine.read_pandas(self.db, s, start, end),
                  check=lambda got: check_frame(got, model.frame(start, end)))

    def _http_read(self, env, rng) -> Op:
        s = self._sensor(rng)
        start, end = self._window(rng, s)
        return _http_read_op(env, self.db, s, self.models[s], start, end)

    def _downsample(self, env, rng) -> Op:
        s = self._sensor(rng)
        end = self.cursor[s] - 1
        return _downsample_op(env, self.db, s, self.models[s], end - self.downsample_s + 1, end)

    def _last_ts(self, env, rng) -> Op:
        s = self._sensor(rng)
        model = self.models[s]

        def check(ans):
            status, raw = ans
            require(status == 200, f"last_timestamp HTTP {status}")
            check_last_timestamp(json.loads(raw)["last_timestamp"], model)

        return Op("last_ts", ("last_ts", s),
                  run=lambda: env.post(f"/{self.db}/{s}/last_timestamp", b"{}",
                                       "application/json"),
                  check=check)


WORKLOADS = {w.name: w for w in (BulkLoad, ServeLive)}
