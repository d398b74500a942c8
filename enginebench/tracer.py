"""Spans and counters recorded from outside the program, for the traced
run only.

The tracer wraps public functions of the engine's layers by module or
class attribute (``install``) and restores them afterwards
(``uninstall``); the untraced run never calls either.  A span records
name, start, end, parent, op id and thread.  Spans opened in a thread
with nothing open yet (the HTTP server thread, the pool threads of
``write_points_multi``) take as parent the innermost open *fork* span,
else the op's root span: the client is closed-loop, so exactly one op
is in flight.

Self time is a span's duration minus the part of it its children cover.
A fork span (``write_points_multi``) runs its children in parallel, so
its self time is the wall time beyond its slowest child.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

FORK_SPANS = {"engine.write_points_multi"}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    thread: int = 0
    sid: int = 0
    rows: int = 0


@dataclass
class OpRecord:
    """One client op, with the counters measured around it."""

    index: int
    kind: str
    user_bytes: int = 0
    root: int = 0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    jvm_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    driver_cpu_ms: float = 0.0
    bytes_written: int = 0
    files_written: int = 0
    chunks_touched: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, watch_dir: str):
        #: directory whose files are listed before and after each write op
        self.watch_dir = watch_dir
        #: highest Spark job id already attributed to an op
        self.job_hwm = -1
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self.lock_held_s: list[float] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: OpRecord | None = None
        self._forks: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int | None:
        op = self._op
        if op is None:
            return None
        st = self._stack()
        if st:
            parent = st[-1]
        else:
            with self._lock:
                parent = self._forks[-1] if self._forks else op.root
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), parent=parent, op=op.index,
                                   thread=threading.get_ident(), sid=sid))
            if name in FORK_SPANS:
                self._forks.append(sid)
        st.append(sid)
        return sid

    def close(self, sid: int | None, rows: int = 0) -> None:
        if sid is None:
            return
        end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()
        with self._lock:
            sp = self.spans[sid]
            sp.end, sp.rows = end, rows
            if sid in self._forks:
                self._forks.remove(sid)

    def count(self, key: str, n: int = 1) -> None:
        op = self._op
        if op is not None:
            with self._lock:
                op.counts[key] = op.counts.get(key, 0) + n

    def begin_op(self, rec: OpRecord) -> None:
        rec.root = len(self.spans)
        self.spans.append(Span(f"op.{rec.kind}", time.perf_counter(), op=rec.index,
                               thread=threading.get_ident(), sid=rec.root))
        self._stack().append(rec.root)
        self.ops.append(rec)
        self._op = rec

    def end_op(self) -> None:
        rec = self._op
        self.close(rec.root)
        self._op = None

    # -- patching --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, rows_of=None) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        version that records a span named ``name`` around each call."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            sid = tracer.open(name)
            rows = 0
            try:
                out = orig(*a, **kw)
                if rows_of is not None and sid is not None:
                    rows = rows_of(out)
                return out
            finally:
                tracer.close(sid, rows)

        self._patches.append((owner, attr, orig))
        if is_dict:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)

    def install(self, app=None) -> None:
        """Wrap the layer boundaries the per-layer metrics are made of."""
        import pyarrow.parquet as pq
        from pyspark.sql import DataFrameReader
        from pyspark.sql.classic.dataframe import DataFrame

        from ong_tsdb_spark import engine, locks
        from ong_tsdb_spark.catalog import Catalog
        from ong_tsdb_spark.service import server
        from ong_tsdb_spark.sources import msgpack_lite

        E = engine.OngTsdbSpark
        for attr in ("write_spark_df", "write_long_df", "write_points_multi", "write_points",
                     "read_pandas", "read", "read_downsampled", "get_last_timestamp"):
            self.wrap(E, attr, f"engine.{attr}")
        for attr in ("get_config", "list_data_partitions", "update_config", "bump_version"):
            self.wrap(Catalog, attr, f"catalog.{attr}")
        self.wrap(server, "upsert_parsed_batch", "streaming.upsert_parsed_batch")
        self.wrap(msgpack_lite, "unpackb", "sources.msgpack_lite.unpackb")
        self.wrap(DataFrameReader, "parquet", "spark.resolve")
        self.wrap(DataFrame, "toPandas", "spark.toPandas", rows_of=len)
        self._wrap_lock(locks.SensorFileLock)
        self._wrap_parquet_file(pq)
        if app is not None:
            for route in ("influx_binary", "influx", "read_df", "last_timestamp"):
                self.wrap(app.view_functions, route, f"service.{route}")

    def _wrap_lock(self, cls) -> None:
        tracer = self
        acquire, release = cls.acquire, cls.release

        def traced_acquire(lock_self):
            sid = tracer.open("locks.acquire")
            try:
                acquire(lock_self)
            finally:
                tracer.close(sid)
            lock_self._bench_acquired_at = time.perf_counter()

        def traced_release(lock_self):
            sid = tracer.open("locks.release")
            try:
                release(lock_self)
            finally:
                tracer.close(sid)
            t = getattr(lock_self, "_bench_acquired_at", None)
            if t is not None and sid is not None:
                with tracer._lock:
                    tracer.lock_held_s.append(time.perf_counter() - t)

        self._patches += [(cls, "acquire", acquire), (cls, "release", release)]
        cls.acquire, cls.release = traced_acquire, traced_release

    def _wrap_parquet_file(self, pq) -> None:
        tracer = self
        base = pq.ParquetFile

        class CountedParquetFile(base):
            def __init__(self, *a, **kw):
                tracer.count("parquet_file_opens")
                super().__init__(*a, **kw)

        self._patches.append((pq, "ParquetFile", base))
        pq.ParquetFile = CountedParquetFile

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)

    # -- analysis --------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_times(self) -> dict[int, float]:
        kids = self.children()
        out = {}
        for s in self.spans:
            dur = s.end - s.start
            ch = kids.get(s.sid, [])
            if s.name in FORK_SPANS:
                out[s.sid] = dur - max((c.end - c.start for c in ch), default=0.0)
            else:
                out[s.sid] = dur - _covered(s, ch)
        return out

    def accounting(self) -> dict:
        """Per op: the self times along the blocking path sum back to the
        op's wall time (serial children all block; of a fork's parallel
        children only the slowest does).  Reports the worst relative gap
        and, per op kind, the median share of wall time no wrapped layer
        covers (client, HTTP transport and framework dispatch)."""
        kids, selfs = self.children(), self.self_times()

        def path(sid: int) -> float:
            s = self.spans[sid]
            ch = kids.get(sid, [])
            if s.name in FORK_SPANS and ch:
                slow = max(ch, key=lambda c: c.end - c.start)
                return selfs[sid] + path(slow.sid)
            return selfs[sid] + sum(path(c.sid) for c in ch)

        worst, unattributed = 0.0, {}
        for rec in self.ops:
            root = self.spans[rec.root]
            wall = root.end - root.start
            if wall <= 0:
                continue
            worst = max(worst, abs(path(rec.root) - wall) / wall)
            unattributed.setdefault(rec.kind, []).append(selfs[rec.root] / wall)
        return {
            "max_path_gap": round(worst, 6),
            "unattributed_share_p50": {
                k: round(sorted(v)[len(v) // 2], 4) for k, v in sorted(unattributed.items())
            },
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _covered(parent: Span, children: list[Span]) -> float:
    """Length of the union of the children's intervals inside the parent."""
    ivs = sorted((max(c.start, parent.start), min(c.end, parent.end)) for c in children)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
