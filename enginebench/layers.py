"""Per-layer metrics of the traced run, computed from the tracer's spans
and the counters measured around each op.  Their names, units and
directions are BENCHMARK.json's ``per_layer`` list; this module only
computes the values.

A run times a number of cycles fixed by its arguments, and the seed fixes
their ops, so counts (jobs, tasks, calls, files, bytes) repeat exactly
between two runs with the same seed.  A metric of an op kind the
workload does not run is 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracer import Tracer

CPU_OPS = ("load", "upsert", "scan", "write", "line", "read", "http_read", "downsample")
JOB_OPS = ("load", "upsert", "scan", "write", "line", "http_read", "downsample")
#: units of the per-layer metrics that must repeat exactly for one seed
COUNT_UNITS = ("count", "B/B")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tr: Tracer) -> dict[str, float]:
    selfs = tr.self_times()
    op_of = {o.index: o for o in tr.ops}
    by_name: dict[str, list] = defaultdict(list)
    for s in tr.spans:
        by_name[s.name].append(s)

    def dur_ms(s) -> float:
        return (s.end - s.start) * 1e3

    def self_ms(name) -> float:
        return _mean(selfs[s.sid] * 1e3 for s in by_name[name])

    def ops(kind) -> list:
        return [o for o in tr.ops if o.kind == kind]

    def in_kind(name, kind) -> list:
        return [s for s in by_name[name] if op_of[s.op].kind == kind]

    def calls_per(name, kind) -> float:
        n = len(ops(kind))
        return len(in_kind(name, kind)) / n if n else 0.0

    def ms_per(name, kind) -> float:
        n = len(ops(kind))
        return sum(dur_ms(s) for s in in_kind(name, kind)) / n if n else 0.0

    def per_op(kind, attr) -> float:
        return _mean(getattr(o, attr) for o in ops(kind))

    def under(span, name) -> bool:
        while span.parent is not None:
            span = tr.spans[span.parent]
            if span.name == name:
                return True
        return False

    posts = by_name["streaming.upsert_parsed_batch"]
    post_ids = {s.sid for s in posts}
    reads = by_name["engine.read"]
    resolves = [s for s in by_name["spark.resolve"] if under(s, "engine.read")]
    to_pandas = by_name["spark.toPandas"]
    tp_s = sum(s.end - s.start for s in to_pandas)

    m = {
        **{f"service.{r}.self_ms": self_ms(f"service.{r}")
           for r in ("influx_binary", "influx", "read_df", "last_timestamp")},
        "sources.msgpack_lite.unpackb_ms":
            _mean(dur_ms(s) for s in by_name["sources.msgpack_lite.unpackb"]),
        "streaming.upsert_parsed_batch.self_ms": self_ms("streaming.upsert_parsed_batch"),
        "streaming.sensors_per_post":
            sum(1 for s in by_name["engine.write_long_df"] if s.parent in post_ids) / len(posts)
            if posts else 0.0,
        "engine.write_spark_df.p50_ms":
            statistics.median(dur_ms(s) for s in by_name["engine.write_spark_df"])
            if by_name["engine.write_spark_df"] else 0.0,
        "engine.write_spark_df.self_ms": self_ms("engine.write_spark_df"),
        "engine.write_long_df.self_ms": self_ms("engine.write_long_df"),
        "engine.write_points_multi.self_ms": self_ms("engine.write_points_multi"),
        "engine.read_pandas.self_ms": self_ms("engine.read_pandas"),
        "engine.read.ms": _mean(dur_ms(s) for s in by_name["engine.read"]),
        "engine.read_downsampled.self_ms": self_ms("engine.read_downsampled"),
        "engine.get_last_timestamp.ms":
            _mean(dur_ms(s) for s in by_name["engine.get_last_timestamp"]),
        "engine.to_pandas_rows_per_s":
            sum(s.rows for s in to_pandas) / tp_s if tp_s > 0 else 0.0,
        "engine.scan_resolves_per_op": len(resolves) / len(reads) if reads else 0.0,
        "catalog.get_config.calls_per_write": calls_per("catalog.get_config", "write"),
        "catalog.get_config.calls_per_read": calls_per("catalog.get_config", "read"),
        "catalog.get_config.calls_per_downsample": calls_per("catalog.get_config", "downsample"),
        "catalog.get_config.ms_per_write": ms_per("catalog.get_config", "write"),
        "catalog.list_data_partitions.calls_per_read":
            calls_per("catalog.list_data_partitions", "read"),
        "catalog.list_data_partitions.calls_per_downsample":
            calls_per("catalog.list_data_partitions", "downsample"),
        "catalog.list_data_partitions.ms_per_read":
            ms_per("catalog.list_data_partitions", "read"),
        "catalog.update_config.calls_per_upsert": calls_per("catalog.update_config", "upsert"),
        "catalog.bump_version.ms_per_write": ms_per("catalog.bump_version", "write"),
        "locks.acquire_ms": _mean(dur_ms(s) for s in by_name["locks.acquire"]),
        "locks.held_ms": _mean(x * 1e3 for x in tr.lock_held_s),
        "spark.jobs_per_read": per_op("read", "jobs"),
        "spark.failed_tasks": float(sum(o.failed_tasks for o in tr.ops)),
        "storage.files_read_per_read":
            _mean(o.counts.get("parquet_file_opens", 0) for o in ops("read")),
    }
    for k in JOB_OPS:
        m[f"spark.jobs_per_{k}"] = per_op(k, "jobs")
        m[f"spark.tasks_per_{k}"] = per_op(k, "tasks")
    for k in CPU_OPS:
        m[f"jvm.cpu_ms_per_{k}"] = per_op(k, "jvm_cpu_ms")
        m[f"jvm.gc_ms_per_{k}"] = per_op(k, "gc_ms")
        m[f"driver.cpu_ms_per_{k}"] = per_op(k, "driver_cpu_ms")
    for k in ("load", "upsert", "write", "line"):
        mine = ops(k)
        user = sum(o.user_bytes for o in mine)
        m[f"storage.bytes_written_per_user_byte_{k}"] = (
            sum(o.bytes_written for o in mine) / user if user else 0.0)
        m[f"storage.files_written_per_{k}"] = per_op(k, "files_written")
    for k in ("upsert", "write", "line"):
        m[f"storage.chunks_touched_per_{k}"] = per_op(k, "chunks_touched")
    return m
