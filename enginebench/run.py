"""Engine benchmark: one workload, one closed-loop client, one run.

    python3 enginebench/run.py --workload {bulk_load,serve_live} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The run sets up (Spark session,
single-threaded preload, untimed warm-up of every op type), then times a
fixed number of whole cycles of the workload's ops -- ``--seconds``
divided by the workload's nominal cycle time on a 4-core host, so the
count never depends on this host's speed -- checking every answer
untimed against the reference model.

Standard output ends with two JSON lines: the run's context (host,
versions, seed, sample counts, trace accounting), then the result
``{"correct", "attempted", "failed", "metrics"}`` -- end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.  The traced run
also writes its spans to ``.enginebench_out/`` in the checkout.  Exit
code 0 on a completed run, 1 on an error, 2 when the engine sources are
not next to the benchmark.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from harness import JVM_HEAP, MASTER, Env, cpu_steal_s, snapshot, written_since  # noqa: E402
from layers import layer_metrics  # noqa: E402
from tracer import OpRecord, Tracer  # noqa: E402
from workloads import WORKLOADS, Sample  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIRNAME = ".enginebench_out"
WRITE_KINDS = ("load", "upsert", "write", "line")


def load_spec(root: str = ROOT) -> dict:
    """BENCHMARK.json: the metric names, units and directions."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def _execute(op, env, tracer, index, failures):
    """Run one op: untimed prepare, timed call, untimed check.  A raised
    call or a failed check counts the op as failed; neither propagates."""
    if op.prepare is not None:
        op.prepare()
    rec = None
    if tracer is not None:
        rec = OpRecord(index=index, kind=op.kind, user_bytes=op.user_bytes)
        _, tracer.job_hwm = env.spark_jobs_after(tracer.job_hwm)
        before = (env.jvm_cpu_ms(), env.gc_ms(), time.process_time())
        snap = snapshot(tracer.watch_dir) if op.kind in WRITE_KINDS else None
        tracer.begin_op(rec)
    err = None
    t0 = time.perf_counter()
    try:
        answer = op.run()
    except Exception as e:  # an op that raises is a failed op, not a crash
        answer, err = None, e
    dt = time.perf_counter() - t0
    if tracer is not None:
        tracer.end_op()
        jobs, tracer.job_hwm = env.spark_jobs_after(tracer.job_hwm)
        rec.jobs = len(jobs)
        rec.tasks, rec.failed_tasks = env.job_tasks(jobs)
        rec.jvm_cpu_ms = env.jvm_cpu_ms() - before[0]
        rec.gc_ms = env.gc_ms() - before[1]
        rec.driver_cpu_ms = (time.process_time() - before[2]) * 1e3
        if snap is not None:
            rec.bytes_written, rec.files_written, rec.chunks_touched = written_since(
                snap, snapshot(tracer.watch_dir))
    if err is None:
        try:
            op.check(answer)
        except Exception as e:  # a wrong answer is a failed op
            err = e
    if op.after is not None:
        op.after()
    if err is not None:
        failures.append(f"{op.kind} {op.desc[:4]}: {type(err).__name__}: {err}")
    return Sample(op.kind, dt, err is None)


def run_benchmark(workload, cycles: int, trace: bool, root: str = ROOT,
                  started: float | None = None) -> tuple[dict, dict]:
    """Set up, time ``cycles`` whole cycles, tear down; returns (context,
    result)."""
    units = {m["name"]: m["unit"]
             for m in load_spec(root)["per_layer" if trace else "end_to_end"]}
    started = time.perf_counter() if started is None else started
    steal = [(time.perf_counter(), cpu_steal_s())]
    failures: list[str] = []
    warm: list = []
    samples: list = []
    seq = hashlib.sha1()
    tracer = None
    env = Env(root)
    try:
        phases = {"session_s": time.perf_counter() - started}
        workload.prepare_store(env)
        phases["preload_s"] = time.perf_counter() - started - sum(phases.values())
        for op in workload.warmup_ops(env):
            warm.append(_execute(op, env, None, -1, failures))
        workload.after_setup(env)
        setup_s = time.perf_counter() - started
        phases["warmup_s"] = setup_s - sum(phases.values())
        steal.append((time.perf_counter(), cpu_steal_s()))
        if trace:
            tracer = Tracer(env.store)
            tracer.install(env.app)
        t_window = time.perf_counter()
        for k in range(cycles):
            for op in workload.cycle(env, k):
                seq.update(repr(op.desc).encode())
                samples.append(_execute(op, env, tracer, len(samples), failures))
        window_s = time.perf_counter() - t_window
        steal.append((time.perf_counter(), cpu_steal_s()))
        peak = env.peak_rss_mb()
        versions = env.versions()
        arrow = env.spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    finally:
        if tracer is not None:
            tracer.uninstall()
        env.close()

    e2e, counts = workload.metrics(samples)
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak,
           "storage_bytes_per_cell": workload.storage_bytes_per_cell, **e2e}
    counts = {"setup_s": 1, "peak_rss_mb": 1, "storage_bytes_per_cell": 1, **counts}
    by_kind: dict[str, list[float]] = {}
    for smp in samples:
        by_kind.setdefault(smp.kind, []).append(smp.seconds)
    by_kind = dict(sorted(by_kind.items()))
    ops = warm + samples
    failed = sum(1 for s in ops if not s.ok)
    context = {
        "context": {
            "workload": workload.name, "seed": workload.seed, "trace": int(trace),
            "cycles": cycles, "window_s": round(window_s, 3),
            "setup_phases": {p: round(v, 3) for p, v in phases.items()},
            # share of the host's CPU time other guests took: a run on a
            # busy shared host is slow for reasons outside the program
            "host_steal_share": {
                part: round((b[1] - a[1]) / ((b[0] - a[0]) * os.cpu_count()), 4)
                for part, a, b in (("setup", steal[0], steal[1]),
                                   ("window", steal[1], steal[2]))},
            "nproc": os.cpu_count(), "master": MASTER, "jvm_heap": JVM_HEAP,
            **versions, "arrow_topandas": arrow,
            "op_sequence_sha1": seq.hexdigest(),
            "ops_by_kind": {kind: len(ts) for kind, ts in by_kind.items()},
            "op_seconds": {kind: [round(t, 3) for t in ts]
                           for kind, ts in by_kind.items() if len(ts) <= 20},
        },
        "samples": counts,
        "failures": failures[:20],
    }
    if tracer is not None:
        values = layer_metrics(tracer)
        context["trace"] = {**tracer.accounting(), "end_to_end_traced": e2e}
        out_dir = os.path.join(root, OUT_DIRNAME)
        tracer.dump(os.path.join(out_dir, f"spans-{workload.name}-{workload.seed}.jsonl"))
    else:
        values = e2e
    names = list(units) if trace else list(values)
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return context, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still tears down (finally blocks run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "ong_tsdb_spark", "engine.py")):
        print(f"enginebench: no ong_tsdb_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        workload = WORKLOADS[args.workload](args.seed)
        context, result = run_benchmark(workload, workload.cycles_for(args.seconds),
                                        bool(args.trace), ROOT, T_START)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(context))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
