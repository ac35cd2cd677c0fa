"""Benchmark of the transcript rollup engine at local[4].

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from ``--seed``, sets the workload up,
repeats its measured operation until ``--seconds`` have passed (at least
the workload's minimum number of operations), checks every output against
an independent path, and prints one JSON object as the last line:
``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``).
With ``--trace 1`` the run also writes Spark's event log and its spans,
and the metrics are the per-layer ones (``PER_LAYER``): the event log is
joined to the spans by job group (see ``eventlog.py``). A traced run
measures at least three operations: the first untraced, then traced and
untraced ones in turn, so the tracing overhead is a traced operation's
wall minus an untraced one's on the same input in the same warm session.
A traced ``batch`` also reruns the cascade rollup in a fresh ``local[1]``
process pinned to one core with ``taskset``, on the identical input
files, for the N-vs-4N scaling efficiency.

Reports (spans, per-layer profile, under-parallel stages, input
provenance, checks) are written under ``.perfbench_out/<run>/report``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

import eventlog
from harness import (
    BENCH_DIR,
    REPO,
    RunDir,
    Tracer,
    event_log_file,
    peak_memory_mb,
    provenance,
    require_program,
    start_spark,
    stop_spark,
)

CORES = 4
#: set-up (input generation and parquet write) repeats per run; setup_s
#: takes their median
SETUP_REPEATS = 3
#: a run must end within this many seconds
RUN_BUDGET_S = 160
#: the workloads BENCHMARK.json lists
LISTED = ("batch", "store")

END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_s", "1/s"),
    ("latency_p50_s", "s"),
]

_GENERIC = [n for n, _u in eventlog.GENERIC if n != "spill_bytes"]
# backfill spans never nest, so self time is busy time, and every
# backfill input has >= CORES files, so its stages never run short
_BACKFILL = [n for n in _GENERIC if n not in ("self_s", "underparallel_stages")]
#: per-layer metrics by workload: the event-log set of each spanned layer
#: (minus what reads zero or repeats another metric on every run at this
#: scale) plus the counts its outputs give. A layer a run does not
#: exercise reads zero.
LAYERS = {
    "batch": {
        "operators.rollup": _BACKFILL + ["rows_out_1m", "rows_out_1h",
                                         "rows_out_1d", "scaling_eff"],
        "operators.gapfill": _BACKFILL + ["points_out"],
        "operators.chunks": _BACKFILL + ["to_python_bytes", "from_python_bytes",
                                         "blob_bytes", "bytes_per_point"],
        "operators.sketch_rollup": _BACKFILL + ["to_python_bytes", "sketch_bytes"],
        "operators.dedup": _GENERIC + ["pairs_out"],
        "operators.graph": _GENERIC + ["components_out"],
    },
    "store": {
        "streaming.cascade_stream": [n for n in _GENERIC if n != "self_s"] + [
            "files_written", "bytes_written", "bytes_rewritten",
            "stored_bytes_per_turn", "batch_lag_p50_s"],
        "plans.manifest": ["manifest_bytes"],
        "plans.cascade_store": [
            "calls", "busy_s", "jobs", "driver_s", "tasks", "task_cpu_s",
            "shuffle_read_bytes", "underparallel_stages", "build_busy_s",
            "build_jobs", "range_agg_p50_s", "read_cascade_p50_s", "files_read"],
        "operators.downsample": [
            "calls", "busy_s", "jobs", "driver_s", "tasks", "task_cpu_s",
            "shuffle_write_bytes", "task_skew", "m4_p50_s"],
        "operators.chunks": _GENERIC + ["from_python_bytes", "range_read_p50_s"],
    },
}
STORE_BUILD = ("streaming.cascade_stream.stream_cascade_store",
               "plans.cascade_store.refresh_state_cascade",
               "operators.chunks.compress_chunks")
RUN_METRICS = ["tracing_overhead_s", "error_rate", "spans", "peak_rss_mb",
               "peak_old_gen_mb", "query_p50_s", "query_p80_s"]
_UNITS = dict(eventlog.GENERIC) | {
    "rows_out_1m": "count", "rows_out_1h": "count", "rows_out_1d": "count",
    "scaling_eff": "ratio", "points_out": "count", "to_python_bytes": "B",
    "from_python_bytes": "B", "blob_bytes": "B", "bytes_per_point": "B",
    "sketch_bytes": "B", "files_written": "count", "bytes_written": "B",
    "bytes_rewritten": "B", "stored_bytes_per_turn": "B",
    "batch_lag_p50_s": "s", "manifest_bytes": "B", "build_busy_s": "s",
    "build_jobs": "count", "range_agg_p50_s": "s", "read_cascade_p50_s": "s",
    "files_read": "count", "m4_p50_s": "s", "range_read_p50_s": "s",
    "pairs_out": "count", "components_out": "count", "tracing_overhead_s": "s", "error_rate": "ratio", "spans": "count",
    "peak_rss_mb": "MB", "peak_old_gen_mb": "MB", "query_p50_s": "s",
    "query_p80_s": "s",
}


def layer_metrics(workloads) -> list[tuple[str, str]]:
    """Every per-layer metric of ``workloads``, each name once."""
    names = [
        (f"{layer}.{m}", _UNITS[m])
        for w in workloads
        for layer, ms in LAYERS[w].items()
        for m in ms
    ] + [(f"run.{m}", _UNITS[m]) for m in RUN_METRICS]
    return list(dict.fromkeys(names))


PER_LAYER = layer_metrics(LISTED)


def _child(cmd: list[str], timeout: float) -> dict:
    """Run a child to completion; its last stdout line is JSON. On timeout
    the child's whole process group (its JVM too) is killed and reaped."""
    proc = subprocess.Popen(
        cmd, cwd=REPO, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        try:  # the child's JVM outlives a crashed child
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if proc.returncode != 0:
        raise RuntimeError(f"child {cmd} exited {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def run(workload: str, seed: int, seconds: float, trace: bool, scale_name: str) -> dict:
    from workloads import SCALES, WORKLOADS

    run_start = time.perf_counter()
    scale = SCALES[scale_name]
    rd = RunDir(f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")

    t0 = time.perf_counter()
    spark = start_spark(rd, CORES, trace, f"perfbench-{workload}")
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, f"{workload}:{seed}:setup", trace)
    w = WORKLOADS[workload](spark, rd, seed, tracer, scale)

    gen_walls, inputs = [], []
    # setup_s is end-to-end only: a traced run sets up once, leaving time
    # for its extra operations and the local[1] rerun
    repeats = 1 if trace else SETUP_REPEATS
    for k in range(repeats):
        dest = rd.path("data", f"input_{k}")
        t = time.perf_counter()
        with tracer.span("setup.generate"):
            w.make_input(dest)
        gen_walls.append(time.perf_counter() - t)
        inputs.append(provenance(dest))
        if k + 1 < repeats:
            shutil.rmtree(dest)
    w.input = dest
    t = time.perf_counter()
    with tracer.span("setup.prepare"):
        w.prepare()
    prepare_s = time.perf_counter() - t
    setup_s = session_s + median(gen_walls) + prepare_s

    attempted = failed = 0
    walls, rows = [], []
    by_tracing: dict[bool, list[float]] = {False: [], True: []}
    min_ops = max(w.min_ops, 3) if trace else w.min_ops
    start = time.perf_counter()
    i = 0
    while w.has_next(i) and (i < min_ops or time.perf_counter() - start < seconds):
        # for the tracing overhead a traced run leaves its first operation
        # untraced (the session's cold first pass is ~40% slower), then
        # alternates traced and untraced ones on the same input, the
        # traced one first on even seeds
        tracer.enabled = trace and i > 0 and (i + seed) % 2 == 1
        tracer.run_id = f"{workload}:{seed}:{i}"
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span(f"run.{workload}"):
                n = w.run_op(i)
            walls.append(time.perf_counter() - t)
            if i > 0:
                by_tracing[tracer.enabled].append(walls[-1])
            rows.append(n)
        except Exception:
            failed += 1
            traceback.print_exc()
        i += 1
    tracer.enabled = trace

    # memory of the workload itself, before the checks run in this process
    memory = peak_memory_mb(spark)
    e2e = {
        "setup_s": setup_s,
        **(w.throughput_latency(rows, walls) if walls
           else {"rows_per_s": 0.0, "latency_p50_s": 0.0}),
    }
    tracer.run_id = f"{workload}:{seed}:check"
    t = time.perf_counter()
    try:
        with tracer.span(f"check.{workload}"):
            results = w.check()
    except Exception:
        traceback.print_exc()
        results = [("check", False, "raised")]
    check_s = time.perf_counter() - t
    attempted += len(results)
    failed += sum(1 for _n, ok, _d in results if not ok)

    if trace:
        with tracer.span("check.counts"):
            w.finish_counts()
    w.close()
    stop_spark(spark)

    report = {
        "workload": workload,
        "seed": seed,
        "scale": scale_name,
        "seconds": seconds,
        "trace": trace,
        "inputs": {"generator_args": w.generator_args(), "repeats": inputs},
        "setup": {"session_s": session_s, "generate_s": gen_walls,
                  "prepare_s": prepare_s},
        "op_walls_s": walls,
        "op_rows": rows,
        "check_s": check_s,
        "peak_memory_mb": memory,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in results],
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
    }
    for n, ok, d in results:
        print(f"check {n}: {'ok' if ok else 'MISMATCH'} ({d})")
    print(f"error_rate: {failed}/{attempted} = {failed / attempted:.4f}")
    print(f"input: {json.dumps(inputs[-1])}")

    if trace:
        report["op_walls_by_tracing_s"] = {"untraced": by_tracing[False],
                                           "traced": by_tracing[True]}
        profile = _per_layer(rd, w, tracer, report, run_start)
        profile["run.error_rate"] = failed / attempted
        with open(rd.path("report", "profile.json"), "w") as f:
            json.dump(profile, f, indent=1)
        # a layer this workload does not run reads zero
        metrics = {n: profile.get(n, 0.0) for n, _u in PER_LAYER}
        units = dict(PER_LAYER)
    else:
        metrics, units = e2e, dict(END_TO_END)
    with open(rd.path("report", "result.json"), "w") as f:
        json.dump(report, f, indent=1)
    rd.drop_data()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def _per_layer(rd, w, tracer, report, run_start) -> dict:
    """Per-layer metrics of a traced run, from its event log and spans."""
    tracer.write(rd.path("report", "spans.jsonl"))
    prof = eventlog.Profile(
        eventlog.load_events(event_log_file(rd.root)), tracer.spans, CORES
    )
    sql = {
        "to_python_bytes": eventlog.ARROW_TO_PYTHON,
        "from_python_bytes": eventlog.ARROW_FROM_PYTHON,
        "files_read": eventlog.FILES_READ,
    }
    out: dict[str, float] = {}
    for layer, names in LAYERS[w.name].items():
        base = prof.layer_metrics(layer)
        sids = {s["id"] for s in tracer.spans if eventlog.layer_of(s["name"]) == layer}
        for m in names:
            if m in base:
                out[f"{layer}.{m}"] = base[m]
            elif m in sql:
                out[f"{layer}.{m}"] = prof.sql_metric(sids, sql[m])
    if w.name == "store":
        # the store's build: set-up's catch-up drain, state face and chunks
        build = [s["id"] for s in tracer.spans if s["run"].endswith(":setup")
                 and s["name"] in STORE_BUILD]
        out["plans.cascade_store.build_busy_s"] = sum(
            prof.spans[sid]["end"] - prof.spans[sid]["start"] for sid in build)
        out["plans.cascade_store.build_jobs"] = sum(
            len(prof.span_jobs.get(sid, [])) for sid in build)
    out.update(w.counts)
    if w.name == "batch":
        out["operators.rollup.scaling_eff"] = _scaling(w, report, run_start)
    walls = report["op_walls_by_tracing_s"]
    overhead = median(walls["traced"]) - median(walls["untraced"])
    memory = report["peak_memory_mb"]
    out["run.peak_rss_mb"] = memory["jvm_rss"] + memory["python_rss"]
    out["run.peak_old_gen_mb"] = memory["jvm_old_gen"]
    out["run.tracing_overhead_s"] = overhead
    out["run.spans"] = len(tracer.spans)
    under = prof.underparallel_report()
    with open(rd.path("report", "underparallel.json"), "w") as f:
        json.dump(under, f, indent=1)
    report["jobs_joined_by_time"] = prof.jobs_by_time
    report["underparallel_stages"] = len(under)
    print(f"underparallel stages (< {CORES} tasks): {len(under)}")
    for row in under[:10]:
        print(f"  stage {row['stage']} tasks={row['tasks']} wall={row['wall_s']}s"
              f" span={row['span']} {row['name'][:60]}")
    print(f"tracing overhead: {overhead:+.3f}s (operation walls: traced"
          f" {walls['traced']}, untraced {walls['untraced']})")
    return out


def _scaling(w, report, run_start: float) -> float:
    """N-vs-4N efficiency of the cascade rollup in a fresh session:
    local[1] wall over CORES x local[4] wall, on the identical input
    files; 0 when the local[1] run cannot finish inside the budget. The
    local[4] wall is the run's first rollup, which like the local[1] one
    runs in a session that has not run it before."""
    backfill = w.parts[0]
    wall4 = backfill.rollup_walls[0]
    cmd = ["taskset", "-c", "0", sys.executable, os.path.join(BENCH_DIR, "run.py"),
           "--local1", backfill.input]
    try:
        child = _child(cmd, timeout=RUN_BUDGET_S - (time.perf_counter() - run_start))
    except (subprocess.TimeoutExpired, RuntimeError) as exc:
        report["local1"] = {"error": repr(exc)}
        print(f"scaling: local[1] run did not finish: {exc!r}")
        return 0.0
    same = child["fingerprint"] == provenance(backfill.input)["fingerprint"]
    report["local1"] = child | {"same_input_files": same}
    if not same:
        raise RuntimeError("the local[1] run read different input files")
    eff = child["wall_s"] / (CORES * wall4)
    print(f"scaling: local[1] {child['wall_s']:.3f}s vs local[{CORES}] {wall4:.3f}s"
          f" -> efficiency {eff:.3f}")
    return eff


def local1(input_dir: str) -> dict:
    """The cascade rollup in a fresh local[1] session in this process
    (the parent pins it to one core)."""
    from workloads import rollup_job

    rd = RunDir(f"local1-{os.getpid()}")
    spark = start_spark(rd, 1, False, "perfbench-local1")
    wall = rollup_job(spark, input_dir, rd.path("data", "out"), Tracer(spark, "local1", False))
    stop_spark(spark)
    result = {"wall_s": wall, "fingerprint": provenance(input_dir)["fingerprint"]}
    shutil.rmtree(rd.root, ignore_errors=True)
    return result


def main(argv: list[str]) -> int:
    from workloads import SCALES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    p.add_argument("--local1", metavar="INPUT_DIR", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    require_program()
    if args.local1:
        print(json.dumps(local1(args.local1)))
        return 0
    if not args.workload:
        p.error("--workload is required")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
