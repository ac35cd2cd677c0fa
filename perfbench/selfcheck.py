"""Self-check of the benchmark harness.

    python3 perfbench/selfcheck.py            # all checks (a few minutes)
    python3 perfbench/selfcheck.py --record RUN_DIR
        # refresh the recorded event log from a traced run's directory
        # (.perfbench_out/<run>) after an intended profiler change

1. The profiler against the small recorded event log in ``fixtures/``:
   its sums must equal direct scans of the same events, and its
   per-layer numbers must equal the values recorded with the log.
2. ``BENCHMARK.json`` must list exactly the metrics ``run.py`` prints.
3. Every workload at ``--scale tiny``, untraced and traced: the last
   line is the result object, every named metric is there with its unit,
   every check passes, and a traced run measures every layer listed for
   the workload.
4. In a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
   benchmark exits non-zero without printing a result.

Exits 0 when every check passes; prints each failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import eventlog
from harness import BENCH_DIR, OUT_ROOT, REPO, event_log_file
import run as bench

FIXTURES = os.path.join(BENCH_DIR, "fixtures")
LOG = os.path.join(FIXTURES, "eventlog_tiny_dedup.jsonl")
SPANS = os.path.join(FIXTURES, "spans_tiny_dedup.jsonl")
EXPECTED = os.path.join(FIXTURES, "profile_tiny_dedup.json")
FIXTURE_LAYERS = ("operators.dedup", "operators.graph", "setup", "run", "check")

failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        failures.append(what)


def _read_jsonl(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _slim_plan(node: dict) -> dict:
    return {
        "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]}
                    for m in node.get("metrics", [])],
        "children": [_slim_plan(c) for c in node.get("children", [])],
    }


def _slim(e: dict) -> dict | None:
    """The fields of one event the profiler reads; None to drop it."""
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        return {"Event": kind, "Job ID": e["Job ID"],
                "Submission Time": e["Submission Time"], "Stage IDs": e["Stage IDs"],
                "Properties": {k: props[k] for k in
                               ("spark.jobGroup.id", "spark.sql.execution.id")
                               if k in props}}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": e["Job ID"],
                "Completion Time": e["Completion Time"]}
    if kind == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        keep = ("Stage ID", "Stage Attempt ID", "Stage Name", "Number of Tasks",
                "Submission Time", "Completion Time")
        return {"Event": kind, "Stage Info": {k: si.get(k) for k in keep} | {
            "Accumulables": [{"ID": a["ID"], "Value": a.get("Value")}
                             for a in si.get("Accumulables", [])]}}
    if kind == "SparkListenerTaskEnd":
        ti, tm = e["Task Info"], e.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        return {"Event": kind, "Stage ID": e["Stage ID"],
                "Stage Attempt ID": e["Stage Attempt ID"],
                "Task Info": {"Launch Time": ti["Launch Time"],
                              "Finish Time": ti["Finish Time"]},
                "Task Metrics": {
                    "Executor CPU Time": tm.get("Executor CPU Time", 0),
                    "JVM GC Time": tm.get("JVM GC Time", 0),
                    "Disk Bytes Spilled": tm.get("Disk Bytes Spilled", 0),
                    "Shuffle Read Metrics": {
                        "Remote Bytes Read": sr.get("Remote Bytes Read", 0),
                        "Local Bytes Read": sr.get("Local Bytes Read", 0)},
                    "Shuffle Write Metrics": {
                        "Shuffle Bytes Written": (tm.get("Shuffle Write Metrics")
                                                  or {}).get("Shuffle Bytes Written", 0)},
                }}
    if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
        out = {"Event": kind, "executionId": e["executionId"],
               "sparkPlanInfo": _slim_plan(e["sparkPlanInfo"])}
        if "time" in e:
            out["time"] = e["time"]
        return out
    if kind.endswith(("SQLAdaptiveSQLMetricUpdates", "DriverAccumUpdates")):
        return e
    return None


def record(run_dir: str) -> None:
    """Write the fixtures from a traced tiny dedup run's directory."""
    events = [s for s in map(_slim, eventlog.load_events(event_log_file(run_dir))) if s]
    spans = _read_jsonl(os.path.join(run_dir, "report", "spans.jsonl"))
    os.makedirs(FIXTURES, exist_ok=True)
    with open(LOG, "w") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")) + "\n")
    shutil.copyfile(os.path.join(run_dir, "report", "spans.jsonl"), SPANS)
    prof = eventlog.Profile(events, spans, bench.CORES)
    expected = {layer: prof.layer_metrics(layer) for layer in FIXTURE_LAYERS}
    expected["underparallel"] = len(prof.underparallel_report())
    expected["files_read"] = prof.sql_metric(set(prof.spans), eventlog.FILES_READ)
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    print(f"recorded {len(events)} events and {len(spans)} spans")


def check_profiler() -> None:
    events, spans = eventlog.load_events(LOG), _read_jsonl(SPANS)
    prof = eventlog.Profile(events, spans, bench.CORES)
    layers = {layer: prof.layer_metrics(layer) for layer in FIXTURE_LAYERS}

    # direct scans of the same events
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    stages = [e["Stage Info"] for e in events if e["Event"] == "SparkListenerStageCompleted"]
    total = lambda m: sum(v[m] for v in layers.values())  # noqa: E731
    expect(total("jobs") == sum(e["Event"] == "SparkListenerJobStart" for e in events),
           "every job joins a span")
    expect(total("tasks") == len(tasks), "every task is counted once")
    expect(total("shuffle_write_bytes") == sum(
        t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks),
        "shuffle write bytes equal the task sum")
    expect(total("underparallel_stages") == sum(s["Number of Tasks"] < bench.CORES
                                                for s in stages),
           "under-parallel stages equal the stages with fewer tasks than cores")
    by_name = {s["id"]: s for s in spans}
    cc = [s for s in spans if s["name"] == "operators.graph.connected_components"]
    expect(len(cc) == 1 and by_name[cc[0]["parent"]]["name"]
           == "operators.dedup.dedup_clusters", "graph span nests in dedup_clusters")
    d, g = layers["operators.dedup"], layers["operators.graph"]
    expect(abs(d["self_s"] - (d["busy_s"] - g["busy_s"])) < 1e-6,
           "self time excludes the nested child span")
    expect(0 <= d["driver_s"] <= d["self_s"] and 0 <= g["driver_s"] <= g["busy_s"],
           "driver time lies within self time")

    with open(EXPECTED) as f:
        expected = json.load(f)
    for layer in FIXTURE_LAYERS:
        for m, v in expected[layer].items():
            expect(abs(layers[layer][m] - v) <= 1e-9 * max(1.0, abs(v)),
                   f"recorded {layer}.{m} = {v}")
    expect(len(prof.underparallel_report()) == expected["underparallel"],
           "recorded under-parallel stage count")
    expect(prof.sql_metric(set(prof.spans), eventlog.FILES_READ) == expected["files_read"]
           and expected["files_read"] > 0, "recorded files-read SQL metric")


def check_benchmark_json() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect([(m["name"], m["unit"]) for m in spec["end_to_end"]] == bench.END_TO_END,
           "BENCHMARK.json end_to_end matches run.END_TO_END")
    expect([(m["name"], m["unit"]) for m in spec["per_layer"]] == bench.PER_LAYER,
           "BENCHMARK.json per_layer matches run.PER_LAYER")
    expect(tuple(w["name"] for w in spec["workloads"]) == bench.LISTED,
           "BENCHMARK.json workloads match run.LISTED")


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)


def check_tiny_runs() -> None:
    for workload in bench.LISTED:
        for trace, names in ((0, bench.END_TO_END), (1, bench.PER_LAYER)):
            proc = _run(["--workload", workload, "--seed", "7", "--seconds", "1",
                         "--trace", str(trace), "--scale", "tiny"], REPO)
            what = f"{workload} --trace {trace} at tiny scale"
            try:
                result = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                expect(False, f"{what}: last line is the result object")
                continue
            expect(proc.returncode == 0, f"{what}: exit code 0")
            expect(set(result) == {"correct", "attempted", "failed", "metrics"},
                   f"{what}: result keys")
            expect(result["correct"] and result["failed"] == 0
                   and result["attempted"] >= 1, f"{what}: every check passes")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == dict(names), f"{what}: every metric with its unit")
            if trace:
                for layer in bench.LAYERS[workload]:
                    expect(any(v["value"] > 0 for k, v in result["metrics"].items()
                               if k.startswith(layer + ".")),
                           f"{what}: layer {layer} is measured")


def check_without_program() -> None:
    bare = os.path.join(OUT_ROOT, "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copyfile(os.path.join(REPO, "BENCHMARK.json"),
                    os.path.join(bare, "BENCHMARK.json"))
    proc = _run(["--workload", bench.LISTED[0], "--seed", "1", "--seconds", "1",
                 "--trace", "0"], bare)
    expect(proc.returncode != 0 and '"metrics"' not in proc.stdout,
           "without the engine: non-zero exit and no result")
    shutil.rmtree(bare, ignore_errors=True)


def main(argv: list[str]) -> int:
    if argv[:1] == ["--record"]:
        record(argv[1])
        return 0
    check_profiler()
    check_benchmark_json()
    check_without_program()
    check_tiny_runs()
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
