"""Benchmark of the clinical release and the query registry, end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Every Spark driver is a fresh
``perfbench/worker.py`` process, one client issuing one operation at a time.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds the details: the host record, the metrics under their workload names
and, when traced, every span's Spark metrics and the tracing overhead.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

RUN_LIMIT_S = 170
# The registry queries this benchmark measures. The list is owned here, not
# read from the registry's ``bench`` flags, so a program change cannot change
# what is measured.
REGISTRY_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q9_profit_by_nation_year",
    "ev_tumbling_hourly", "ev_weekly_retention", "pipe_customer_document",
    "etl_scd2_customer_merge", "dd_span_dedup", "emb_label_centroids",
    "tx_token_counts_by_source", "tx_quality_calibrated_udf", "ann_topk_gemm",
)
WORKLOADS = {
    # 100 copies of the 3-donor template: 300 donors in 2 studies.
    "release_small": {"kind": "release", "copies": 100},
    "registry_sf0.01": {"kind": "registry", "sf": 0.01},
}
END_TO_END = {"setup_s": "s", "wall_s": "s", "phase1_s": "s", "phase2_s": "s",
              "ok_share": "ratio"}
PHASES = {  # contract span -> the benchmark spans it sums
    "release": {"phase1": ("preprocess.extract", "preprocess.transform",
                           "preprocess.load"),
                "phase2": ("process.extract", "process.transform", "process.load"),
                "eager": ("preprocess.transform", "process.transform")},
    "registry": {"phase1": ("queries.plan", "queries.cold"),
                 "phase2": ("queries.warm",),
                 "eager": ("queries.plan",)},
}
PER_LAYER_FIELDS = {"jobs": "count", "stages": "count", "tasks": "count",
                    "s": "s", "driver_s": "s", "executor_cpu_s": "s",
                    "executor_run_s": "s", "gc_s": "s", "sched_delay_s": "s",
                    "shuffle_bytes": "B", "input_bytes": "B"}


class RunError(Exception):
    """A run that cannot produce a result."""


def host_record() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "loadavg": list(os.getloadavg())}


def cpu_ticks() -> tuple[int, int]:
    """Total and steal CPU ticks since boot."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class Run:
    """One invocation: its work directory, pinned settings and drivers."""

    def __init__(self, args, checkout: str):
        self.args = args
        self.work = os.path.join(checkout, ".perfbench_work")
        self.dir = os.path.join(self.work, "run")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog", "logs"):
            os.makedirs(os.path.join(self.dir, sub))
        self.host, self.start_ticks = host_record(), cpu_ticks()
        heap_mb = min(3072, self.host["mem_total_mb"] // 5)
        tmp = os.path.join(self.dir, "tmp")
        self.env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(self.host["nproc"]),
            SPARK_DRIVER_MEMORY=f"{heap_mb}m",
            SPARK_LOCAL_DIRS=os.path.join(self.dir, "local"),
            PYTHONPATH=os.pathsep.join(
                [checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
            CQDG_SCALE_DERIVE="1",
            TMPDIR=tmp,
            # Keeps every JVM's scratch files, perf-counter files included,
            # inside the checkout.
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        self.conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(self.dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        } if args.trace else {}
        self.deadline = time.monotonic() + RUN_LIMIT_S
        self.drivers: list[dict] = []

    def driver(self, command: str, **spec) -> dict:
        """Run one fresh driver to completion and return its result."""
        n = len(self.drivers)
        out = os.path.join(self.dir, f"driver{n}.json")
        spec_path = os.path.join(self.dir, f"driver{n}.spec.json")
        with open(spec_path, "w") as fh:
            json.dump(dict(spec, command=command, out=out, conf=self.conf,
                           trace=bool(self.args.trace)), fh)
        log = os.path.join(self.dir, "logs", f"driver{n}-{command}.log")
        # Write back the inputs and earlier outputs now, so their write-back
        # does not land in the driver's timed phases.
        os.sync()
        with open(log, "w") as fh:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                cwd=self.dir, env=self.env, stdout=fh, stderr=subprocess.STDOUT,
                start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                raise RunError(f"{command} driver passed the run time limit; see {log}")
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
                wait_for_group(proc.pid)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-3000:])
            raise RunError(f"{command} driver exited with {proc.returncode}")
        with open(out) as fh:
            result = json.load(fh)
        self.drivers.append(result)
        return result


def live_group_members(pgid: int) -> list[int]:
    """Processes of group ``pgid`` that have not exited (zombies excluded)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def wait_for_group(pgid: int, grace_s: float = 30.0) -> None:
    """Wait until every process of a driver's group has ended: the JVM
    leaves on its own once its Python parent has gone. Kill what is left
    after ``grace_s``."""
    deadline, killed = time.monotonic() + grace_s, False
    while live_group_members(pgid):
        if time.monotonic() > deadline:
            if killed:
                raise RunError(f"processes of group {pgid} did not end")
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.05)


def timed_median(fn, times: int = 3):
    """Call ``fn`` ``times`` times; return its last result and median seconds."""
    seconds, result = [], None
    for _ in range(times):
        start = time.perf_counter()
        result = fn()
        seconds.append(time.perf_counter() - start)
    return result, statistics.median(seconds)


def dir_bytes(path: str, suffix: str) -> tuple[int, int]:
    size = files = 0
    for base, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                size += os.path.getsize(os.path.join(base, name))
                files += 1
    return size, files


def run_release(run: Run, workload: dict) -> dict:
    import clinical

    root = os.path.join(run.dir, "release")
    expected, gen_s = timed_median(
        lambda: clinical.generate_release(root, workload["copies"], run.args.seed))
    pre_s, proc_s, failures, details = [], [], [], {}
    start = time.monotonic()
    # A traced run makes exactly one release, so its per-span counts do not
    # depend on how many releases fit in --seconds.
    while not pre_s or (not run.args.trace and time.monotonic() - start < run.args.seconds):
        for out in ("with-ids", "indexes"):
            shutil.rmtree(os.path.join(root, out), ignore_errors=True)
        for command, walls in (("preprocess", pre_s), ("process", proc_s)):
            res = run.driver(command, root=root)
            if "error" in res:
                # Without the command's output the release cannot go on.
                raise RunError(f"{command} raised {res['error']}")
            walls.append(res["wall_s"])
            details.update({k: v for k, v in res.items() if k.startswith("clients.")})
        problems = clinical.check_release(os.path.join(root, "indexes"), expected)
        if problems:
            failures.append("process output check: " + "; ".join(problems))
    attempted = 2 * len(pre_s)
    phase1, phase2 = statistics.median(pre_s), statistics.median(proc_s)
    donors = len(expected["donors"])
    parquet = dir_bytes(os.path.join(root, "with-ids"), ".parquet")
    json_out = dir_bytes(os.path.join(root, "indexes"), ".json")
    details.update({"preprocess_s": phase1, "process_s": phase2,
                    "donors": donors, "donors_per_s": donors / (phase1 + phase2),
                    "releases": len(pre_s), "sources.parquet_bytes": parquet[0],
                    "sources.json_bytes": json_out[0], "sources.json_files": json_out[1],
                    "peak_rss_mb": max(d["peak_rss_mb"] for d in run.drivers)})
    return {
        "attempted": attempted, "failed": len(failures), "failures": failures,
        "setup_s": gen_s + statistics.median(d["session_s"] for d in run.drivers),
        "phase1_s": phase1, "phase2_s": phase2,
        "details": details,
    }


def run_registry(run: Run, workload: dict) -> dict:
    import registry_data

    data = os.path.join(run.dir, "registry")
    _, gen_s = timed_median(lambda: registry_data.generate(data, workload["sf"], run.args.seed))
    # A traced run makes exactly one measured pass (``seconds=0``), so its
    # per-span counts do not depend on how many passes fit in --seconds.
    res = run.driver("registry", data_dir=data, seed=run.args.seed,
                     seconds=0 if run.args.trace else run.args.seconds,
                     queries=list(REGISTRY_QUERIES))
    if "error" in res:
        raise RunError(f"registry driver raised {res['error']}")
    if not res["per_query"]:
        raise RunError("no query completed: " + json.dumps(res["failures"]))
    cold = {q: statistics.median(p + c for p, c, _ in t) for q, t in res["per_query"].items()}
    warm = {q: statistics.median(w for _, _, w in t) for q, t in res["per_query"].items()}
    failures = [f"{q}: {why}" for q, why in sorted(res["failures"].items())]
    phase1, phase2 = sum(cold.values()), sum(warm.values())
    return {
        "attempted": len(REGISTRY_QUERIES), "failed": len(res["failures"]),
        "failures": failures,
        "setup_s": gen_s + res["session_s"] + res["warmup_s"],
        "phase1_s": phase1, "phase2_s": phase2,
        "details": {"registry_cold_s": phase1, "registry_warm_s": phase2,
                    "queries_per_s": len(cold) / (phase1 + phase2),
                    "peak_rss_mb": res["peak_rss_mb"], "passes": res["passes"],
                    "oracle_s": res["oracle_s"],
                    "query_cold_s": cold, "query_warm_s": warm},
    }


def traced_layers(run: Run, kind: str) -> tuple[dict, dict]:
    """Per-layer metrics for the contract line, and every span's metrics."""
    import eventlog

    spans: dict[str, dict] = {}
    for d in run.drivers:
        with open(os.path.join(run.dir, "eventlog", d["app_id"])) as fh:
            parsed = eventlog.parse(fh)
        for name, m in eventlog.span_metrics(parsed, d["spans"]).items():
            acc = spans.setdefault(name, dict.fromkeys(m, 0.0))
            for k, v in m.items():
                acc[k] += v
    layers = {}
    for phase, members in PHASES[kind].items():
        for field, unit in PER_LAYER_FIELDS.items():
            value = sum(spans.get(s, {}).get(field, 0.0) for s in members)
            layers[f"{phase}.{field}"] = {"value": value, "unit": unit}
    return layers, spans


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "cqdg_etl_spark", "__init__.py")):
        print("run from the root of a cqdg_etl_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    workload = WORKLOADS[args.workload]
    run = Run(args, checkout)
    try:
        if workload["kind"] == "release":
            res = run_release(run, workload)
        else:
            res = run_registry(run, workload)
        (total, steal), (total0, steal0) = cpu_ticks(), run.start_ticks
        host = dict(run.host, loadavg_end=list(os.getloadavg()),
                    steal_pct=100 * (steal - steal0) / max(1, total - total0))
        e2e = {
            "setup_s": res["setup_s"],
            "wall_s": res["phase1_s"] + res["phase2_s"],
            "phase1_s": res["phase1_s"], "phase2_s": res["phase2_s"],
            "ok_share": 1 - res["failed"] / res["attempted"],
        }
        details = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "host": host, "failures": res["failures"], **res["details"],
                   "failed_share": res["failed"] / res["attempted"]}
        history = os.path.join(run.work, "history", f"{args.workload}-{args.seed}.json")
        if args.trace:
            metrics, details["spans"] = traced_layers(run, workload["kind"])
            if os.path.exists(history):
                with open(history) as fh:
                    untraced = json.load(fh)
                details["overhead"] = {k: e2e[k] - untraced[k] for k in e2e}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
            os.makedirs(os.path.dirname(history), exist_ok=True)
            with open(history, "w") as fh:
                json.dump(e2e, fh)
        details["end_to_end"] = e2e
        with open(os.path.join(run.work, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"details": details,
                       "spans": [s for d in run.drivers for s in d["spans"]]}, fh)
    except RunError as exc:
        print(f"run failed: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(details))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
