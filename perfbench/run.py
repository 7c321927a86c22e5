#!/usr/bin/env python3
"""Benchmark of the mdbloom Bloom index: ingest and search workloads.

    python3 perfbench/run.py --workload ingest|search --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Builds the index from source with the code
under test, measures for ``S`` seconds, checks every answer against a
DuckDB oracle, prints one JSON line per metric and, as the last line of
standard output, ``{"correct", "attempted", "failed", "metrics"}``. See
``perfbench/NOTES.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"setup_s": "s", "cycle_s": "s",
              "index_bytes_per_turn": "bytes"}
BUILD = ["build.fingerprints_s", "build.hash_storage_write_s",
         "build.slab_write_s", "build.dup_contract_check_s",
         "build.token_stream_write_s", "build.manifest_gate_write_s"]
STORAGE = [f"storage.bytes_per_turn.{a}" for a in
           ("storage", "slabs", "manifest", "manifest_tree", "token_hashes")]
SPARK = ["spark.jobs", "spark.stages", "spark.tasks",
         "spark.executor_run_s", "spark.executor_cpu_s",
         "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
         "spark.input_bytes", "spark.result_bytes", "spark.driver_s"]
PER_LAYER = (BUILD + ["query.open_s", "query.plan_s", "query.exec_s"]
             + STORAGE + SPARK)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_err", "_ratio")) or "_ratio." in name \
            or name.endswith("fpr_observed") or name.endswith("probability"):
        return "ratio"
    return "count"


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 8.0


def prepare_env(run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: must be set
    before pyspark starts the gateway."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # a quarter of host RAM, at most 4 GiB: the library default (16g)
    # would overcommit a small host that has no swap
    mem_gb = max(1, min(4, int(host_memory_gb() // 4)))
    os.environ["MDBLOOM_DRIVER_MEM"] = f"{mem_gb}g"
    # Spark runs one task per core; native thread pools must not add more
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"


def start_spark(run_dir: str, threads: int, trace: bool):
    from mdbloom.spark.session import get_spark
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            "-XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false"})
    return get_spark("perfbench", master=f"local[{threads}]", extra=extra)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs: list) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def line(kind: str, name: str, value, unit: str, n: int) -> dict:
    return {"kind": kind, "name": name, "value": value, "unit": unit,
            "n": n}


AGGREGATES = ("hll", "kll", "cms", "tdigest")


def layer_of(sample: str) -> str | None:
    """Per-layer name of an operation's timed part (``op.<op>.<part>``)."""
    _, op, *part = sample.split(".")
    part = part[0] if part else None
    if op in AGGREGATES and part == "call":
        return f"aggregate.{op}_s"
    if op == "build" and part == "call":
        return "build.total_s"
    if op == "compact" and part:
        return f"build.{part}_s"
    if part in ("plan", "exec"):
        return f"query.{op}.{part}_s"
    if op == "novel" and part is None:
        return "query.novel_s"
    return None


def layer_rows(measured: dict, setup: dict, cycles: list) -> list[dict]:
    """Median of every per-layer sample, taken from the measured loop, or
    from set-up where the layer only ran there (the search index build)."""
    def renamed(samples: dict) -> dict:
        out = {}
        for name, xs in samples.items():
            layer = layer_of(name) if name.startswith("op.") else name
            if layer and layer.startswith(("build.", "query.", "storage.",
                                           "aggregate.")):
                out[layer] = xs
        return out

    measured, setup = renamed(measured), renamed(setup)
    rows = []
    for name in sorted(set(measured) | set(setup)):
        xs = measured.get(name) or setup.get(name)
        rows.append(line("per_layer", name, median(xs), unit_of(name),
                         len(xs)))
    for part in ("plan", "exec"):
        xs = [c[part] for c in cycles]
        rows.append(line("per_layer", f"query.{part}_s", median(xs), "s",
                         len(xs)))
    return rows


def spark_rows(run_dir: str, rec, measured_spans: list, n_cycles: int
               ) -> tuple[list[dict], bool]:
    """``spark.<op>.*`` per call and ``spark.*`` per cycle from the event
    log; the bool says every task in the log belongs to a tagged job."""
    from perfbench import eventlog
    parsed = eventlog.parse(eventlog.read_events(
        os.path.join(run_dir, "eventlog")))
    groups = {g for _, g, _, _ in measured_spans}
    ops = eventlog.per_op({**parsed, "groups": {
        g: v for g, v in parsed["groups"].items() if g in groups}},
        measured_spans)
    rows = []
    totals = dict.fromkeys(eventlog.FIELDS + ("driver_s",), 0.0)
    for op, acc in sorted(ops.items()):
        calls = max(1, acc["calls"])
        for field in eventlog.FIELDS + ("driver_s",):
            totals[field] += acc[field]
            name = f"spark.{op}.{field}"
            rows.append(line("per_layer", name, acc[field] / calls,
                             unit_of(name), acc["calls"]))
    for field, total in totals.items():
        name = f"spark.{field}"
        rows.append(line("per_layer", name, total / max(1, n_cycles),
                         unit_of(name), n_cycles))
    tagged = sum(v["tasks"] for g, v in parsed["groups"].items() if g)
    rows.append(line("per_layer", "spark.tasks_in_log",
                     parsed["tasks_in_log"], "count", 1))
    rows.append(line("per_layer", "spark.tasks_unattributed",
                     parsed["tasks_in_log"] - tagged, "count", 1))
    return rows, tagged == parsed["tasks_in_log"]


def run(args) -> dict:
    from perfbench.canary import canary
    threads = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    host = {f"host.{k}.start": v for k, v in canary(threads).items()}

    t_setup = time.perf_counter()
    from perfbench import workloads as W
    spark = start_spark(run_dir, threads, args.trace)
    try:
        rec = W.Recorder(spark.sparkContext if args.trace else None)
        rec.add("setup.session_s", time.perf_counter() - t_setup)
        rec.tag("setup")
        ctx = W.Ctx(spark, run_dir, args.seed, args.seconds, args.scale, rec)
        wl = W.WORKLOADS[args.workload]()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        setup_samples = rec.take_samples()
        first_measured_span = len(rec.spans)

        cycles = []
        t_loop = time.perf_counter()
        while wl.has_cycle(len(cycles)):
            busy, parts = rec.busy, dict(rec.part_totals)
            t0 = time.perf_counter()
            wl.cycle(ctx, len(cycles))
            wall = time.perf_counter() - t0
            cycles.append({"busy": rec.busy - busy, **{
                p: rec.part_totals[p] - parts.get(p, 0.0)
                for p in ("plan", "exec")}})
            elapsed = time.perf_counter() - t_loop
            if elapsed + wall / 2 >= args.seconds:
                break
        loop_s = time.perf_counter() - t_loop

        rows = [line("input", "input.turns", wl.turns, "turns", 1),
                line("input", "input.bytes", wl.input_bytes, "bytes", 1)]
        # the search index is built once, in set-up
        sizes = (rec.samples.get("index_bytes_per_turn")
                 or setup_samples["index_bytes_per_turn"])
        e2e = {"setup_s": [setup_s], "cycle_s": [c["busy"] for c in cycles],
               "index_bytes_per_turn": sizes}
        for name, xs in e2e.items():
            rows.append(line("end_to_end", name, median(xs),
                             END_TO_END[name], len(xs)))
        for name, m in wl.report(rec).items():
            rows.append(line("end_to_end", name, m["value"], m["unit"],
                             m["n"]))
        rows.append(line("end_to_end", "error_rate",
                         rec.failed / max(1, rec.attempted),
                         "failed/attempted", rec.attempted))
        rows.append(line("run", "loop_s", loop_s, "s", 1))
        rows += [line("setup", k, median(v), "s", len(v))
                 for k, v in sorted(setup_samples.items())
                 if k.startswith("setup.")]

        if args.trace:
            wl.trace_samples(rec)
            rows += layer_rows(rec.samples, setup_samples, cycles)
    finally:
        stop_spark(spark)
    host.update({f"host.{k}.end": v for k, v in canary(threads).items()})
    rows += [line("host", k, v, "GB/s" if "gbps" in k else "ms", 1)
             for k, v in host.items()]
    if args.trace:
        srows, attributed = spark_rows(run_dir, rec,
                                       rec.spans[first_measured_span:],
                                       len(cycles))
        rows += srows
        rec.attempted += 1
        if not attributed:
            rec.failed += 1
            rec.errors.append("trace: tasks in the event log belong to no "
                              "tagged job group")
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"rows": rows, "attempted": rec.attempted, "failed": rec.failed,
            "errors": rec.errors, "cycles": cycles}


def result_path(args, trace: int) -> str:
    return os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}"
                        f"-scale{args.scale:g}-trace{trace}.json")


def overhead_rows(rows: list[dict], args) -> list[dict]:
    """Traced minus untraced value of each end-to-end metric, against the
    untraced run of the same workload, seed and scale in this checkout,
    else the latest untraced run of that workload and scale (none is
    reported when there is no such run)."""
    path = result_path(args, 0)
    if not os.path.exists(path):
        others = glob.glob(os.path.join(
            WORK, "results", f"{args.workload}-seed*-scale{args.scale:g}"
            "-trace0.json"))
        if not others:
            return []
        path = max(others, key=os.path.getmtime)
    with open(path) as f:
        base = {r["name"]: r["value"] for r in json.load(f)["rows"]
                if r["kind"] == "end_to_end"}
    return [line("trace_overhead", f"trace_overhead.{r['name']}",
                 r["value"] - base[r["name"]], r["unit"], 1)
            for r in rows if r["kind"] == "end_to_end" and r["name"] in base]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "search"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the benchmark's (tests)")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mdbloom", "__init__.py")):
        print(f"perfbench: no mdbloom package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    out = run(args)
    rows = out["rows"]
    if args.trace:
        rows += overhead_rows(rows, args)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(result_path(args, args.trace), "w") as f:
        json.dump(out, f, indent=1)
    for err in out["errors"]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    for r in rows:
        print(json.dumps(r))
    by_name = {r["name"]: r for r in rows}
    wanted = PER_LAYER if args.trace else list(END_TO_END)
    missing = [k for k in wanted if k not in by_name]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    metrics = {k: {"value": by_name[k]["value"], "unit": by_name[k]["unit"]}
               for k in wanted}
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
