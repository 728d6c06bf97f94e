"""Benchmark entry point.

    python3 perfbench/run.py --workload {gdc_etl,query_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed (untimed), starts one Spark driver process (child.py) with
``local[N]``, N <= nproc (at most 4), samples the RSS of its whole process
tree from /proc, checks the outputs, prints a table of every metric by
name and unit, and as the last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones and writes the
spans plus a per-layer table to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 140  # leaves room for clean-up inside the 180 s a run may take
MAX_CORES = 4


def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least a share
    ``q`` of the values at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(round(q * len(s), 9)) - 1)]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat. The share of
    steal over a run is printed next to the metrics, never applied to
    them, to tell a busy host from a slow program."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def op_latency(workload: str, timed: list[dict], q: float) -> float:
    """Percentile ``q`` of one operation's latency. query_mix: over the
    executions. gdc_etl: the wall time of a batch whose every step takes
    its kind's percentile, so no percentile mixes unlike steps."""
    if workload == "query_mix":
        return percentile([o["t1"] - o["t0"] for o in timed], q)
    kinds: dict[str, list] = {}
    for o in timed:
        kinds.setdefault(o["kind"], []).append(o["t1"] - o["t0"])
    batches = len({o["batch"] for o in timed})
    return sum(len(v) / batches * percentile(v, q) for v in kinds.values())


class RssSampler(threading.Thread):
    """Peak of the summed RSS of a process and all its descendants. The
    process tree is rescanned once a second; RSS is read every 100 ms."""

    PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

    def __init__(self, pid: int, every_s: float = 0.1, rescan_s: float = 1.0):
        super().__init__(daemon=True)
        self.pid, self.every_s, self.rescan_s = pid, every_s, rescan_s
        self.peak_kb = 0
        self.stop_event = threading.Event()
        # every process ever seen in the tree: pid -> start time. PySpark's
        # worker daemon moves to its own process group, so stopping the
        # driver's group alone would not reach it.
        self.seen: dict[int, int] = {}
        self.peak_parts: dict[str, int] = {}

    def tree(self) -> list[int]:
        children: dict[int, list] = {}
        started: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                fields = proc_stat(int(d))
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(int(fields[1]), []).append(int(d))
            started[int(d)] = int(fields[19])
        pids, todo = [], [self.pid]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            if pid in started:
                self.seen[pid] = started[pid]
            todo += children.get(pid, [])
        return pids

    def rss_kb(self, pids: list[int]) -> dict[int, int]:
        rss = {}
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss[pid] = int(f.read().split()[1]) * self.PAGE_KB
            except (OSError, IndexError, ValueError):
                continue
        return rss

    def run(self) -> None:
        pids, scanned = [], 0.0
        while not self.stop_event.is_set():
            if time.monotonic() - scanned >= self.rescan_s:
                pids, scanned = self.tree(), time.monotonic()
            rss = self.rss_kb(pids)
            if sum(rss.values()) > self.peak_kb:
                self.peak_kb = sum(rss.values())
                self.peak_parts = {f"{pid}:{comm(pid)}": kb for pid, kb in rss.items()}
            self.stop_event.wait(self.every_s)


def proc_stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def alive(pid: int, started: int) -> bool:
    try:
        fields = proc_stat(pid)
    except (OSError, IndexError, ValueError):
        return False
    return int(fields[19]) == started and fields[0] != "Z"


def stop_seen(seen: dict[int, int]) -> None:
    """Terminate processes seen in the driver's tree that outlived its group."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [pid for pid, started in seen.items() if alive(pid, started)]
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5.0
        while time.time() < deadline and any(alive(p, seen[p]) for p in left):
            time.sleep(0.05)


def group_pids(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a process group."""
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                fields = proc_stat(int(d))
            except (OSError, IndexError, ValueError):
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(d))
    return pids


def stop_group(pgid: int) -> None:
    """Terminate every process of the child's group and wait until gone."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline and group_pids(pgid):
            time.sleep(0.05)


def generate(workload: str, seed: int, inputs: str) -> None:
    import gen

    if workload == "gdc_etl":
        gen.gen_gdc(inputs, seed)
    else:
        gen.gen_tables(inputs, seed)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["gdc_etl", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its Spark processes (finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "xena_gdc_etl_spark", "__init__.py")):
        print(f"perfbench: no xena_gdc_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    traces = os.path.join(base, "traces")
    for d in (inputs, out, traces, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    try:
        generate(args.workload, args.seed, inputs)
        return run_child(args, work, inputs, out, traces)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_child(args, work: str, inputs: str, out: str, traces: str) -> int:
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]
                                      + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": "1g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": shlex.quote(f"-Djava.io.tmpdir={tmp}") + " -XX:-UsePerfData",
        # no console progress bar; temp, warehouse and Derby files stay in
        # the run's scratch directory (no hsperfdata in /tmp either)
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--driver-java-options", shlex.quote(
                f"-Dderby.system.home={work} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    })
    result_path = os.path.join(work, "result.json")
    trace_path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--workload", args.workload,
           "--inputs", inputs, "--out", out, "--result", result_path, "--trace-file", trace_path,
           "--seconds", str(args.seconds), "--seed", str(args.seed), "--trace", str(args.trace)]
    log_path = os.path.join(work, "child.log")
    ticks0 = cpu_ticks()
    with open(log_path, "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("perfbench: driver process timed out", file=sys.stderr)
        finally:
            sampler.stop_event.set()
            sampler.join()
            sampler.tree()
            stop_group(proc.pid)
            proc.wait()
            stop_seen(sampler.seen)
    steal = [b - a for a, b in zip(ticks0, cpu_ticks())]
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: driver process failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)
    if "fatal" in res:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: run aborted: {res['fatal']}", file=sys.stderr)
        return 1

    import checks

    ops = res["ops"]
    checks.check(args.workload, inputs, ops)
    with open(os.path.join(os.path.dirname(traces), f"last-{args.workload}.json"), "w") as f:
        json.dump({**res, "peak_rss_kb_by_pid": sampler.peak_parts}, f)
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    for o in ops:
        if not o["ok"]:
            print(f"FAILED {o['kind']}: {o.get('error', '')}", file=sys.stderr)

    timed = [o for o in ops if not o.get("warm")]
    units = sum(o["units"] for o in timed) if args.workload == "gdc_etl" else len(timed)
    e2e = {
        "setup_s": (res["first_op_at"] - spawned - res["setup_excluded_s"], "s"),
        "throughput": (units / sum(o["t1"] - o["t0"] for o in timed), "1/s"),
        "op_p50_s": (op_latency(args.workload, timed, 0.5), "s"),
        "op_p90_s": (op_latency(args.workload, timed, 0.9), "s"),
        "peak_rss_mb": (sampler.peak_kb / 1024.0, "MB"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
    }
    unit = {"gdc_etl": "cells/s", "query_mix": "queries/s"}[args.workload]
    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  "
          f"operations {len(timed)} timed + {attempted - len(timed)} warm  failed {failed}")
    print(f"  host CPU steal {steal[0] / max(steal[1], 1):.1%} of CPU time (diagnostic only)")
    print(f"  {'throughput':<22} {e2e['throughput'][0]:14.4f} {unit}  "
          f"(= {RATE_NAMES[args.workload]})")
    for name, (v, u) in e2e.items():
        print(f"  {name:<22} {v:14.4f} {u}")
    print(f"  {'failed_ratio':<22} {failed / attempted:14.4f} ratio")
    kinds: dict[str, list] = {}
    for o in timed:
        kinds.setdefault(o.get("family", o["kind"]), []).append(o["t1"] - o["t0"])
    print("  per operation kind: " + ", ".join(
        f"{k} {len(v)}x p50 {statistics.median(v):.3f}s" for k, v in sorted(kinds.items())))
    if args.trace:
        metric_units = layer_metric_units()
        metrics = {k: {"value": float(v), "unit": metric_units[k]}
                   for k, v in layer_metrics(res).items()}
        print_layer_table(res, trace_path)
        for name, m in metrics.items():
            print(f"  {name:<44} {m['value']:16.6f} {m['unit']}")
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


RATE_NAMES = {"gdc_etl": "etl_cells_per_s", "query_mix": "queries per second"}

# Per-layer metrics a traced run of a BENCHMARK.json workload reports.
LAYERS = ("sources.download", "gdc2xena", "pipeline", "gdc_pipelines", "sources.xena_tsv",
          "operators.matrix", "operators.mapping", "workload")
SELF_ONLY = ("metadata", "catalog")
GENERIC = ("self_s", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s", "busy_share")
GENERIC_UNITS = {"self_s": "s", "tasks": "count", "shuffle_write_bytes": "bytes",
                 "spill_bytes": "bytes", "gc_s": "s", "busy_share": "ratio"}
SPECIFIC = {
    "session.start_s": "s",
    "sources.download.s": "s", "sources.download.files_per_s": "files/s",
    "gdc2xena.parse_s": "s", "gdc2xena.idle_share": "ratio",
    "pipeline.dataset_p50_s": "s", "pipeline.datasets": "count",
    "gdc_pipelines.transform_s": "s",
    "sources.xena_tsv.write_s": "s", "sources.xena_tsv.write_tasks": "count",
    "metadata.write_s": "s",
    "operators.matrix.merge_s": "s", "operators.matrix.equal_s": "s",
    "operators.mapping.postprocess_s": "s",
    "workload.build_s": "s", "workload.plan_share": "ratio", "workload.cached_scan_share": "ratio",
    **{f"query.{f}.p50_s": "s" for f in ("gdc", "relational", "dedup", "similarity", "text", "sampling")},
    "catalog.input_rows_per_result_row": "ratio",
    "trace.overhead_share": "ratio",
}
def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = dict(SPECIFIC)
    for layer in LAYERS:
        for g in GENERIC:
            units[f"{layer}.{g}"] = GENERIC_UNITS[g]
    for layer in SELF_ONLY:
        units[f"{layer}.self_s"] = "s"
    return units


def layer_metrics(res: dict) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never calls reads 0."""
    table, specific = res["layer_table"], res["layer_metrics"]
    out = {}
    for name in layer_metric_units():
        if name in specific:
            out[name] = specific[name]
        else:
            layer, g = name.rsplit(".", 1)
            out[name] = table.get(layer, {}).get(g, 0.0)
    return out


def print_layer_table(res: dict, trace_path: str) -> None:
    table = res["layer_table"]
    print(f"  spans written to {os.path.relpath(trace_path, ROOT)}")
    print(f"  {'layer':<24}{'calls':>7}{'total_s':>10}{'self_s':>10}{'tasks':>8}"
          f"{'shuffle_MB':>11}{'spill_MB':>10}{'gc_s':>8}{'busy':>7}")
    for layer, r in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"  {layer:<24}{r['calls']:>7}{r['total_s']:>10.3f}{r['self_s']:>10.3f}{r['tasks']:>8}"
              f"{r['shuffle_write_bytes'] / 2**20:>11.2f}{r['spill_bytes'] / 2**20:>10.2f}"
              f"{r['gc_s']:>8.3f}{r['busy_share']:>7.2f}")


if __name__ == "__main__":
    sys.exit(main())
