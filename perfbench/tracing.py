"""Benchmark-side tracing: spans around calls into the program's public
functions, with Spark's own stage counters attributed to each span.

Nothing in the program is edited. ``Tracer.install`` replaces each target
function, in every loaded ``xena_gdc_etl_spark`` module that holds it, by a
wrapper that opens a span; ``uninstall`` puts the originals back. Each
span sets the Spark job group to its id, so every job it submits is
attributed to it (the innermost span wins), and reads the app status store
when it ends — before the session's retention caps (100 stages, 2000
tasks) drop the records. Spans live in memory and are written once, by
``Tracer.dump``, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

COUNTERS = ("tasks", "run_s", "shuffle_write_bytes", "spill_bytes", "gc_s", "input_records")


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.active = False
        self._patches: list[tuple] = []
        self._persisted: list = []
        gw = self.sc._gateway
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        """Open a span; yields its record (callers may add fields)."""
        if not self.active:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "layer": layer, "name": name, "op": self.op,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", f"{layer}.{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(f"span-{self.stack[-1]}", "parent")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._read_counters(rec)

    def _read_counters(self, rec: dict) -> None:
        """Sum the status-store stage data of every job in this span's group."""
        c = dict.fromkeys(COUNTERS, 0)
        jobs, stages, missing = [], [], 0
        for job_id in self.sc.statusTracker().getJobIdsForGroup(f"span-{rec['id']}"):
            try:
                job = self._store.job(job_id)
            except Exception:  # noqa: BLE001 - evicted from the status store
                missing += 1
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                jobs.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            if job.status().toString() == "FAILED":
                rec["failed_jobs"] = rec.get("failed_jobs", 0) + 1
            ids = job.stageIds()
            for k in range(ids.size()):
                try:
                    attempts = self._store.stageData(
                        ids.apply(k), False, self._no_status, False, self._no_quantiles
                    )
                except Exception:  # noqa: BLE001 - evicted or never run
                    missing += 1
                    continue
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                    c["run_s"] += s.executorRunTime() / 1e3
                    c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    c["gc_s"] += s.jvmGcTime() / 1e3
                    c["input_records"] += s.inputRecords()
                    first, done = s.firstTaskLaunchedTime(), s.completionTime()
                    if first.isDefined() and done.isDefined():
                        stages.append((first.get().getTime() / 1e3, done.get().getTime() / 1e3))
        rec.update(c)
        rec["jobs"] = jobs
        rec["stages"] = stages
        rec["missing"] = missing

    # -- wrappers ------------------------------------------------------------
    def install(self, targets) -> None:
        """``targets``: (module, attribute, layer, materialize). A class
        method is named ``Class.method``. ``materialize`` persists and counts
        a returned DataFrame inside the span, so the span covers execution."""
        for modname, attr, layer, materialize in targets:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._patches.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(orig, layer, attr, materialize))
                continue
            orig = getattr(mod, attr)
            wrapper = self._wrap(orig, layer, attr, materialize)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "")
                if not name.startswith("xena_gdc_etl_spark"):
                    continue
                if m.__dict__.get(attr) is orig:
                    self._patches.append((m, attr, orig))
                    setattr(m, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _wrap(self, fn, layer: str, name: str, materialize: bool):
        from pyspark.sql import DataFrame

        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(layer, name) as rec:
                out = fn(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = out.persist()
                    rec["rows"] = out.count()
                    tracer._persisted.append(out)
            return out

        return wrapper

    def end_op(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# -- analysis ----------------------------------------------------------------

def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def layer_table(spans: list[dict], cores: int) -> dict[str, dict]:
    """Per layer: calls, total (outermost spans only), self time and the
    Spark counters of the jobs attributed to the layer's spans."""
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["layer"], {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                            **dict.fromkeys(COUNTERS, 0)})
        row["calls"] += 1
        row["self_s"] += selfs[s["id"]]
        p, nested = s["parent"], False
        while p is not None:
            if by_id[p]["layer"] == s["layer"]:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            row["total_s"] += s["end"] - s["start"]
        for k in COUNTERS:
            row[k] += s.get(k, 0)
    for row in table.values():
        # task time over the layer's own wall time x cores
        row["busy_share"] = row["run_s"] / (row["self_s"] * cores) if row["self_s"] > 0 else 0.0
    return table
