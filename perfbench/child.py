"""The Spark driver process of one benchmark run.

``run.py`` generates the inputs, then starts this script with the
environment the program needs (PYTHONPATH, SPARK_GRAFT_CPUS,
SPARK_LOCAL_DIRS). It boots a session, runs the workload's set-up, runs
the closed loop for ``--seconds`` and writes one JSON result file. Every
operation is timed from outside, by calling the program's public
functions; with ``--trace 1`` the calls also record spans (tracing.py).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

MIN_QUERIES = 100  # query_mix: p90 keeps >= 10 samples beyond it
# query_mix: untimed rounds of every query before timing. After one round
# the driver JVM is still compiling: the first timed queries ran 1.3-1.8x
# their run's median and levelled off only after a few dozen executions.
WARM_ROUNDS = 5


def _err(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}"[:400]


class Op:
    """One closed-loop operation, timed around the call."""

    def __init__(self, runner, kind: str, traced: bool, **info):
        self.runner, self.rec = runner, {"kind": kind, "traced": traced, "ok": True, "units": 0, **info}

    def __enter__(self):
        self.runner.tracer.active = self.rec["traced"]
        self.runner.tracer.op = len(self.runner.ops)
        self.rec["t0"] = time.time()
        self.span = self.runner.tracer.span("op", self.rec["kind"])
        self.span.__enter__()
        return self.rec

    def __exit__(self, et, ev, tb):
        self.span.__exit__(None, None, None)
        self.rec["t1"] = time.time()
        self.runner.tracer.end_op()
        self.runner.tracer.active = False
        if ev is not None:
            self.rec["ok"] = False
            self.rec["error"] = _err(ev)
            self.runner.log("".join(traceback.format_exception(et, ev, tb)))
        self.runner.ops.append(self.rec)
        return ev is None or isinstance(ev, Exception)


class Runner:
    targets: list = []

    def __init__(self, spark, args, cores: int, tracer):
        self.spark, self.args, self.cores, self.tracer = spark, args, cores, tracer
        self.inputs, self.out = args.inputs, args.out
        self.ops: list[dict] = []
        self.setup_excluded_s = 0.0

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def traced(self, i: int) -> bool:
        # trace runs alternate traced and untraced operations, so their
        # difference is the tracing overhead; op 0 is never traced
        return bool(self.args.trace) and i % 2 == 1

    def finish(self) -> None:
        for i, op in enumerate(self.ops):
            op["op_index"] = i


def overhead_share(samples) -> float:
    """(median traced - median untraced) / median untraced, over
    (traced, value) samples; 0 when either side has none."""
    samples = list(samples)
    t = [v for traced, v in samples if traced]
    u = [v for traced, v in samples if not traced]
    if not t or not u:
        return 0.0
    return (statistics.median(t) - statistics.median(u)) / statistics.median(u)


# ---------------------------------------------------------------------------
# gdc_etl
# ---------------------------------------------------------------------------

def local_fetcher(src_dir: str):
    """Serve landed files from ``src_dir`` as if downloaded (uuid.tsv)."""

    def fetch(url: str):
        uuid = url.rstrip("/").rsplit("/", 1)[-1]
        path = os.path.join(src_dir, uuid + ".tsv")

        def chunks():
            with open(path, "rb") as f:
                while True:
                    b = f.read(1 << 16)
                    if not b:
                        return
                    yield b

        return uuid + ".tsv", chunks()

    return fetch


class GdcEtl(Runner):
    DTYPES = ["segment_cnv_DNAcopy", "somaticmutation_wxs", "GDC_phenotype", "survival"]
    targets = [
        ("xena_gdc_etl_spark.sources.download", "download_files", "sources.download", False),
        ("xena_gdc_etl_spark.gdc2xena", "read_landed_matrix", "gdc2xena", True),
        ("xena_gdc_etl_spark.gdc2xena", "gdc2xena", "gdc2xena", False),
        ("xena_gdc_etl_spark.pipeline", "XenaDatasetSpark.export", "pipeline", False),
        ("xena_gdc_etl_spark.pipeline", "GDCPhenosetSpark.export", "pipeline", False),
        ("xena_gdc_etl_spark.pipeline", "GDCSurvivalsetSpark.export", "pipeline", False),
        ("xena_gdc_etl_spark.gdc_pipelines", "transform_matrix_dtype", "gdc_pipelines", True),
        ("xena_gdc_etl_spark.gdc_pipelines", "transform_segment_dtype", "gdc_pipelines", True),
        ("xena_gdc_etl_spark.gdc_pipelines", "transform_maf_dtype", "gdc_pipelines", True),
        ("xena_gdc_etl_spark.sources.xena_tsv", "write_xena_tsv", "sources.xena_tsv", False),
        ("xena_gdc_etl_spark.sources.xena_tsv", "read_xena_tsv", "sources.xena_tsv", True),
        ("xena_gdc_etl_spark.metadata", "build_metadata", "metadata", False),
        ("xena_gdc_etl_spark.metadata", "write_metadata", "metadata", False),
        ("xena_gdc_etl_spark.operators.matrix", "union_matrices", "operators.matrix", True),
        ("xena_gdc_etl_spark.operators.matrix", "matrix_equal", "operators.matrix", True),
        ("xena_gdc_etl_spark.operators.mapping", "postprocess_rename_dedup", "operators.mapping", True),
    ]

    def setup(self) -> None:
        with open(os.path.join(self.inputs, "cohort.json")) as f:
            self.cohort = json.load(f)
        self.spark.range(1).count()

    def run(self, seconds: float) -> None:
        # One batch: a fresh session imports the cohort once, as the
        # etl / merge-xena / xena-eql / postprocess commands do, and pays
        # codegen/JIT on the way. Trace runs add a traced and an untraced
        # warm batch; their difference is the tracing overhead.
        t_start, b = time.time(), 0
        while b < (3 if self.args.trace else 1) or time.time() - t_start < seconds:
            self.batch(b, self.traced(b))
            b += 1

    def batch(self, b: int, traced: bool) -> None:
        from xena_gdc_etl_spark.gdc2xena import default_sources, gdc2xena, read_landed_matrix
        from xena_gdc_etl_spark.metadata import build_metadata, write_metadata
        from xena_gdc_etl_spark.operators.mapping import postprocess_rename_dedup
        from xena_gdc_etl_spark.operators.matrix import matrix_equal, union_matrices
        from xena_gdc_etl_spark.pipeline import XenaDatasetSpark
        from xena_gdc_etl_spark.sources.download import download_files
        from xena_gdc_etl_spark.sources.xena_tsv import read_xena_tsv, write_xena_tsv

        spark, root = self.spark, os.path.join(self.out, f"batch_{b}")
        src = os.path.join(self.inputs, "src")
        resolve = default_sources(os.path.join(self.inputs, "batch"))
        projects = self.cohort["projects"]
        star_paths = {}
        for p in projects:
            with Op(self, "download", traced, batch=b, project=p) as rec:
                manifest = spark.read.parquet(os.path.join(self.inputs, "manifests", f"{p}.parquet"))
                status = download_files(
                    manifest, os.path.join(root, p, "landed"), md5_col="md5",
                    fetcher=local_fetcher(src),
                )
            if not rec["ok"]:
                continue
            # output check (untimed): every manifest file landed with md5_ok
            rows = status.select("md5_ok", "error").collect()
            rec["files"] = len(rows)
            if len(rows) != manifest.count() or not all(r.md5_ok and r.error is None for r in rows):
                rec["ok"], rec["error"] = False, "download: missing file or md5 mismatch"
            with Op(self, "star_counts", traced, batch=b, project=p,
                    units=self.cohort["star_cells"][p]) as rec:
                ds = XenaDatasetSpark(projects=p, xena_dtype="star_counts", root_dir=root)
                long = read_landed_matrix(spark, manifest, status, "gene_id", "unstranded")
                star_paths[p] = ds.export(ds.transform(long))
                rec["outputs"] = [star_paths[p]]
            with Op(self, "gdc2xena", traced, batch=b, project=p,
                    units=self.cohort["pheno_cells"][p]) as rec:
                res = gdc2xena(spark, root, [p], self.DTYPES, sources=resolve)
                rec["outputs"] = [r.path for r in res if r.path]
                bad = [f"{r.dtype}: {r.error}" for r in res if r.status != "done"]
                if bad:
                    rec["ok"], rec["error"] = False, "; ".join(bad)[:400]
        merged = os.path.join(root, "merged", "star_counts.tsv")
        n_cells = sum(self.cohort["star_cells"].values())
        # merge-xena: the per-project matrices, read back from disk, stacked
        with Op(self, "merge", traced, batch=b, units=n_cells) as rec:
            union = union_matrices([read_xena_tsv(spark, star_paths[p]) for p in projects])
            write_xena_tsv(union, merged)
            write_metadata(build_metadata(projects, "star_counts", merged), merged)
            rec["outputs"] = [merged]
        # xena-eql: the merged file against the stacked inputs
        with Op(self, "equal", traced, batch=b) as rec:
            res = matrix_equal(read_xena_tsv(spark, merged), union, ["sample", "feature"],
                               tol=1e-9).collect()[0]
            if res["mismatched_rows"] != 0:
                rec["ok"], rec["error"] = False, f"xena-eql: {res['mismatched_rows']} mismatched rows"
        post = os.path.join(root, "merged", "star_counts.postprocessed.tsv")
        with Op(self, "postprocess", traced, batch=b, units=n_cells) as rec:
            s2c = spark.read.parquet(os.path.join(self.inputs, "manifests", "sample_to_case.parquet"))
            write_xena_tsv(postprocess_rename_dedup(union, "star_counts", s2c), post)
            write_metadata(build_metadata(projects, "star_counts", post), post)
            rec["outputs"] = [post]

    def layer_metrics(self, table: dict, spans: list) -> dict:
        from tracing import union_length

        m = {}
        dl = [s for s in spans if s["layer"] == "sources.download"]
        dl_s = sum(s["end"] - s["start"] for s in dl)
        files = sum(o.get("files", 0) for o in self.ops if o["kind"] == "download" and o["traced"])
        m["sources.download.s"] = dl_s
        m["sources.download.files_per_s"] = files / dl_s if dl_s else 0.0
        m["gdc2xena.parse_s"] = _total(spans, "read_landed_matrix")
        busy, wall = 0.0, 0.0
        for op in self.ops:
            if not op["traced"]:
                continue
            own = [iv for s in spans if s["op"] == op["op_index"] for iv in s["stages"]]
            wall += op["t1"] - op["t0"]
            busy += union_length(own, op["t0"], op["t1"])
        m["gdc2xena.idle_share"] = 1.0 - busy / wall if wall else 0.0
        ds = [s["end"] - s["start"] for s in spans if s["layer"] == "pipeline"]
        m["pipeline.dataset_p50_s"] = statistics.median(ds) if ds else 0.0
        m["pipeline.datasets"] = len(ds)
        m["gdc_pipelines.transform_s"] = table.get("gdc_pipelines", {}).get("total_s", 0.0)
        m["sources.xena_tsv.write_s"] = _total(spans, "write_xena_tsv")
        m["sources.xena_tsv.write_tasks"] = sum(
            s["tasks"] for s in spans if s["name"] == "write_xena_tsv")
        m["metadata.write_s"] = table.get("metadata", {}).get("total_s", 0.0)
        m["operators.matrix.merge_s"] = _total(spans, "union_matrices")
        m["operators.matrix.equal_s"] = _total(spans, "matrix_equal")
        m["operators.mapping.postprocess_s"] = _total(spans, "postprocess_rename_dedup")
        # batch 0 pays codegen/JIT, so it is left out of the comparison
        batches: dict = {}
        for op in self.ops:
            batches.setdefault(op["batch"], []).append(op)
        m["trace.overhead_share"] = overhead_share(
            (ops[0]["traced"], ops[-1]["t1"] - ops[0]["t0"]) for b, ops in batches.items() if b > 0)
        return m


def _total(spans: list, name: str) -> float:
    """Inclusive time of the outermost spans of one wrapped function."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

# family -> its query. Every family gets the same share of executions:
# there is no traffic record for this system to weight them by. A family
# whose queries read session caches (workload._shared_*) runs the first
# registered reader of its deepest cache, so the whole cache chain is
# exercised; gdc and relational read none and run their first registered
# query.
FAMILIES = {
    "gdc": "search_filter",
    "relational": "q1_pricing_summary",
    "dedup": "minhash_lsh_pairs",  # _shared_lsh_pairs <- _shared_signatures
    "similarity": "embed_cosine_dup",  # _shared_dup_pairs <- _shared_ivf_assigned
    "text": "vocab_topk",  # _shared_doc_tf
    "sampling": "sequence_pack",  # _shared_pack_layout
}
TABLES = ("region nation customer supplier part orders lineitem events documents embeddings").split()


def canonical_hash(pdf) -> str:
    """Order-insensitive hash of a pandas frame (columns by name, rows
    sorted, floats at 9 significant digits)."""
    import hashlib

    pdf = pdf.rename(columns=str.lower)
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def cell(v) -> str:
        if v is None:
            return "None"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in row) for row in pdf.itertuples(index=False))
    h = hashlib.sha256("\x1e".join(pdf.columns).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return f"{len(rows)}:{h.hexdigest()}"


class QueryMix(Runner):
    targets = [
        ("xena_gdc_etl_spark.workload", "_shared_signatures", "workload", False),
        ("xena_gdc_etl_spark.workload", "_shared_lsh_pairs", "workload", False),
        ("xena_gdc_etl_spark.workload", "_shared_ivf_assigned", "workload", False),
        ("xena_gdc_etl_spark.workload", "_shared_dup_pairs", "workload", False),
        ("xena_gdc_etl_spark.workload", "_shared_doc_tf", "workload", False),
        ("xena_gdc_etl_spark.workload", "_shared_pack_layout", "workload", False),
        ("xena_gdc_etl_spark.catalog", "Catalog.table", "catalog", False),
    ]

    def setup(self) -> None:
        import duckdb

        from xena_gdc_etl_spark.workload import ORACLES, QUERIES

        self.fns = QUERIES
        self.warm_hash: dict[str, tuple] = {}
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.inputs}/{t}.parquet')")
        for fam, name in FAMILIES.items():
            with Op(self, name, False, family=fam, warm=True) as rec:
                self.warm_hash[name] = self.consume(QUERIES[name](self.spark, self.inputs))[0]
            # oracle check: outside set-up time
            t0 = time.time()
            try:
                got = canonical_hash(QUERIES[name](self.spark, self.inputs).toPandas())
                want = canonical_hash(con.execute(ORACLES[name]).fetchdf())
                if got != want:
                    rec["ok"], rec["error"] = False, f"oracle mismatch {got[:24]} != {want[:24]}"
            except Exception as exc:  # noqa: BLE001 - a failed check is a failed op
                rec["ok"], rec["error"] = False, "oracle: " + _err(exc)
            self.setup_excluded_s += time.time() - t0
        con.close()
        for _ in range(WARM_ROUNDS - 1):
            for fam, name in FAMILIES.items():
                with Op(self, name, False, family=fam, warm=True) as rec:
                    if self.consume(QUERIES[name](self.spark, self.inputs))[0] != self.warm_hash[name]:
                        rec["ok"], rec["error"] = False, "result hash differs between warm rounds"

    def consume(self, df):
        """Full-row hash folded to one row, as the repo's bench consumes."""
        from pyspark.sql import functions as F

        h = F.xxhash64(*[F.col(c) for c in df.columns])
        c = df.select(h.alias("__h")).agg(F.count("__h").alias("n"), F.bit_xor("__h").alias("x"))
        row = c.collect()[0]
        return (row["n"], row["x"]), c

    def sequence(self):
        """Blocks of one execution per family, each block in a seeded order."""
        block = list(FAMILIES.items())
        rng = random.Random(self.args.seed)
        while True:
            rng.shuffle(block)
            yield from block

    def run(self, seconds: float) -> None:
        t_start, i = time.time(), 0
        seq = self.sequence()
        # whole blocks only, so every family has the same number of executions
        while i < MIN_QUERIES or time.time() - t_start < seconds or i % len(FAMILIES):
            fam, name = next(seq)
            traced, h = self.traced(i), None
            with Op(self, name, traced, family=fam) as rec:
                with self.tracer.span("workload", "build"):
                    df = self.fns[name](self.spark, self.inputs)
                with self.tracer.span("workload", "execute") as sp:
                    h, c = self.consume(df)
                    sp["result_rows"] = h[0]
            if rec["ok"] and h != self.warm_hash.get(name):
                rec["ok"], rec["error"] = False, "result hash differs from the warm pass"
            if traced:
                rec["cached_scan"] = "InMemoryTableScan" in c._jdf.queryExecution().executedPlan().toString()
            i += 1

    def layer_metrics(self, table: dict, spans: list) -> dict:
        from tracing import union_length

        timed = [o for o in self.ops if not o.get("warm")]
        traced = [o for o in timed if o["traced"]]
        m = {}
        builds = [s for s in spans if s["layer"] == "workload" and s["name"] == "build"]
        m["workload.build_s"] = statistics.median(s["end"] - s["start"] for s in builds) if builds else 0.0
        shares = []
        for o in traced:
            own = [iv for s in spans if s["op"] == o["op_index"] for iv in s["jobs"]]
            wall = o["t1"] - o["t0"]
            shares.append(1.0 - union_length(own, o["t0"], o["t1"]) / wall)
        m["workload.plan_share"] = statistics.median(shares) if shares else 0.0
        m["workload.cached_scan_share"] = (
            sum(1 for o in traced if o.get("cached_scan")) / len(traced) if traced else 0.0)
        for fam in FAMILIES:
            lat = [o["t1"] - o["t0"] for o in traced if o["family"] == fam]
            m[f"query.{fam}.p50_s"] = statistics.median(lat) if lat else 0.0
        execs = [s for s in spans if s["layer"] == "workload" and s["name"] == "execute"]
        in_rows = sum(s["input_records"] for s in spans if s["op"] is not None
                      and s["op"] in {o["op_index"] for o in traced})
        out_rows = sum(s.get("result_rows", 0) for s in execs)
        m["catalog.input_rows_per_result_row"] = in_rows / out_rows if out_rows else 0.0
        m["trace.overhead_share"] = overhead_share((o["traced"], o["t1"] - o["t0"]) for o in timed)
        return m


WORKLOADS = {"gdc_etl": GdcEtl, "query_mix": QueryMix}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-file", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from tracing import Tracer, layer_table

    from xena_gdc_etl_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    session_start_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, cores)
    runner = WORKLOADS[args.workload](spark, args, cores, tracer)
    result = {"session_start_s": session_start_s}
    try:
        if args.trace:
            tracer.install(runner.targets)
        runner.setup()
        result["first_op_at"] = time.time()
        result["setup_excluded_s"] = runner.setup_excluded_s
        runner.run(args.seconds)
        result["loop_end_at"] = time.time()
        tracer.uninstall()
        tracer.active = False
        runner.finish()
        if args.trace:
            table = layer_table(tracer.spans, cores)
            metrics = runner.layer_metrics(table, tracer.spans)
            metrics["session.start_s"] = session_start_s
            result["layer_table"] = table
            result["layer_metrics"] = metrics
            tracer.dump(args.trace_file, {"workload": args.workload, "seed": args.seed,
                                          "layer_table": table, "layer_metrics": metrics})
    except Exception as exc:  # noqa: BLE001 - reported as a failed run
        traceback.print_exc()
        result["fatal"] = _err(exc)
    result["ops"] = runner.ops
    with open(args.result, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
