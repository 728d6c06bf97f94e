#!/usr/bin/env python
"""sf1 FULL-WORKLOAD scaling lane (round-9 task 8).

The 2× performance gate is defended at sf0.1, where half the rows are
sub-second noise; this lane measures how the MOST EXPENSIVE workload
queries scale to a 10× (sf1-equivalent) fixture and reports a per-query
scaling exponent: e = log(t_sf1 / t_sf0.1) / log(10). Linear scaling
(shuffle- and scan-bound plans) shows e ≈ 1; e > 1 flags a superlinear
stage that would not survive the next 100×.

Unlike scripts/sf1_stress.py (a deliberate WORST-CASE dedup fixture —
every doc ships with 9 near-copies), this fixture preserves the sf0.1
duplicate/neighbor structure so the scaling exponent measures plan
behavior, not output-cardinality blowup:

- documents: copy i>0 rewrites letters through a Caesar rotation of the
  alphabet by i (``translate``, bijective per copy) — within-copy
  duplicate/shingle structure replicates EXACTLY (equal docs stay equal,
  shingle multisets map 1:1), while cross-copy character shingles almost
  never coincide (a first attempt that suffixed tokens with "_i" left
  interior char-5-grams shared across copies, and LSH candidates grew
  47× instead of 10×).
- embeddings: copy i>0 rotates the coordinate ARRAY by i positions —
  cosine is invariant under a shared permutation, so intra-copy
  neighbor sets replicate exactly, while cross-copy cosines collapse
  toward 0 (a first attempt that shifted one coordinate by 0.37·i left
  copies above the τ=0.3 workload threshold and the pair count exploded
  17,000×, swamping the runtime exponent with output growth).
- lineitem/orders/customer/supplier/part/events: keys offset by
  i·STRIDE so per-key group sizes and join fan-outs stay constant
  (the TPC-H scaling model: more keys, not denser keys).
- region/nation: fixed dims, copied as-is.

Run: python scripts/sf1_workload.py [sf_dir] [work_dir] [q1 q2 ...]
Prints one JSON line per query plus a final summary table (also written
to sf1_workload.json next to this script).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

COPIES = 10
STRIDE = 10_000_000

# Default lane: the most expensive rows of the §r9 gate table (queries
# only — the shared warm stages are timed separately per sf_dir below).
DEFAULT_QUERIES = [
    "rolling_avg_sharded",
    "containment_pairs",
    "ngram_jaccard",
    "dup_spans",
    "bigram_lm_score",
    "ann_ivf_pq",
    "simhash_pairs",
    "contamination",
    "postprocess_dedup",
    "vocab_overlap",
    # round-10 additions (the heavier of the new queries)
    "kmeans_round",
    "bm25_topk",
    "prefix_dup",
]


_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _caesar(i: int) -> tuple[str, str]:
    rot = _ALPHA[i:] + _ALPHA[:i]
    return (_ALPHA + _ALPHA.upper(), rot + rot.upper())


TS_SHIFT_DAYS = 3650  # > both fixtures' spans (events 30d, TPC-H ~7y)


def _replicate(
    df,
    id_shifts: dict,
    text_rotate_col: str | None = None,
    ts_shifts: set | None = None,
):
    """COPIES stacked copies; integer key columns in ``id_shifts`` get
    +i·STRIDE; ``text_rotate_col`` (if set) goes through a per-copy
    Caesar alphabet rotation (bijective → within-copy structure exact,
    cross-copy shingles disjoint up to digits/punctuation); timestamp
    columns in ``ts_shifts`` get +i·TS_SHIFT_DAYS days — same role as
    the key stride, but for TIME-keyed joins: without it the range
    join's date-bin buckets collide across copies and candidate pairs
    grow ×COPIES² (output blowup), with it each copy's windows are
    disjoint and fan-out replicates exactly (×COPIES). Per-key temporal
    structure (as-of carry, session gaps, cohort offsets) is invariant
    under a constant per-copy shift."""
    # The per-copy caesar rotation is only bijective across copies while
    # COPIES <= 26: copy 26 would wrap to rotation 1 and its shingles
    # would collide with copy 1's, silently re-introducing the cross-copy
    # candidate blowup the fixture was tuned to avoid. Enforce the
    # invariant instead of assuming it (round-9 advisor finding).
    assert COPIES <= 26, (
        f"COPIES={COPIES} > 26: caesar rotations wrap and cross-copy "
        "shingles collide — pick a bijective per-copy substitution first"
    )
    parts = []
    for i in range(COPIES):
        sel = []
        for c in df.columns:
            col = F.col(c)
            if c in id_shifts:
                col = (col + F.lit(i * STRIDE)).alias(c)
            elif ts_shifts and c in ts_shifts and i > 0:
                col = (
                    col + F.expr(f"INTERVAL {i * TS_SHIFT_DAYS} DAYS")
                ).alias(c)
            elif c == text_rotate_col and i > 0:
                src, dst = _caesar(i % 26 or 1)
                col = F.translate(c, src, dst).alias(c)
            else:
                col = col.alias(c)
            sel.append(col)
        parts.append(df.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_fixture(spark, sf_dir: str, work_dir: str) -> None:
    from xena_gdc_etl_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    plans = {
        "region": cat.region,
        "nation": cat.nation,
        "customer": _replicate(cat.customer, {"c_custkey"}),
        "supplier": _replicate(cat.supplier, {"s_suppkey"}),
        "part": _replicate(cat.part, {"p_partkey"}),
        "orders": _replicate(
            cat.orders, {"o_orderkey", "o_custkey"},
            ts_shifts={"o_orderdate"},
        ),
        "lineitem": _replicate(
            cat.lineitem, {"l_orderkey", "l_partkey", "l_suppkey"},
            ts_shifts={"l_shipdate"},
        ),
        "events": _replicate(
            cat.events, {"event_id", "user_id"}, ts_shifts={"ts"}
        ),
        "documents": _replicate(
            cat.documents, {"doc_id"}, text_rotate_col="text"
        ).withColumn("n_chars", F.length("text").cast("long")),
        "embeddings": None,  # built below (array rotation)
    }
    emb_parts = []
    for i in range(COPIES):
        if i == 0:
            emb_i = cat.embeddings.select(
                F.col("vec_id").alias("vec_id"), "embedding", "label"
            )
        else:
            # rotate the coordinate array by i: cosine-invariant within
            # the copy, ~orthogonal across copies
            emb_i = cat.embeddings.select(
                (F.col("vec_id") + F.lit(i * STRIDE)).alias("vec_id"),
                F.concat(
                    F.slice(
                        "embedding",
                        i + 1,
                        F.size("embedding") - F.lit(i),
                    ).cast("array<float>"),
                    F.slice("embedding", 1, i).cast("array<float>"),
                ).alias("embedding"),
                "label",
            )
        emb_parts.append(emb_i)
    emb = emb_parts[0]
    for p in emb_parts[1:]:
        emb = emb.unionByName(p)
    plans["embeddings"] = emb
    for name, df in plans.items():
        path = os.path.join(work_dir, f"{name}.parquet")
        n_out = 32 if name in ("lineitem", "orders", "events",
                               "documents", "embeddings") else 1
        df.repartition(n_out).write.mode("overwrite").parquet(path)


def _warm_shared(spark, sf_dir: str, timings: dict) -> None:
    from xena_gdc_etl_spark import workload as wl

    for label, fn in wl.SHARED_TIERS.items():
        start = time.perf_counter()
        fn(spark, sf_dir).count()
        timings[label] = round(time.perf_counter() - start, 3)


def main() -> None:
    from xena_gdc_etl_spark.session import get_spark
    from xena_gdc_etl_spark.workload import QUERIES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_workload"
    names = sys.argv[3:] or DEFAULT_QUERIES
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    os.makedirs(work, exist_ok=True)

    spark = get_spark(
        app_name="sf1-workload", master="local[32]", shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    build_fixture(spark, sf_dir, work)
    print(json.dumps({"stage": "build_fixture",
                      "sec": round(time.perf_counter() - t0, 2)}))

    def consume(df) -> int:
        # the bench's full-row hash consumer: Catalyst can't prune
        h = F.xxhash64(*[F.col(c) for c in df.columns])
        row = df.select(h.alias("__h")).agg(
            F.count("__h").alias("n"), F.bit_xor("__h")
        ).collect()[0]
        return row["n"]

    results: dict[str, dict] = {}
    for scale, d in (("sf0.1", sf_dir), ("sf1", work)):
        warm: dict[str, float] = {}
        _warm_shared(spark, d, warm)
        print(json.dumps({"scale": scale, "shared_warms": warm}))
        for label, sec in warm.items():
            results.setdefault(label, {})[scale] = sec
        for name in names:
            best, n = float("inf"), -1
            for _ in range(2):
                start = time.perf_counter()
                n = consume(QUERIES[name](spark, d))
                best = min(best, time.perf_counter() - start)
            results.setdefault(name, {})[scale] = round(best, 3)
            results[name][f"rows_{scale}"] = n
            print(json.dumps({"scale": scale, "query": name,
                              "sec": results[name][scale], "rows": n}))

    for name, r in results.items():
        if "sf0.1" in r and "sf1" in r and r["sf0.1"] > 0:
            ratio = r["sf1"] / r["sf0.1"]
            r["ratio"] = round(ratio, 2)
            r["exponent"] = round(math.log(max(ratio, 1e-9)) / math.log(10), 2)

    out = {"metric": "sf1_workload", "copies": COPIES, "results": results}
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "sf1_workload.json"
    )
    # MERGE into the existing record: a subset run (e.g. just the queries
    # added this round) must not clobber the rows from earlier full runs
    try:
        with open(path) as fh:
            prior = json.load(fh)
        merged = dict(prior.get("results", {}))
    except (OSError, ValueError):
        merged = {}
    merged.update(results)
    with open(path, "w") as fh:
        json.dump(
            {"metric": "sf1_workload", "copies": COPIES, "results": merged},
            fh,
            indent=1,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
