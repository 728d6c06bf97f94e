"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` plus the parameters in
``PARAMS``: the same seed writes byte-identical inputs. The program under
test only ever sees the files written here; generation runs before the
Spark process starts and is excluded from every timing.

PARAMS records each parameter next to the reason it was chosen (also
rendered in ``README.md``).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARAMS = {
    "gdc_etl": {
        "projects": (2, "two projects: the per-project loop and the cross-project merge both run"),
        "samples_per_project": (10, "10 samples (~12 landed files) per project"),
        "replicate_share": (0.25, "a quarter of samples have a second file, so repeat averaging across files runs"),
        "genes": (1500, "1500 features x 10 samples per wide TSV: each write is one coalesce(1) task"),
        "repeated_genes_per_file": (40, "features listed twice in a file exercise repeat averaging"),
        "segments_per_sample": (30, "segment-CNV rows per sample (row-stacked dtype)"),
        "mutations_per_sample": (25, "MAF rows per sample (VAF + barcode trim)"),
        "cases_share": (0.75, "samples per case > 1, so postprocess rename collides and dedups"),
    },
    "query_mix": {
        "scale": (0.005, "sf0.005-sized TPC-H-ish tables + events/documents/embeddings: queries are planning-bound"),
    },
}


def _md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# gdc_etl: a landed GDC cohort
# ---------------------------------------------------------------------------

STAR_SUMMARY_ROWS = ("N_unmapped", "N_multimapping", "N_noFeature", "N_ambiguous")


def gen_gdc(root: str, seed: int) -> dict:
    """Write a synthetic multi-project cohort under ``root``.

    Layout:
      src/<uuid>.tsv                   per-file STAR count tables (the "server")
      manifests/<project>.parquet      uuid, sample, md5
      batch/<project>/Raw_Data/...     segment / MAF / clinical / biospecimen /
                                       survival / case_samples parquet
    Returns a description (projects, file counts, input cell counts).
    """
    rng = np.random.default_rng(seed)
    p = PARAMS["gdc_etl"]
    n_proj = p["projects"][0]
    n_samp = p["samples_per_project"][0]
    n_genes = p["genes"][0]
    n_rep = p["repeated_genes_per_file"][0]
    genes = [f"ENSG{100000 + i:011d}.{1 + i % 9}" for i in range(n_genes)]
    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)
    os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
    desc = {"projects": [], "files": 0, "star_cells": {}, "pheno_cells": {}}
    sample_case: list = []
    for pi in range(n_proj):
        project = f"TCGA-B{pi:02d}"
        desc["projects"].append(project)
        n_cases = max(2, int(n_samp * p["cases_share"][0]))
        samples = [
            f"{project}-{s:04d}-01A" if s < n_cases else f"{project}-{s - n_cases:04d}-11A"
            for s in range(n_samp)
        ]
        cases = [s[: len(project) + 5] for s in samples]
        sample_case += list(zip(samples, cases))
        man_rows = []
        cells = 0
        # a fixed number of samples (chosen by the seed) have a second file,
        # so every seed lands the same number of files and cells
        replicated = set(rng.choice(n_samp, size=round(n_samp * p["replicate_share"][0]), replace=False))
        for si, sample in enumerate(samples):
            n_files = 2 if si in replicated else 1
            base = rng.gamma(1.5, 80.0, size=n_genes)
            for fi in range(n_files):
                uuid = hashlib.md5(f"{seed}:{project}:{sample}:{fi}".encode()).hexdigest()
                uuid = f"{uuid[:8]}-{uuid[8:12]}-{uuid[12:16]}-{uuid[16:20]}-{uuid[20:32]}"
                counts = rng.poisson(base).astype(np.int64)
                rep = rng.choice(n_genes, size=n_rep, replace=False)
                rep_counts = rng.poisson(base[rep]).astype(np.int64)
                summary = rng.integers(10_000, 2_000_000, size=4)
                lines = ["gene_id\tgene_name\tunstranded"]
                lines += [f"{s}\t\t{v}" for s, v in zip(STAR_SUMMARY_ROWS, summary)]
                lines += [f"{g}\tG{i}\t{v}" for i, (g, v) in enumerate(zip(genes, counts))]
                lines += [f"{genes[j]}\tG{j}\t{v}" for j, v in zip(rep, rep_counts)]
                path = os.path.join(src, f"{uuid}.tsv")
                with open(path, "w") as f:
                    f.write("\n".join(lines) + "\n")
                man_rows.append((uuid, sample, _md5(path)))
                cells += len(lines) - 1
        desc["files"] += len(man_rows)
        desc["star_cells"][project] = cells
        pq.write_table(
            pa.table({k: [r[i] for r in man_rows] for i, k in enumerate(["uuid", "sample", "md5"])}),
            os.path.join(root, "manifests", f"{project}.parquet"),
        )
        raw = os.path.join(root, "batch", project, "Raw_Data")
        os.makedirs(raw, exist_ok=True)
        desc["pheno_cells"][project] = _gen_gdc_tables(rng, raw, project, samples, cases)
    pq.write_table(
        pa.table({"sample": [s for s, _ in sample_case], "case": [c for _, c in sample_case]}),
        os.path.join(root, "manifests", "sample_to_case.parquet"),
    )
    with open(os.path.join(root, "cohort.json"), "w") as f:
        json.dump(desc, f, indent=1, sort_keys=True)
    return desc


def _gen_gdc_tables(rng, raw: str, project: str, samples: list, cases: list) -> int:
    p = PARAMS["gdc_etl"]
    cells = 0

    def write(name: str, table: pa.Table) -> None:
        nonlocal cells
        cells += table.num_rows * table.num_columns
        pq.write_table(table, os.path.join(raw, f"{name}.parquet"))

    n_seg = p["segments_per_sample"][0]
    seg = {"sample": [], "Chromosome": [], "Start": [], "End": [], "Num_Probes": [], "Segment_Mean": []}
    for s in samples:
        starts = np.sort(rng.integers(1, 240_000_000, size=n_seg))
        seg["sample"] += [s] * n_seg
        seg["Chromosome"] += [f"chr{c}" for c in rng.integers(1, 23, size=n_seg)]
        seg["Start"] += starts.tolist()
        seg["End"] += (starts + rng.integers(1_000, 5_000_000, size=n_seg)).tolist()
        seg["Num_Probes"] += rng.integers(5, 5_000, size=n_seg).tolist()
        seg["Segment_Mean"] += np.round(rng.normal(0.0, 0.6, size=n_seg), 4).tolist()
    write("segment_cnv_DNAcopy", pa.table(seg))

    n_mut = p["mutations_per_sample"][0]
    maf = {k: [] for k in (
        "Hugo_Symbol", "Chromosome", "Start_Position", "End_Position", "Reference_Allele",
        "Tumor_Seq_Allele2", "Tumor_Sample_Barcode", "HGVSp_Short", "Consequence",
        "t_alt_count", "t_depth",
    )}
    bases = np.array(list("ACGT"))
    for s in samples:
        pos = rng.integers(1, 240_000_000, size=n_mut)
        depth = rng.integers(20, 400, size=n_mut)
        maf["Hugo_Symbol"] += [f"GENE{g}" for g in rng.integers(0, 2000, size=n_mut)]
        maf["Chromosome"] += [f"chr{c}" for c in rng.integers(1, 23, size=n_mut)]
        maf["Start_Position"] += pos.tolist()
        maf["End_Position"] += pos.tolist()
        maf["Reference_Allele"] += bases[rng.integers(0, 4, size=n_mut)].tolist()
        maf["Tumor_Seq_Allele2"] += bases[rng.integers(0, 4, size=n_mut)].tolist()
        maf["Tumor_Sample_Barcode"] += [f"{s}-01D-A{k:03d}-08" for k in range(n_mut)]
        maf["HGVSp_Short"] += [f"p.X{k}Y" for k in rng.integers(1, 900, size=n_mut)]
        maf["Consequence"] += rng.choice(
            ["missense_variant", "synonymous_variant", "stop_gained", "frameshift_variant"],
            size=n_mut,
        ).tolist()
        maf["t_alt_count"] += (depth * rng.uniform(0.05, 0.9, size=n_mut)).astype(np.int64).tolist()
        maf["t_depth"] += depth.tolist()
    write("somaticmutation_wxs", pa.table(maf))

    uniq_cases = sorted(set(cases))
    case_ids = [f"case-{project}-{i:04d}" for i in range(len(uniq_cases))]
    cid = dict(zip(uniq_cases, case_ids))
    write("clinical", pa.table({
        "case_id": case_ids,
        "submitter_id": uniq_cases,
        "primary_diagnosis": rng.choice(["Adenocarcinoma", "Carcinoma", "Glioma"], size=len(case_ids)).tolist(),
        "age_at_diagnosis": rng.integers(7000, 30000, size=len(case_ids)).tolist(),
        "demographic": [
            {"gender": g, "race": r}
            for g, r in zip(
                rng.choice(["female", "male"], size=len(case_ids)).tolist(),
                rng.choice(["white", "asian", "black"], size=len(case_ids)).tolist(),
            )
        ],
        "treatments": [["radiation", "chemo"][: 1 + i % 2] for i in range(len(case_ids))],
    }))
    write("biospecimen", pa.table({
        "sample": samples,
        "case_id": [cid[c] for c in cases],
        "sample_type": ["Primary Tumor" if s.endswith("01A") else "Solid Tissue Normal" for s in samples],
        "primary_diagnosis": ["unknown"] * len(samples),
    }))
    write("survival", pa.table({
        "case_id": case_ids,
        "censored": (rng.random(len(case_ids)) < 0.6).tolist(),
        "time": np.round(rng.uniform(10, 4000, size=len(case_ids)), 1).tolist(),
        "submitter_id": uniq_cases,
    }))
    write("case_samples", pa.table({"case_id": [cid[c] for c in cases], "sample": samples}))
    return cells


# ---------------------------------------------------------------------------
# query_mix: the workload catalog's tables at a small scale factor
# ---------------------------------------------------------------------------

_WORDS = ("spark window merge table column vector stream value data small join filter big "
          "group hash customer sort order slow line part fast row the agg key query a scan batch").split()


def gen_tables(root: str, seed: int) -> dict:
    """Write region/nation/customer/supplier/part/orders/lineitem/events/
    documents/embeddings parquet under ``root`` with the schemas and value
    domains the ``workload`` queries expect."""
    rng = np.random.default_rng(seed)
    sf = PARAMS["query_mix"]["scale"][0]
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 20), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 200), max(int(50_000 * sf), 200)
    os.makedirs(root, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    def i32(a):
        return pa.array(np.asarray(a), pa.int32())

    def i64(a):
        return pa.array(np.asarray(a), pa.int64())

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, size=n), 2)

    def days(start: str, n_days: int, n: int):
        base = np.datetime64(start, "us")
        return pa.array(base + rng.integers(0, n_days, size=n).astype("timedelta64[D]"), pa.timestamp("us"))

    write("region", {"r_regionkey": i32(range(5)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": i32([i % 5 for i in range(25)])})
    write("customer", {
        "c_custkey": i64(range(n_cust)), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)), "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE"], n_cust).tolist(),
    })
    write("supplier", {
        "s_suppkey": i64(range(n_supp)), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)), "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["small", "new", "blue", "old", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    write("part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part).tolist(),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    write("orders", {
        "o_orderkey": i64(range(n_ord)), "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2403, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist(),
    })
    write("lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)), "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)), "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0, "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": days("1995-01-02", 2498, n_li),
    })
    n_users = max(n_ev // 66, 50)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    write("events", {
        "event_id": i64(range(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, size=rng.integers(10, 101))))
    write("documents", {
        "doc_id": i64(range(n_doc)), "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": i64([len(t) for t in texts]),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb)),
    })
    return {"lineitem": n_li, "documents": n_doc, "events": n_ev, "embeddings": n_emb}
