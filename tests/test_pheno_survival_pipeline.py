"""Pheno/survival dataset pipelines — parity with the reference's
GDCPhenoset (xena_dataset.py:1232/1385) and GDCSurvivalset (:1417/1520):
clinical-over-biospecimen merge + list-column dropping, and the 4-column
Xena survival matrix, end-to-end through the CLI entry point.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import subprocess

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from xena_gdc_etl_spark.operators.nested import drop_list_columns, flatten_structs
from xena_gdc_etl_spark.pipeline import GDCPhenosetSpark, GDCSurvivalsetSpark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _clinical(spark):
    # nested case record with a list-valued leaf (→ dropped, get_to_drops)
    return spark.createDataFrame(
        [
            Row(
                case_id="c1",
                demographic=Row(gender="female", year_of_birth=1970),
                icd_10_codes=["C50.1", "C50.2"],
                primary_site="Breast",
            ),
            Row(
                case_id="c2",
                demographic=Row(gender="male", year_of_birth=1960),
                icd_10_codes=["C61"],
                primary_site=None,
            ),
        ]
    )


def _biospecimen(spark):
    return spark.createDataFrame(
        [
            ("c1", "s1", "Primary Tumor", "Breast-bio"),
            ("c1", "s2", "Solid Tissue Normal", None),
            ("c2", "s3", "Primary Tumor", "Prostate-bio"),
        ],
        ["case_id", "sample", "sample_type", "primary_site"],
    )


def test_drop_list_columns_is_get_to_drops(spark):
    flat = flatten_structs(_clinical(spark), sep=".")
    out = drop_list_columns(flat)
    assert "icd_10_codes" not in out.columns  # scalar-array leaf dropped
    assert set(out.columns) == {
        "case_id", "demographic.gender", "demographic.year_of_birth",
        "primary_site",
    }


def test_pheno_transform_clinical_priority(spark):
    ds = GDCPhenosetSpark(projects="TCGA-T", xena_dtype="GDC_phenotype")
    out = ds.transform(_clinical(spark), _biospecimen(spark))
    rows = {r.sample: r for r in out.collect()}
    assert set(rows) == {"s1", "s2", "s3"}
    # one row per sample, enriched with case-level clinical
    assert rows["s1"]["demographic.gender"] == "female"
    assert rows["s3"]["demographic.year_of_birth"] == 1960
    # overlapping column: clinical wins when non-null, else biospecimen
    assert rows["s1"].primary_site == "Breast"  # clinical over "Breast-bio"
    assert rows["s3"].primary_site == "Prostate-bio"  # clinical was null


def test_pheno_clinical_only_kind(spark):
    ds = GDCPhenosetSpark(projects="TCGA-T", xena_dtype="clinical")
    out = ds.transform(_clinical(spark), None)
    assert "demographic.gender" in out.columns
    assert out.count() == 2


def test_pheno_rejects_unknown_dtype():
    with pytest.raises(ValueError):
        GDCPhenosetSpark(projects="P", xena_dtype="nope")


def test_survival_transform_shape(spark):
    surv = spark.createDataFrame(
        [("c1", False, 912.0, "P1"), ("c2", True, 30.0, "P2")],
        ["case_id", "censored", "time", "submitter_id"],
    )
    samples = spark.createDataFrame(
        [("c1", "s1"), ("c1", "s2"), ("c2", "s3")], ["case_id", "sample"]
    )
    ds = GDCSurvivalsetSpark(projects="TCGA-T")
    rows = {r.sample: r for r in ds.transform(surv, samples).collect()}
    # OS = int(NOT censored) (xena_dataset.py:1561), one row per sample
    assert rows["s1"].OS == 1 and rows["s1"].OS_time == 912.0
    assert rows["s1"]._PATIENT == "P1"
    assert rows["s3"].OS == 0


def _run_cli(*args: str) -> subprocess.CompletedProcess:
    """In-process CLI drive (see conftest.run_cli_inprocess) — saves two
    JVM boots; the subprocess surface is covered in test_cli_pipelines."""
    from conftest import run_cli_inprocess

    return run_cli_inprocess(*args)


def _read_tsv_dir(path: str) -> list[dict]:
    part = glob.glob(os.path.join(path, "part-*.csv"))[0]
    with open(part, newline="") as f:
        return list(csv.DictReader(f, delimiter="\t"))


def test_cli_etl_survival_end_to_end(spark, tmp_path):
    surv_p = str(tmp_path / "surv.parquet")
    samp_p = str(tmp_path / "samp.parquet")
    spark.createDataFrame(
        [("c1", False, 912.0, "P1"), ("c2", True, 30.0, "P2")],
        ["case_id", "censored", "time", "submitter_id"],
    ).write.parquet(surv_p)
    spark.createDataFrame(
        [("c1", "s1"), ("c2", "s3")], ["case_id", "sample"]
    ).write.parquet(samp_p)

    root = str(tmp_path / "out")
    proc = _run_cli(
        "etl-survival", "--survival", surv_p, "--case-samples", samp_p,
        "--project", "TCGA-T", "--root-dir", root,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out_dir = os.path.join(root, "TCGA-T", "Xena_Matrices", "TCGA-T.survival.tsv")
    rows = {r["sample"]: r for r in _read_tsv_dir(out_dir)}
    # Xena spec: 4 columns named sample, OS, OS.time, _PATIENT
    assert set(rows["s1"].keys()) == {"sample", "OS", "OS.time", "_PATIENT"}
    assert rows["s1"]["OS"] == "1" and rows["s3"]["OS"] == "0"
    meta = json.load(open(out_dir + ".json"))
    # template.survival.meta.json parity
    assert meta["label"] == "survival data"
    assert meta["type"] == "clinicalMatrix"
    assert meta["dataSubType"] == "phenotype"


def test_cli_etl_pheno_end_to_end(spark, tmp_path):
    clin_p = str(tmp_path / "clin.parquet")
    bio_p = str(tmp_path / "bio.parquet")
    _clinical(spark).write.parquet(clin_p)
    _biospecimen(spark).write.parquet(bio_p)

    root = str(tmp_path / "out")
    proc = _run_cli(
        "etl-pheno", "--clinical", clin_p, "--biospecimen", bio_p,
        "--project", "TCGA-T", "--root-dir", root,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out_dir = os.path.join(
        root, "TCGA-T", "Xena_Matrices", "TCGA-T.GDC_phenotype.tsv"
    )
    rows = {r["sample"]: r for r in _read_tsv_dir(out_dir)}
    assert set(rows) == {"s1", "s2", "s3"}
    assert rows["s1"]["primary_site"] == "Breast"
    assert rows["s2"]["sample_type"] == "Solid Tissue Normal"
    # list-valued clinical leaf never reaches the matrix
    assert "icd_10_codes" not in rows["s1"]
    with open(out_dir + ".json") as f:
        meta = json.load(f)
    assert meta["type"] == "clinicalMatrix"
    assert meta["xena_dtype"] == "clinical"


def test_hits_to_df_and_samples_clinical_offline(spark):
    """The get_samples_clinical path (gdc.py:462) driven offline: nested
    case hits -> per-sample flattened clinical rows."""
    from xena_gdc_etl_spark.operators.phenotype import samples_clinical
    from xena_gdc_etl_spark.sources.gdc_api import hits_to_df

    hits = [
        {
            "id": "case-1",
            "demographic": {"gender": "female", "vital_status": "Alive"},
            "diagnoses": [{"primary_diagnosis": "x"}],  # list leaf-> dropped
            "samples": [
                {"submitter_id": "S1", "sample_type": "Primary Tumor"},
                {"submitter_id": "S2", "sample_type": "Solid Tissue Normal"},
            ],
        },
        {
            "id": "case-2",
            "demographic": {"gender": "male", "vital_status": "Dead"},
            "samples": [
                {"submitter_id": "S3", "sample_type": "Primary Tumor"}
            ],
        },
        {"id": "case-3", "demographic": {"gender": "female"}},  # no samples
    ]
    cases = hits_to_df(spark, hits)
    out = samples_clinical(cases)
    rows = {r["sample"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"S1", "S2", "S3", None}  # outer explode keeps case-3
    assert rows["S1"]["demographic.gender"] == "female"
    assert rows["S2"]["samples.sample_type"] == "Solid Tissue Normal"
    assert rows["S3"]["demographic.vital_status"] == "Dead"
    # diagnoses was an array-of-struct: explode material, kept out of the
    # flat matrix only if scalar-array; struct-arrays are a caller decision
    flat_cols = set(rows["S1"].keys())
    assert "id" in flat_cols


def test_samples_clinical_feeds_pheno_transform(spark):
    """hits -> samples_clinical -> GDCPhenosetSpark biospecimen-side merge."""
    from xena_gdc_etl_spark.operators.phenotype import samples_clinical
    from xena_gdc_etl_spark.sources.gdc_api import hits_to_df

    hits = [
        {
            "id": "c1",
            "primary_site": "Breast",
            "samples": [{"submitter_id": "S1"}, {"submitter_id": "S2"}],
        }
    ]
    bio = samples_clinical(hits_to_df(spark, hits)).withColumnRenamed(
        "id", "case_id"
    )
    clin = spark.createDataFrame(
        [("c1", 1970)], ["case_id", "year_of_birth"]
    )
    ds = GDCPhenosetSpark(projects="P", xena_dtype="GDC_phenotype")
    merged = {r["sample"]: r for r in ds.transform(clin, bio).collect()}
    assert merged["S1"]["year_of_birth"] == 1970
    assert merged["S2"]["primary_site"] == "Breast"


def test_target_ccsk_recipe_end_to_end(spark, tmp_path):
    """The per-cohort recipe (scripts/target_ccsk_phenotype_etl.py): USI
    prefix repair + cases->samples mapping + per-sample export, offline."""
    import importlib.util
    import json
    import os
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "target_ccsk_phenotype_etl.py",
    )
    spec = importlib.util.spec_from_file_location("ccsk_etl", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # two clinical files with differing columns; one USI bare, one prefixed
    clin_a = tmp_path / "clin_a.parquet"
    clin_b = tmp_path / "clin_b.parquet"
    spark.createDataFrame(
        [("PARJLR", "Female")], ["TARGET USI", "gender"]
    ).write.parquet(str(clin_a))
    spark.createDataFrame(
        [("TARGET-51-PARWAX", 42)], ["TARGET USI", "age_months"]
    ).write.parquet(str(clin_b))
    cases_json = tmp_path / "cases.json"
    cases_json.write_text(json.dumps([
        {"submitter_id": "TARGET-51-PARJLR",
         "samples": [{"submitter_id": "S1"}, {"submitter_id": "S2"}]},
        {"submitter_id": "TARGET-51-PARWAX",
         "samples": [{"submitter_id": "S3"}]},
        {"submitter_id": "TARGET-51-UNMATCHED", "samples": []},
    ]))

    matrix = mod.ccsk_phenotype_matrix(
        spark, [str(clin_a), str(clin_b)], str(cases_json)
    )
    rows = {r["sample_id"]: r for r in matrix.collect()}
    # inner join: only samples whose (repaired) USI matched; the bare
    # PARJLR matched through the prefix repair
    assert set(rows) == {"S1", "S2", "S3"}
    assert rows["S1"]["gender"] == "Female"
    assert rows["S3"]["age_months"] == 42

    out = mod.main([
        "--clinical", str(clin_a), str(clin_b),
        "--cases-json", str(cases_json),
        "--root-dir", str(tmp_path),
    ])
    assert os.path.exists(out)
    meta = out + ".json"
    assert os.path.exists(meta)
