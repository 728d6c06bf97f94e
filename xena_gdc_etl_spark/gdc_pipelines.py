"""Dataset-type pipeline registry — the engine's ``GDCOmicset`` parity.

The reference binds each ``xena_dtype`` to a transform recipe
(/root/reference/xena_gdc_etl/xena_dataset.py:927-1022 ``_RAWS2MATRIX_FUNCS``):
which raw columns to read, the row index name, whether the matrix is
log2(x+1)-transformed, and rows to drop; repeats are always averaged.
Here the same registry drives DataFrame pipelines over LONG-format input
(sample, feature, value) — the scalable shape of "one column per sample
file". ``raw_long`` frames come from any source (parquet fact tables, melted
TSVs); the per-dtype semantics are identical.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xena_gdc_etl_spark.operators.matrix import merge_sample_cols
from xena_gdc_etl_spark.operators.snv import (
    rename_columns,
    trim_barcode,
    with_vaf,
)

# STAR count matrices carry four summary pseudo-genes that the reference
# drops with ``remove=True`` (xena_dataset.py:237).
STAR_SUMMARY_ROWS = (
    "N_unmapped",
    "N_multimapping",
    "N_noFeature",
    "N_ambiguous",
)


@dataclass(frozen=True)
class DtypeSpec:
    """Per-dtype matrix semantics (mirrors a _RAWS2MATRIX_FUNCS entry)."""

    name: str
    index_name: str
    log2tf: bool = True
    drop_features: tuple = ()
    kind: str = "matrix"  # "matrix" | "segment" | "maf"


DTYPE_SPECS: dict[str, DtypeSpec] = {
    spec.name: spec
    for spec in [
        DtypeSpec("star_counts", "Ensembl_ID", drop_features=STAR_SUMMARY_ROWS),
        DtypeSpec("star_tpm", "Ensembl_ID", drop_features=STAR_SUMMARY_ROWS),
        DtypeSpec("star_fpkm", "Ensembl_ID", drop_features=STAR_SUMMARY_ROWS),
        DtypeSpec("star_fpkm-uq", "Ensembl_ID", drop_features=STAR_SUMMARY_ROWS),
        DtypeSpec("mirna", "miRNA_ID"),
        DtypeSpec("mirna_isoform", "isoform_coords"),
        DtypeSpec("gene-level_ascat-ngs", "Ensembl_ID", log2tf=False),
        DtypeSpec("gene-level_ascat2", "Ensembl_ID", log2tf=False),
        DtypeSpec("gene-level_ascat3", "Ensembl_ID", log2tf=False),
        DtypeSpec("gene-level_absolute", "Ensembl_ID", log2tf=False),
        DtypeSpec("methylation_epic", "Composite Element REF", log2tf=False),
        DtypeSpec("methylation_epic_v2", "Composite Element REF", log2tf=False),
        DtypeSpec("methylation27", "Composite Element REF", log2tf=False),
        DtypeSpec("methylation450", "Composite Element REF", log2tf=False),
        DtypeSpec("protein", "peptide_target", log2tf=False),
        DtypeSpec("segment_cnv_ascat-ngs", "sample", kind="segment", log2tf=False),
        DtypeSpec("segment_cnv_DNAcopy", "sample", kind="segment", log2tf=False),
        DtypeSpec("masked_cnv_DNAcopy", "sample", kind="segment", log2tf=False),
        DtypeSpec("allele_cnv_ascat2", "sample", kind="segment", log2tf=False),
        DtypeSpec("allele_cnv_ascat3", "sample", kind="segment", log2tf=False),
        DtypeSpec("somaticmutation_wxs", "sample", kind="maf", log2tf=False),
        DtypeSpec("somaticmutation_targeted", "sample", kind="maf", log2tf=False),
    ]
}

# Phenotype dtypes: landed by ``pipeline.GDCPhenosetSpark``, not by a
# DtypeSpec recipe (reference gdc2xena.py:86-92 routes them to GDCPhenoset).
PHENO_DTYPES = ("clinical", "biospecimen", "raw_phenotype", "GDC_phenotype")

# Reference column renames for segment CNV matrices (xena_dataset.py:76-78).
SEGMENT_RENAMES = {"Chromosome": "Chrom", "Copy_Number": "value", "Segment_Mean": "value"}

# Reference column renames for MAF matrices (xena_dataset.py:144-155).
MAF_RENAMES = {
    "Hugo_Symbol": "gene",
    "Chromosome": "chrom",
    "Start_Position": "start",
    "End_Position": "end",
    "Reference_Allele": "ref",
    "Tumor_Seq_Allele2": "alt",
    "Tumor_Sample_Barcode": "sampleid",
    "HGVSp_Short": "Amino_Acid_Change",
    "Consequence": "effect",
}


def supported_dtypes() -> list[str]:
    """Parity with ``GDCOmicset.get_supported_dtype()``."""
    return sorted(DTYPE_SPECS)


def transform_matrix_dtype(
    raw_long: DataFrame,
    dtype: str,
    sample_col: str = "sample",
    feature_col: str = "feature",
    value_col: str = "value",
) -> DataFrame:
    """Run the dtype's matrix recipe over long-format raw data: drop summary
    features, average repeats, apply log2(x+1) when the dtype calls for it.
    """
    spec = DTYPE_SPECS[dtype]
    if spec.kind != "matrix":
        raise ValueError(f"{dtype} is a {spec.kind} dtype; use its dedicated transform")
    df = raw_long
    if spec.drop_features:
        df = df.filter(~F.col(feature_col).isin(*spec.drop_features))
    return merge_sample_cols(
        df, sample_col, feature_col, value_col, log2tf=spec.log2tf
    )


def transform_segment_dtype(segments: DataFrame, dtype: str) -> DataFrame:
    """Segment-CNV recipe: row-stacked segments with reference renames
    (merge_cnv, xena_dataset.py:43)."""
    spec = DTYPE_SPECS[dtype]
    if spec.kind != "segment":
        raise ValueError(f"{dtype} is not a segment dtype")
    return rename_columns(segments, SEGMENT_RENAMES)


def transform_maf_dtype(
    maf: DataFrame,
    dtype: str,
    alt_count_col: str = "t_alt_count",
    depth_col: str = "t_depth",
    barcode_col: str = "Tumor_Sample_Barcode",
) -> DataFrame:
    """MAF recipe: VAF, drop count columns, barcode trim, Xena renames
    (snv_maf_matrix, xena_dataset.py:81)."""
    spec = DTYPE_SPECS[dtype]
    if spec.kind != "maf":
        raise ValueError(f"{dtype} is not a maf dtype")
    out = with_vaf(maf, alt_count_col, depth_col)
    if barcode_col in out.columns:
        out = trim_barcode(out, barcode_col, 16)
    return rename_columns(out, MAF_RENAMES)
