"""Output checks computed independently of Spark, with DuckDB over the
generated raw inputs. A failed check marks its operation failed."""

from __future__ import annotations

import glob
import os

import duckdb

STAR_SUMMARY_ROWS = ("N_unmapped", "N_multimapping", "N_noFeature", "N_ambiguous")


def check(workload: str, inputs: str, ops: list[dict]) -> None:
    if workload == "gdc_etl":
        GdcChecks(inputs).run(ops)


def _fail_first(op: dict, errors: list[str]) -> None:
    if errors:
        op["ok"], op["error"] = False, "; ".join(errors)[:400]


def _part_glob(path: str) -> str:
    """Spark writes a TSV 'file' as a directory of part files."""
    return os.path.join(path, "part-*.csv")


class GdcChecks:
    def __init__(self, inputs: str):
        self.inputs = inputs
        self.con = duckdb.connect()
        man = os.path.join(inputs, "manifests")
        self.con.execute(f"""
            CREATE TABLE manifest AS
            SELECT *, split_part(split_part(filename, '/', -1), '.', 1) AS project
            FROM read_parquet('{man}/TCGA-*.parquet', filename = true)""")
        # the raw landed STAR tables, parsed independently of Spark
        self.con.execute(f"""
            CREATE TABLE raw AS
            SELECT regexp_extract(filename, '([^/]+)\\.tsv$', 1) AS uuid, gene_id, unstranded
            FROM read_csv('{inputs}/src/*.tsv', delim = '\t', header = true, filename = true,
                          columns = {{'gene_id': 'VARCHAR', 'gene_name': 'VARCHAR',
                                      'unstranded': 'DOUBLE'}})""")
        summary = ", ".join(f"'{r}'" for r in STAR_SUMMARY_ROWS)
        self.con.execute(f"""
            CREATE TABLE expected AS
            SELECT m.project, m.sample, r.gene_id AS feature, log2(avg(r.unstranded) + 1) AS value
            FROM raw r JOIN manifest m USING (uuid)
            WHERE r.gene_id NOT IN ({summary})
            GROUP BY ALL""")
        self.con.execute(f"""
            CREATE TABLE expected_post AS
            SELECT s.case AS sample, e.feature, arg_min(e.value, e.sample) AS value
            FROM expected e JOIN read_parquet('{man}/sample_to_case.parquet') s USING (sample)
            GROUP BY ALL""")

    def run(self, ops: list[dict]) -> None:
        for op in ops:
            if not op["ok"] or not op.get("outputs"):
                continue
            errors = [f"no metadata sidecar for {os.path.basename(p)}"
                      for p in op["outputs"] if not os.path.isfile(p + ".json")]
            kind = op["kind"]
            if kind == "star_counts":
                errors += self.matrix_errors(op["outputs"][0], f"project = '{op['project']}'", "expected")
            elif kind == "merge":
                errors += self.matrix_errors(op["outputs"][0], "true", "expected")
            elif kind == "postprocess":
                errors += self.matrix_errors(op["outputs"][0], "true", "expected_post")
            elif kind == "gdc2xena":
                errors += self.row_count_errors(op["project"], op["outputs"])
            _fail_first(op, errors)

    def matrix_errors(self, path: str, where: str, expected: str) -> list[str]:
        """The written wide matrix, melted, equals the expected long table."""
        import pandas as pd

        parts = glob.glob(_part_glob(path))
        if len(parts) != 1:
            return [f"{os.path.basename(path)}: {len(parts)} part files"]
        wide = pd.read_csv(parts[0], sep="\t", na_values="NA")
        got = wide.melt(id_vars=wide.columns[0], var_name="sample", value_name="value")
        got = got.rename(columns={wide.columns[0]: "feature"}).dropna(subset=["value"])
        self.con.register("got", got)
        bad = self.con.execute(f"""
            SELECT count(*) FROM (SELECT sample, feature, value FROM {expected} WHERE {where}) e
            FULL JOIN got g USING (sample, feature)
            WHERE g.value IS NULL OR e.value IS NULL
               OR abs(g.value - e.value) > 1e-9 * greatest(1, abs(e.value))""").fetchone()[0]
        self.con.unregister("got")
        return [f"{os.path.basename(path)}: {bad} cells differ from the DuckDB matrix"] if bad else []

    def row_count_errors(self, project: str, outputs: list[str]) -> list[str]:
        raw = os.path.join(self.inputs, "batch", project, "Raw_Data")
        want = {
            "segment_cnv_DNAcopy": "segment_cnv_DNAcopy",
            "somaticmutation_wxs": "somaticmutation_wxs",
            "GDC_phenotype": "biospecimen",
            "survival": "case_samples",
        }
        errors = []
        for dtype, table in want.items():
            path = next((p for p in outputs if p.endswith(f".{dtype}.tsv")), None)
            if path is None:
                errors.append(f"{project}: no {dtype} matrix")
                continue
            n_in = self.con.execute(f"SELECT count(*) FROM read_parquet('{raw}/{table}.parquet')").fetchone()[0]
            n_out = self.con.execute(
                f"SELECT count(*) FROM read_csv('{_part_glob(path)}', delim = '\t', header = true, "
                "all_varchar = true)").fetchone()[0]
            if n_in != n_out:
                errors.append(f"{project} {dtype}: {n_out} rows written for {n_in} input rows")
        return errors

