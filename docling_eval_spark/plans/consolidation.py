"""Multi-evaluation consolidation: the benchmark x experiment x modality
comparison matrix.

Rebuild of the reference Consolidator (docling_eval/aggregations/
consolidator.py:54-141 `__call__`/`_to_excel` + :149-206
`_build_dataframes`): every (benchmark, provider, experiment, modality)
evaluation contributes one matrix row; per modality the rows become one
subtable sorted by (Benchmark, Provider); metric values are formatted
"mean±std" (export_value, :25-32); the subtables stack into one sheet
with bold modality headers. Output is xlsx when openpyxl exists
(import-gated — not present in this environment) with the reference's
formatting (adjusted column widths, no borders, bold headers), else a
structured CSV with the same stacked layout.

Scale note: consolidation consumes collected rollups (a handful of rows
per evaluation) — the reference operates on pandas frames and so does
the export here; all heavy lifting happened upstream in the distributed
rollup jobs.
"""

from __future__ import annotations

import glob
import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import literal_frame

EVAL_ROW_SCHEMA = (
    "benchmark string, provider string, experiment string, modality string, "
    "metric string, value double, std double"
)

# fixed leading columns of every modality subtable
# (consolidator.py:180-190: Benchmark/Provider/Experiment + sample counts)
ID_COLS = ["Benchmark", "Provider", "Experiment"]


def export_value(mean: float, std: float | None = None) -> str:
    """consolidator.py:25-32: stats format 'mean±std', plain '0.00' else."""
    if std is not None and not (isinstance(std, float) and math.isnan(std)):
        return f"{mean:.2f}±{std:.2f}"
    return f"{mean:.2f}"


def load_evaluation_dir(spark: SparkSession, root: str,
                        provider: str = "spark") -> DataFrame:
    """Walk `root/<experiment>/evaluation_<benchmark>_<modality>.json`
    files (the shape cmd_evaluate/score-files write) into long-form
    evaluation rows. The JSON sidecars are rollup metadata — tiny by
    construction — so the walk is driver-side, like the reference's
    MultiEvaluation loader (aggregations/multi_evalutor.py)."""
    rows = []
    files = sorted(
        set(glob.glob(os.path.join(root, "*", "evaluation_*.json")))
        # multi-evaluate layout: root/<benchmark>/<experiment>/...
        | set(glob.glob(os.path.join(root, "*", "*",
                                     "evaluation_*.json"))))
    for fn in files:
        experiment = os.path.basename(os.path.dirname(fn))
        with open(fn) as f:
            doc = json.load(f)
        metrics = {
            m: float(v) for m, v in doc.get("evaluation", {}).items()
            if isinstance(v, (int, float)) and not isinstance(v, bool)}
        # pair <metric>_std with <metric> so stat metrics format as
        # mean±std like the reference Consolidator (consolidator.py
        # :25-32); a *_std without its mean stays a plain metric
        stds = {m[:-4]: metrics.pop(m) for m in list(metrics)
                if m.endswith("_std") and m[:-4] in metrics}
        for metric, value in sorted(metrics.items()):
            rows.append((doc.get("benchmark", "unknown"), provider,
                         experiment, doc.get("modality", "unknown"),
                         metric, value, stds.get(metric)))
    return literal_frame(spark, rows, EVAL_ROW_SCHEMA)


def consolidation_matrices(eval_rows: DataFrame) -> dict[str, "object"]:
    """Long-form evaluation rows -> {modality: pandas matrix}, each with
    ID_COLS + one formatted column per metric, sorted by
    (Benchmark, Provider) like consolidator.py:199-203."""
    # value formatting happens driver-side with export_value: the
    # reference's f"{v:.2f}" is Python round-half-even, which Java's
    # format_string('%.2f', ...) would NOT reproduce (HALF_UP)
    wide = (
        eval_rows
        .withColumn(
            "_fmt",
            F.struct(F.col("value").alias("value"), F.col("std").alias("std")))
        .groupBy("modality", "benchmark", "provider", "experiment")
        .pivot("metric")
        .agg(F.first("_fmt"))
    )
    out: dict[str, object] = {}
    pdf_all = wide.toPandas()
    for modality in sorted(pdf_all["modality"].unique()):
        sub = pdf_all[pdf_all["modality"] == modality].copy()
        sub = sub.drop(columns=["modality"]).dropna(axis=1, how="all")
        for c in sub.columns:
            if c not in ("benchmark", "provider", "experiment"):
                sub[c] = sub[c].map(
                    lambda v: None if v is None else
                    export_value(v["value"], v["std"]))
        sub = sub.rename(columns={"benchmark": "Benchmark",
                                  "provider": "Provider",
                                  "experiment": "Experiment"})
        metric_cols = [c for c in sub.columns if c not in ID_COLS]
        sub = sub[ID_COLS + sorted(metric_cols)]
        sub = sub.sort_values(by=["Benchmark", "Provider"]).reset_index(drop=True)
        out[modality] = sub
    return out


def write_consolidation(matrices: dict, output_dir: str) -> str:
    """Stacked modality subtables with bold headers -> xlsx when openpyxl
    exists (reference _to_excel/_format_excel), else a structured CSV
    with the same deterministic layout (modality header line, then the
    subtable, then a blank line)."""
    os.makedirs(output_dir, exist_ok=True)
    try:  # pragma: no cover - openpyxl absent in this environment
        import openpyxl
        from openpyxl.styles import Font

        wb = openpyxl.Workbook()
        sheet = wb.active
        sheet.title = "matrix"
        bold = Font(bold=True)
        for modality, df in matrices.items():
            c = sheet.cell(row=sheet.max_row + (2 if sheet.max_row > 1 else 0),
                           column=1, value=modality)
            c.font = bold
            start = c.row + 1
            for j, col in enumerate(df.columns, start=1):
                sheet.cell(row=start, column=j, value=col)
            for i, row in enumerate(df.itertuples(index=False), start=start + 1):
                for j, v in enumerate(row, start=1):
                    sheet.cell(row=i, column=j, value=v)
        for col in sheet.columns:
            width = max((len(str(c.value)) for c in col if c.value is not None),
                        default=0) + 2
            sheet.column_dimensions[col[0].column_letter].width = width
        path = os.path.join(output_dir, "consolidation_matrix.xlsx")
        wb.save(path)
        return path
    except ImportError:
        path = os.path.join(output_dir, "consolidation_matrix.csv")
        lines = []
        for modality, df in matrices.items():
            lines.append(modality)
            lines.append(",".join(df.columns))
            for row in df.itertuples(index=False):
                lines.append(",".join("" if v is None else str(v) for v in row))
            lines.append("")
        with open(path, "w") as f:
            f.write("\n".join(lines))
        return path
