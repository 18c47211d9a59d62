"""Sinks — S3 (CSV) and S4 (styled xlsx). The north rule's
partitioned-parquet fan-out is written by :mod:`.pipeline` itself.

S4 is a dependency-free OOXML writer (:mod:`.xlsx` — stdlib zipfile +
hand-built sheet/styles XML), replicating modules/export_excel.py's
formatting contract (bold header, font name/size, per-column width =
``min(max(maxlen(+×1.5 non-ASCII data)+2, 10), 50)``) without
xlsxwriter/openpyxl. It runs driver-side over ≤800k-row chunks — the
same Excel-limit chunking the reference enforces
(merge_files.py:96-111) — and is strictly the post-filter last mile;
the distributed CSV sink handles the bulk paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .xlsx import write_xlsx

MAX_XLSX_ROWS = 800_000  # Excel 1,048,576-row headroom (run.py:129)


def write_stage_csv(df: DataFrame, path: str, max_records_per_file: int = MAX_XLSX_ROWS) -> None:
    """S3: header CSV, utf-8, '' for null (to_csv(index=False, na_rep='')
    twin — modules/extract_routing.py:101)."""
    (
        df.write.mode("overwrite")
        .option("header", True)
        .option("emptyValue", "")
        .option("nullValue", "")
        .option("maxRecordsPerFile", max_records_per_file)
        .csv(path)
    )


#: export_xlsx refuses inputs above this row count (fail fast instead
#: of silently OOM-ing the driver in toPandas). 10 chunks of the
#: Excel-limit chunk size — far beyond any sane spreadsheet handoff.
MAX_XLSX_EXPORT_ROWS = 10 * MAX_XLSX_ROWS


def export_xlsx(
    df: DataFrame,
    output_dir: str,
    base_name: str = "final",
    font_name: str = "Yu Gothic",
    font_size: int = 11,
    max_rows: int = MAX_XLSX_EXPORT_ROWS,
) -> list[str]:
    """S4: final small result → styled .xlsx chunks (driver-side; the
    input MUST already be the post-filter tail of the pipeline, which
    the reference also assumes). Formatting/width rules live in
    :func:`juniper_syslog_filter_spark.xlsx.write_xlsx` (reference
    twin: modules/export_excel.py:81-118). Returns written paths.

    Raises ``ValueError`` when the input exceeds ``max_rows`` — a
    driver-side ``toPandas`` on an unfiltered table would OOM silently
    otherwise; the ``limit(max_rows+1).count()`` probe costs one bounded
    job, never a full scan of an oversized input.
    """
    os.makedirs(output_dir, exist_ok=True)
    probed = df.limit(max_rows + 1).count()
    if probed > max_rows:
        raise ValueError(
            f"export_xlsx input exceeds max_rows={max_rows}: this sink is "
            "the driver-side post-filter last mile; write the bulk path "
            "with write_stage_csv instead, or raise "
            "max_rows explicitly."
        )
    # fillna BEFORE astype: astype(str) alone would stringify nulls as
    # "None"/"nan", violating the ''-for-null convention this sink
    # replicates (reference na_rep='', modules/export_excel.py).
    pdf = df.toPandas()
    pdf = pdf.astype(object).where(pdf.notna(), "").astype(str)
    columns = [str(c) for c in pdf.columns]
    chunks = [
        pdf.iloc[i : i + MAX_XLSX_ROWS] for i in range(0, max(len(pdf), 1), MAX_XLSX_ROWS)
    ]
    written: list[str] = []
    for idx, chunk in enumerate(chunks):
        xlsx_path = os.path.join(output_dir, f"{base_name}_{idx:03d}.xlsx")
        write_xlsx(
            xlsx_path,
            columns,
            chunk.to_numpy(dtype=object).tolist(),
            sheet_name="Sheet1",
            font_name=font_name,
            font_size=font_size,
        )
        written.append(xlsx_path)
    return written
