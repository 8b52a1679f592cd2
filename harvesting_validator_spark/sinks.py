"""Output sinks (SURVEY.md §2.1 S4/S5/S6).

* S4 — N-Triples export: `ModelUtils.toFile(model, RDFLanguages.NT, path)`
  (`TaskService.java:212-249`). Here the NT serialization is pure Catalyst
  string ops (operators/filtering.py::nt_lines) and the sink is a
  partitioned text write under `{share}/{job_id}/{container}/`.
* S5 — file-metadata rows: the physical+logical `nfo:FileDataObject` pair
  (`SPARQL/write-ttl-file.sparql:8-31`): name, size, format, timestamps,
  `prov:wasDerivedFrom`. Here one row per written partition file appended
  to a `lineage_files` parquet table; ids are deterministic sha2 of the
  path (C4 — the reference's random `uuid()` at `TaskService.java:217,226`
  breaks resume/idempotence, ours doesn't).
* S6 — violation-statistics workbook (`XlsReportService.java:61-134`,
  disabled in the reference at :40-44): summary sheet (path local-name ->
  count, grand total). The aggregation is the operator; the xlsx writer is
  gated behind an import-try (openpyxl is not in this image) with a CSV
  fallback.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harvesting_validator_spark import fs
from harvesting_validator_spark.operators.filtering import nt_lines
from harvesting_validator_spark.runtime import local_frame

NT_FORMAT = "application/n-triples"
NT_EXTENSION = "nt"


def write_nt(
    triples: DataFrame,
    share_root: str,
    job_id: str,
    container: str,
    spark: SparkSession,
) -> DataFrame:
    """Serialize a triple table to N-Triples text files under
    {share_root}/{job_id}/{container}/ and append S5 metadata rows.
    Returns the lineage_files rows written."""
    out_dir = fs.join(share_root, job_id, container)
    # range-partition + sort before export (SURVEY §4): file contents are
    # deterministic functions of the data, so re-exports are byte-stable
    # (golden-file diffs, resume idempotence) and no output file is skewed
    lines = (
        nt_lines(triples)
        .select("line")
        .repartitionByRange(max(1, triples.sparkSession.sparkContext.defaultParallelism // 4), "line")
        .sortWithinPartitions("line")
    )
    lines.write.mode("overwrite").text(out_dir)

    # Spark task-output names embed a per-write UUID; rename to stable
    # ordinal names so share_uri (and thus file_id = sha2(share_uri)) is a
    # pure function of (job_id, container, partition) — re-exports
    # converge instead of minting fresh ids (C4 determinism). All path ops
    # go through the Hadoop FS seam (fs.py): the share may be file://,
    # hdfs://, s3a://... The renames are driver-side metadata calls, one
    # per output partition; repartitionByRange above keeps partition
    # counts ~cores, so this never becomes a 10^5-rename storm (an
    # object-store deploy with huge exports would move the rename into the
    # commit protocol instead).
    raw = sorted(
        f
        for f in fs.listdir(spark, out_dir)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    files = []
    for i, name in enumerate(raw):
        stable = f"{container}-{i:05d}.{NT_EXTENSION}"
        fs.rename(spark, fs.join(out_dir, name), fs.join(out_dir, stable))
        crc = fs.join(out_dir, f".{name}.crc")
        if fs.exists(spark, crc):
            fs.delete(spark, crc)
        files.append(stable)
    now = time.time()
    rows = [
        (
            f"share://{job_id}/{container}/{name}",
            fs.file_size(spark, fs.join(out_dir, name)),
            name,
            NT_FORMAT,
            NT_EXTENSION,
            now,
            job_id,
            container,
        )
        for name in sorted(files)
    ]
    meta = local_frame(
        spark, rows,
        "share_uri string, file_size bigint, file_name string, "
        "format string, extension string, created double, "
        "job_id string, container string",
    ).withColumn(
        # deterministic logical-file id (C4): sha2 of the share uri, not uuid()
        "file_id",
        F.sha2(F.col("share_uri"), 256),
    )
    meta_path = fs.join(share_root, "_lineage_files")
    # re-running the same (job_id, container) export overwrites the text
    # files byte-identically; the metadata append must converge the same
    # way, so drop rows whose deterministic file_id is already recorded
    # (resume/retry otherwise duplicates _lineage_files rows — ADVICE r1).
    if fs.exists(spark, meta_path):
        seen = spark.read.parquet(meta_path).select("file_id").distinct()
        meta = meta.join(seen, "file_id", "left_anti")
    meta.write.mode("append").parquet(meta_path)
    return meta


def violation_stats(violations: DataFrame) -> DataFrame:
    """S6 aggregation: violations per result-path local name + grand total
    (`XlsReportService.java:73-88,119-127`)."""
    local = F.element_at(F.split("result_path", "[/#]"), -1)
    per_path = (
        violations.filter(F.col("result_path").isNotNull())
        .groupBy(local.alias("path"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = violations.groupBy().agg(
        F.lit("__total__").alias("path"), F.count(F.lit(1)).alias("n")
    )
    return per_path.unionByName(total)


def violation_details(violations: DataFrame) -> DataFrame:
    """S6 detail rows — one per violation with the fields the reference
    writes per path sheet (`XlsReportService.java:99-116`): path local
    name, focusNode, value, abbreviated message."""
    local = F.element_at(F.split("result_path", "[/#]"), -1)
    return violations.select(
        F.coalesce(local, F.lit("(node)")).alias("path"),
        F.col("focus_node").alias("focusNode"),
        F.col("value"),
        F.substring(F.col("message"), 1, 1024).alias("message"),
    )


def write_violation_workbook(violations: DataFrame, path: str) -> str:
    """Summary sheet + one detail sheet per result path — a REAL .xlsx
    binary like the reference's POI workbook (`XlsReportService.java:
    61-134`), written via openpyxl when available and otherwise by the
    stdlib OOXML writer below (an .xlsx is a zip of sheet XML parts; no
    third-party dependency needed). Returns the path written.
    Single-partition by design — violation stats are tiny relative to the
    corpus."""
    stats = violation_stats(violations).toPandas()
    details = violation_details(violations).toPandas()
    out = path if path.endswith(".xlsx") else path + ".xlsx"
    # sheet names: 31-char excel limit; summary first like the reference
    sheets = [("summary", stats)] + [
        (str(p)[:31], grp) for p, grp in details.groupby("path")
    ]
    try:
        import openpyxl  # noqa: F401
        import pandas as pd

        with pd.ExcelWriter(out) as xl:
            for name, df in sheets:
                df.to_excel(xl, sheet_name=name, index=False)
    except ImportError:
        _write_xlsx_minimal(sheets, out)
    return out


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _write_xlsx_minimal(sheets, out: str) -> None:
    """Dependency-free OOXML spreadsheet writer: the minimal part set
    ([Content_Types], root rels, workbook + rels, one worksheet XML per
    sheet) with inline-string cells (numbers as numeric cells). Fixed zip
    timestamps keep re-exports byte-identical (C4 determinism)."""
    import zipfile

    def cell(ref: str, v) -> str:
        if v is None or (isinstance(v, float) and v != v):
            return f'<c r="{ref}"/>'
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{_xml_escape(str(v))}</t></is></c>"
        )

    def col_ref(i: int) -> str:  # 0 -> A, 26 -> AA
        ref = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            ref = chr(65 + r) + ref
        return ref

    def sheet_xml(df) -> str:
        rows = []
        header = list(df.columns)
        for rn, vals in enumerate([header] + df.values.tolist(), start=1):
            cells = "".join(
                cell(f"{col_ref(ci)}{rn}", v) for ci, v in enumerate(vals)
            )
            rows.append(f'<row r="{rn}">{cells}</row>')
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            + "".join(rows)
            + "</sheetData></worksheet>"
        )

    ns_ct = "http://schemas.openxmlformats.org/package/2006/content-types"
    ns_rel = "http://schemas.openxmlformats.org/package/2006/relationships"
    ns_doc = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheets))
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Types xmlns="{ns_ct}">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        f"{overrides}</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{ns_rel}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    sheet_entries = "".join(
        f'<sheet name="{_xml_escape(name)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _) in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/'
        f'spreadsheetml/2006/main" xmlns:r="{ns_doc}">'
        f"<sheets>{sheet_entries}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{ns_rel}">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.'
            "openxmlformats.org/officeDocument/2006/relationships/worksheet"
            f'" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )
    parts = [
        ("[Content_Types].xml", content_types),
        ("_rels/.rels", root_rels),
        ("xl/workbook.xml", workbook),
        ("xl/_rels/workbook.xml.rels", wb_rels),
    ] + [
        (f"xl/worksheets/sheet{i + 1}.xml", sheet_xml(df))
        for i, (_, df) in enumerate(sheets)
    ]
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in parts:
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
