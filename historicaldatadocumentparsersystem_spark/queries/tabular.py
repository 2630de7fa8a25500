"""Tabular sources: CSV/DSV and XLSX."""

from pyspark.sql import functions as F

from .. import fixtures, sources
from ..extractor import csvx, xlsxx
from . import _fixture, _payload_df, query


def _csvx_num_re() -> str:
    """NUM_RE from the pure parser — generated into the SQL, never
    hand-retyped (no quotes/backslash-escapes to worry about: the
    pattern is plain class syntax valid in both Java and RE2)."""
    return csvx.NUM_RE


def _csv_meta_sql() -> str:
    """Oracle for csv_dialect_meta: the PURE parser
    (extractor.csvx, golden-pinned by tests/test_csvx.py) feeds the
    VALUES rows — proves the Spark reader's dialect sniff equals
    the Spark-free re-derivation."""

    def s(v):
        return "NULL" if v is None else "'" + v.replace("'", "''") \
            + "'"

    rows = []
    for r in fixtures.csv_file_rows(18):
        d = csvx.extract_csv(r["payload"])
        recs = d["records"]
        n_rows = max((x for x, _, _, _ in recs), default=-1) + 1
        n_cols = max((c for _, c, _, _ in recs), default=-1) + 1
        delim = "\\t" if d["delimiter"] == "\t" else d["delimiter"]
        hdr = "true" if d["has_header"] else "false"
        rows.append(f"({s(r['url'])}, {s(delim)}, {hdr}, "
                    f"{n_rows}::bigint, {n_cols}::bigint)")
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, delimiter, has_header, n_rows, n_cols)
        ORDER BY url"""


def _xlsx_sheets_sql() -> str:
    """Oracle for xlsx_sheet_stats: the PURE parser feeds the
    VALUES rows (covers empty sheets, which have no golden cells)."""

    def s(v):
        return "NULL" if v is None else "'" + v.replace("'", "''") \
            + "'"

    rows = []
    for r in fixtures.xlsx_file_rows(16):
        try:
            d = xlsxx.extract_xlsx(r["payload"])
        except Exception:
            continue
        per: dict[int, list[tuple[int, int]]] = {}
        for si, row, col, _, _ in d["cells"]:
            per.setdefault(si, []).append((row, col))
        for si, name in enumerate(d["sheets"]):
            rcs = per.get(si, [])
            rows.append(
                f"({s(r['url'])}, {si}::int, {s(name)}, "
                f"{len(rcs)}::bigint, "
                f"{max((x for x, _ in rcs), default=-1) + 1}"
                "::bigint, "
                f"{max((c for _, c in rcs), default=-1) + 1}"
                "::bigint)")
    vals = ",\n".join(rows)
    return f"""
        SELECT * FROM (VALUES {vals})
        AS t(url, sheet, sheet_name, n_cells, n_rows, n_cols)
        ORDER BY url, sheet"""


_GOLDEN_CSV = _fixture("golden_csv_seed42_n18.parquet")
_GOLDEN_XLSX = _fixture("golden_xlsx_seed42_n16.parquet")


# --- CSV/DSV source (SURVEY §2 S5 widened: RFC 4180 grammar +
# dialect sniffing over web data exports) — cell rows
# hash-checked against the committed golden; dialect metadata
# against the pure-parser-fed VALUES twin
# CSV/DSV cells: committed golden parquet pinned by
# tests/test_csvx.py against the pure re-derivation
@query("csv_records", oracle=lambda: f"""
            SELECT url, row, col, header, value
            FROM read_parquet('{_GOLDEN_CSV}')""")
def q_csv_records(spark, sf_dir):
    df = _payload_df(spark, fixtures.csv_file_rows(18), 8)
    return sources.read_csv_records(df)


@query("csv_dialect_meta", oracle=_csv_meta_sql)
def q_csv_meta(spark, sf_dir):
    df = _payload_df(spark, fixtures.csv_file_rows(18), 8)
    return sources.read_csv_meta(df).orderBy("url")


# per-column typing profile: golden both sides; NUM_RE is
# the shared header-detector constant (anchored, so Java
# find == RE2 regexp_matches)
@query("csv_column_profile", oracle=lambda: f"""
            SELECT url, col, max(header) AS header,
                   count(*)::bigint AS n_values,
                   sum(CASE WHEN value != '' THEN 1 ELSE 0
                       END)::bigint AS n_nonempty,
                   sum(CASE WHEN regexp_matches(value,
                       '{_csvx_num_re()}') THEN 1 ELSE 0
                       END)::bigint AS n_numeric
            FROM read_parquet('{_GOLDEN_CSV}')
            GROUP BY url, col ORDER BY url, col""")
def q_csv_profile(spark, sf_dir):
    # composition over the GOLDEN on both sides (cells==golden
    # is proven by csv_records; this isolates the per-column
    # typing profile) — NUM_RE shared with the header detector
    g = spark.read.parquet(_GOLDEN_CSV)
    return (g.groupBy("url", "col")
            .agg(F.max("header").alias("header"),
                 F.count("*").cast("long").alias("n_values"),
                 F.sum((F.col("value") != "").cast("long"))
                 .alias("n_nonempty"),
                 F.sum(F.col("value").rlike(csvx.NUM_RE)
                       .cast("long")).alias("n_numeric"))
            .orderBy("url", "col"))


# --- XLSX source (tabular OOXML sibling: completes the office
# loader family next to CSV) — cell rows hash-checked against
# the committed golden; per-sheet extent against the
# pure-parser-fed VALUES twin
# XLSX cells: committed golden parquet pinned by
# tests/test_xlsx.py against the pure re-derivation
@query("xlsx_cells", oracle=lambda: f"""
            SELECT url, sheet, sheet_name, row, col, cell_type,
                   value
            FROM read_parquet('{_GOLDEN_XLSX}')""")
def q_xlsx_cells(spark, sf_dir):
    df = _payload_df(spark, fixtures.xlsx_file_rows(16), 8)
    return sources.read_xlsx_cells(df)


@query("xlsx_sheet_stats", oracle=_xlsx_sheets_sql)
def q_xlsx_sheets(spark, sf_dir):
    df = _payload_df(spark, fixtures.xlsx_file_rows(16), 8)
    return (sources.read_xlsx_sheets(df)
            .orderBy("url", "sheet"))


# per-sheet header detection (CSV-family rules, shared
# NUM_RE) + header names joined onto data cells: golden
# both sides
@query("spreadsheet_header_records", oracle=lambda: f"""
            WITH g AS (SELECT * FROM
                       read_parquet('{_GOLDEN_XLSX}')),
            hdr AS (
              SELECT url, sheet,
                     (sum(CASE WHEN value IS NULL OR value = ''
                               OR regexp_matches(value,
                                  '{_csvx_num_re()}')
                          THEN 1 ELSE 0 END) = 0
                      AND count(DISTINCT lower(value)) = count(*))
                       AS has_header
              FROM g WHERE row = 0 GROUP BY url, sheet),
            names AS (
              SELECT url, sheet, col AS hcol, value AS header
              FROM g WHERE row = 0),
            data AS (
              SELECT g.*, h.has_header
              FROM g JOIN hdr h USING (url, sheet)
              WHERE g.row > 0 OR NOT h.has_header)
            SELECT d.url, d.sheet, d.row, d.col, n.header, d.value
            FROM data d LEFT JOIN names n
              ON d.url = n.url AND d.sheet = n.sheet
             AND d.col = n.hcol AND d.has_header
            ORDER BY d.url, d.sheet, d.row, d.col""")
def q_sheet_headers(spark, sf_dir):
    # composition over the GOLDEN on both sides (cells==golden
    # is proven by xlsx_cells): per-sheet header detection with
    # the CSV family's rules (csvx.NUM_RE shared), then header
    # names joined onto the data cells
    g = spark.read.parquet(_GOLDEN_XLSX)
    first = g.where(F.col("row") == 0)
    hdr = (first.groupBy("url", "sheet")
           .agg(((F.sum((F.col("value").isNull()
                         | (F.col("value") == "")
                         | F.col("value").rlike(csvx.NUM_RE))
                        .cast("long")) == 0)
                 & (F.countDistinct(F.lower("value"))
                    == F.count(F.lit(1))))
                .alias("has_header")))
    names = first.select("url", "sheet",
                         F.col("col").alias("hcol"),
                         F.col("value").alias("header"))
    data = (g.join(hdr, ["url", "sheet"])
            .where((F.col("row") > 0) | ~F.col("has_header")))
    return (data.join(
        names,
        (data["url"] == names["url"])
        & (data["sheet"] == names["sheet"])
        & (data["col"] == names["hcol"])
        & data["has_header"], "left")
        .select(data["url"], data["sheet"], data["row"],
                data["col"], names["header"], data["value"])
        .orderBy("url", "sheet", "row", "col"))
