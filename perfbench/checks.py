"""Correctness checks, run after the workload JVM has exited.

Each check compares what the program wrote with DuckDB run over the same
generated inputs, or with a law the method must satisfy. `check` returns
a list of problems; an empty list means the run's outputs are correct.
"""
import csv
import glob
import os
from urllib.parse import unquote

import duckdb

import gen

BOM = b"\xef\xbb\xbf"

# exports_results.sql from `base` onward, as EtlQueries renders it for
# DuckDB, over the clean rows of the generated view. ReportJob.run passes
# no tie column, so the dedup orders by `time` alone (unique per scenario
# by construction).
REPORT_SQL = """
WITH v AS (
  SELECT * FROM read_parquet('{view}')
  WHERE results IS NULL OR json_valid(results)),
base AS (
  SELECT "time", "scenarioId", "results",
    COALESCE("exportedLender", '') AS "exportedLender",
    "primaryIncome", "rateType", "loanPurpose",
    "totalProposedLoanAmount", "applicantCount", "householdCount",
    "transactionType", "dependantsCount", "lvr", "lvrBucket",
    "applicantsWithHecs", "paygIncome", "weeklyRentalIncome",
    "selfEmployedIncome",
    CASE WHEN v."exportedLender" IS NOT NULL THEN (
      array_filter(results :: JSON [],
        x -> json_extract_string(x, 'lenderName') = v."exportedLender")
      ) [1]
    ELSE NULL END AS exported_lender_result
  FROM v
  WHERE "isValidExport" = true
    AND "time" >= TIMESTAMPTZ '{start}'
    AND "time" < TIMESTAMPTZ '{end}'),
grouped_by_scenarioId AS (
  SELECT "scenarioId", MAX("time") AS "time",
    MAX_BY("exportedLender", "time") AS "exportedLender",
    MAX_BY("primaryIncome", "time") AS "primaryIncome",
    MAX_BY("rateType", "time") AS "rateType",
    MAX_BY("loanPurpose", "time") AS "loanPurpose",
    MAX_BY("totalProposedLoanAmount", "time") AS "totalProposedLoanAmount",
    MAX_BY("applicantCount", "time") AS "applicantCount",
    MAX_BY("householdCount", "time") AS "householdCount",
    MAX_BY("transactionType", "time") AS "transactionType",
    MAX_BY("dependantsCount", "time") AS "dependantsCount",
    MAX_BY("lvr", "time") AS "lvr",
    MAX_BY("lvrBucket", "time") AS "lvrBucket",
    MAX_BY("applicantsWithHecs", "time") AS "applicantsWithHecs",
    MAX_BY("paygIncome", "time") AS "paygIncome",
    MAX_BY("weeklyRentalIncome", "time") AS "weeklyRentalIncome",
    MAX_BY("selfEmployedIncome", "time") AS "selfEmployedIncome",
    MAX_BY("results", "time") AS "results",
    MAX_BY(exported_lender_result, "time") AS exported_lender_result,
    list_filter(list(exported_lender_result), x -> x IS NOT NULL)
      AS exportedLendersResults
  FROM base GROUP BY "scenarioId"),
with_failing_export AS (
  SELECT *,
    CASE WHEN "exportedLender" = '' THEN true
         WHEN exported_lender_result IS NULL
           OR json_extract_string(exported_lender_result, 'doesService') = 'false'
           OR json_extract_string(exported_lender_result, 'maxBorrowingCapacity') IS NULL
           OR json_extract_string(exported_lender_result, 'maxBorrowingCapacity') = 'null'
           THEN true
         ELSE false END AS failingExport
  FROM grouped_by_scenarioId),
harsh_filtered AS (
  SELECT * FROM with_failing_export WHERE failingExport = false),
with_global_calculations AS (
  SELECT *,
    COUNT(DISTINCT "scenarioId") OVER () AS count_all_unique_scenario_id,
    COUNT(DISTINCT "scenarioId") OVER (PARTITION BY "loanPurpose")
      AS count_all_loan_purpose,
    SUM("totalProposedLoanAmount") OVER ()
      AS sum_all_total_proposed_loan_amount
  FROM harsh_filtered),
lenders AS (
  SELECT DISTINCT "exportedLender" AS lender FROM v
  WHERE "exportedLender" IS NOT NULL),
lender_results AS (
  SELECT g.*, l.lender,
    unnest(COALESCE(NULLIF(
      array_filter(results :: JSON [],
        r -> json_extract_string(r, 'lenderName') = l.lender), []),
      [json_object('lenderName', l.lender)])) AS lender_result
  FROM with_global_calculations g CROSS JOIN lenders l),
performance_extracted AS (
  SELECT *,
    json_extract_string(lender_result, 'lenderName') AS associated_lender,
    json_extract(lender_result, 'performance') AS performance_json
  FROM lender_results
  WHERE json_extract_string(lender_result, 'lenderName') IS NOT NULL),
performance_result AS (
  SELECT *,
    CASE
      WHEN associated_lender != "exportedLender"
        AND EXISTS (
          SELECT 1
          FROM unnest(exportedLendersResults :: JSON []) AS t(exported_result)
          WHERE json_extract_string(exported_result, 'lenderName') = associated_lender
            AND json_extract_string(exported_result, 'doesService') = 'true'
            AND json_extract_string(exported_result, 'maxBorrowingCapacity') IS NOT NULL
            AND json_extract_string(exported_result, 'maxBorrowingCapacity') != 'null')
        THEN 'Secondary Export Deals'
      WHEN performance_json IS NULL THEN 'Not Available Scenarios'
      WHEN json_extract_string(performance_json, 'lenderFailedServicing') = 'true' THEN
        CASE WHEN json_extract_string(performance_json, 'lenderFailedInScope') = 'true'
               THEN 'Failed In Scope Deals'
             WHEN json_extract_string(performance_json, 'lenderFailedOutOfScope') = 'true'
               THEN 'Failed Out of Scope Deals'
             ELSE 'Unknown' END
      WHEN json_extract_string(performance_json, 'lenderPassedServicing') = 'true' THEN
        CASE WHEN json_extract_string(performance_json, 'lenderExportWinner') = 'true'
               THEN 'Export Winner Deals'
             ELSE 'Deals Not Exported' END
      ELSE 'Unknown' END AS performance
  FROM performance_extracted)
SELECT associated_lender, "applicantCount", "applicantsWithHecs",
  "dependantsCount", COALESCE("exportedLender", '') AS "exportedLender",
  "householdCount", "loanPurpose", "lvr", "lvrBucket", "paygIncome",
  "primaryIncome", "rateType", "scenarioId", "selfEmployedIncome",
  strftime("time", '%Y-%m-%d %H:%M:%S') AS "time",
  "totalProposedLoanAmount", "transactionType", "weeklyRentalIncome",
  count_all_loan_purpose, count_all_unique_scenario_id,
  sum_all_total_proposed_loan_amount, performance
FROM performance_result
"""

INT_COLS = {"applicantCount", "applicantsWithHecs", "dependantsCount",
            "householdCount", "count_all_loan_purpose",
            "count_all_unique_scenario_id"}
FLOAT_COLS = {"lvr", "paygIncome", "selfEmployedIncome",
              "totalProposedLoanAmount", "weeklyRentalIncome",
              "sum_all_total_proposed_loan_amount"}


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _read_report_csv(path):
    """One file of the reference CSV dialect: BOM, tab, QUOTE_ALL,
    backslash escape. Returns (header, rows)."""
    with open(path, "rb") as f:
        raw = f.read()
    if not raw.startswith(BOM):
        raise ValueError(f"{path}: no UTF-8 BOM")
    text = raw[len(BOM):].decode("utf-8")
    rows = list(csv.reader(text.splitlines(), delimiter="\t", quotechar='"',
                           escapechar="\\", doublequote=False))
    return rows[0], rows[1:]


def _typed(header, row):
    out = []
    for c, v in zip(header, row):
        if c in INT_COLS:
            out.append(int(v))
        elif c in FLOAT_COLS:
            out.append(float(v))
        elif c == "time":
            if not v.endswith("+0000"):
                raise ValueError(f"time {v!r} is not in the report's UTC dialect")
            out.append(v[:19])
        else:
            out.append(v)
    return tuple(out)


def check_monthly_report(inp, work, facts):
    problems = []
    out_dir, result_dir = facts["out_dir"], facts["result_dir"]
    view = os.path.join(inp, "exports_deals_view.parquet")
    con = _connect()

    qfiles = glob.glob(os.path.join(out_dir, "_quarantine", "*.parquet"))
    q = con.execute(f"SELECT count(*) FROM read_parquet({qfiles!r})").fetchone()[0] if qfiles else 0
    if q != gen.MALFORMED_ROWS:
        problems.append(f"_quarantine holds {q} rows, {gen.MALFORMED_ROWS} malformed rows were injected")

    lender_dirs = sorted(d for d in os.listdir(out_dir) if d.startswith("report_lender="))
    if not lender_dirs:
        problems.append("no report_lender=<lender> directories")
    for d in lender_dirs:
        # Spark writes an empty or null partition value as this name
        value = d.split("=", 1)[1]
        want = "" if value == "__HIVE_DEFAULT_PARTITION__" else unquote(value)
        files = glob.glob(os.path.join(out_dir, d, "*.csv"))
        if not files:
            problems.append(f"{d}: no CSV file")
        for f in files:
            try:
                header, rows = _read_report_csv(f)
            except ValueError as e:
                problems.append(str(e))
                continue
            i = header.index("associated_lender")
            other = {r[i] for r in rows} - {want}
            if other:
                problems.append(f"{f}: rows of lenders {sorted(other)[:3]} in the file of {want}")

    parts = sorted(glob.glob(os.path.join(result_dir, "part-*")))
    if len(parts) != 1:
        problems.append(f"consolidated report has {len(parts)} files, want 1")
    if not parts:
        return problems
    try:
        header, rows = _read_report_csv(parts[0])
    except ValueError as e:
        return problems + [str(e)]
    want_cur = con.execute(REPORT_SQL.format(view=view, start=facts["start"], end=facts["end"]))
    want_cols = [c[0] for c in want_cur.description]
    want = sorted(tuple("" if v is None else v for v in r) for r in want_cur.fetchall())
    if sorted(header) != sorted(want_cols):
        return problems + [f"consolidated header {header} != {want_cols}"]
    order = [header.index(c) for c in want_cols]
    got = sorted(_typed(want_cols, [r[i] for i in order]) for r in rows)
    if len(got) != len(want):
        problems.append(f"consolidated report has {len(got)} rows, DuckDB {len(want)}")
    else:
        bad = [(g, w) for g, w in zip(got, want) if g != w]
        if bad:
            problems.append(f"{len(bad)} consolidated rows differ from DuckDB, e.g. {bad[0]}")
    return problems


def check_index_lifecycle(inp, work, facts):
    problems = []
    done = facts["batches_done"]
    w = facts["cell_words"]
    con = _connect()
    # the cell screen of data_dedup_index_serve's oracle, replayed over the
    # corpus (batch -1) and every batch the run consumed
    con.execute(f"""
    CREATE TABLE docs AS
      SELECT -1 AS batch, doc_id, text FROM read_parquet('{inp}/corpus.parquet')
      UNION ALL
      SELECT batch, doc_id, text FROM read_parquet('{inp}/batches.parquet') WHERE batch < {done}""")
    con.execute(f"""
    CREATE TABLE cells AS
    WITH t AS (SELECT batch, doc_id, string_split_regex(text, '\\s+') AS toks FROM docs)
    SELECT batch, doc_id,
      md5(array_to_string(toks[(i * {w} + 1):(i * {w} + {w})], ' ')) AS h
    FROM (SELECT batch, doc_id, toks,
            unnest(range(0, (len(toks) + {w - 1}) // {w})) AS i FROM t)""")
    con.execute("""
    CREATE TABLE want AS
    WITH first_seen AS (SELECT h, min(batch) AS b0 FROM cells GROUP BY h)
    SELECT c.batch, c.doc_id, count(*) AS n_cells,
      count(*) FILTER (WHERE f.b0 < c.batch) AS n_dup_cells
    FROM cells c JOIN first_seen f USING (h)
    WHERE c.batch >= 0 GROUP BY c.batch, c.doc_id""")
    con.execute(f"""
    CREATE TABLE got AS SELECT * FROM read_csv('{work}/verdicts.csv', header = true,
      columns = {{'kind': 'VARCHAR', 'batch': 'BIGINT', 'doc_id': 'BIGINT',
                 'n_cells': 'BIGINT', 'n_dup_cells': 'BIGINT',
                 'dup_cell_frac': 'DOUBLE', 'is_mostly_dup': 'BOOLEAN'}})""")

    def count(sql):
        return con.execute(sql).fetchone()[0]

    def differ(a, b):
        return count(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))") + \
            count(f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))")

    cols = "batch, doc_id, n_cells, n_dup_cells"
    n = differ(f"SELECT {cols} FROM got WHERE kind = 'serve'", f"SELECT {cols} FROM want")
    if n:
        problems.append(f"{n} serve verdicts differ from the DuckDB replay")
    n = differ(f"SELECT {cols} FROM got WHERE kind = 'asof'",
               f"SELECT {cols} FROM got WHERE kind = 'serve'")
    if n:
        problems.append(f"{n} as-of verdicts differ from the pre-append serve")
    n = count("SELECT count(*) FROM got WHERE kind = 'reserve' AND n_dup_cells <> n_cells")
    if n or not count("SELECT count(*) FROM got WHERE kind = 'reserve'"):
        problems.append(f"{n} documents re-served after their append have novel cells")
    n = differ("SELECT * EXCLUDE (kind) FROM got WHERE kind = 'reserve'",
               "SELECT * EXCLUDE (kind) FROM got WHERE kind = 'compacted'")
    if n:
        problems.append(f"{n} verdicts changed across compaction")
    bad = count("""SELECT count(*) FROM got WHERE
        abs(dup_cell_frac - n_dup_cells::DOUBLE / n_cells) > 1e-12
        OR is_mostly_dup <> (n_dup_cells::DOUBLE / n_cells >= 0.5)""")
    if bad:
        problems.append(f"{bad} verdicts with dup_cell_frac or is_mostly_dup inconsistent with their counts")
    distinct = count("SELECT count(DISTINCT h) FROM cells")
    if not (facts["index_rows"] == facts["index_distinct"] == distinct):
        problems.append(f"index holds {facts['index_rows']} rows, {facts['index_distinct']} "
                        f"distinct cells; DuckDB counts {distinct}")
    if done == 0:
        problems.append("no batch was served")
    return problems


def check(workload, inp, work, facts):
    return {"monthly_report": check_monthly_report,
            "index_lifecycle": check_index_lifecycle}[workload](inp, work, facts)
