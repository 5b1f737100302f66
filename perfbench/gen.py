"""Seeded input generators, one per workload.

The same seed gives the same files. Row-level randomness comes from
DuckDB's `hash(seed, row, salt)`, which is deterministic and independent of
thread scheduling; the document generator uses Python's `random.Random`.
"""
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# monthly_report: the exports-deals view (FIXTURES §A1/A2).
VIEW_ROWS = 6000
VIEW_SCENARIOS = 2000
LENDERS = 49
MALFORMED_ROWS = 25          # rows whose `results` is truncated JSON

# index_lifecycle: corpus plus ingest batches of whole 4-word cells.
CELL_WORDS = 4
CORPUS_DOCS = 3000
BATCH_DOCS = 40
CELLS_PER_DOC = (6, 14)
SEEN_SHARE = 0.5             # share of a batch's cells already seen before it
VOCAB = 5000


def _u(seed, salt, row="i"):
    """Uniform [0, 1) per (seed, row, salt)."""
    return f"((hash({seed}, {row}, '{salt}') % 1000000007)::DOUBLE / 1000000007)"


def _pick(seed, salt, values, row="i"):
    vals = ", ".join(f"'{v}'" for v in values)
    return f"([{vals}])[1 + floor({_u(seed, salt, row)} * {len(values)})::BIGINT]"


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def lender(n):
    return f"Lender{n:02d}"


def exports_view(seed, out):
    """Exports-deals view: VIEW_SCENARIOS scenarios with several records
    each, `time` unique within a scenario (ReportJob.run passes no tie
    column to its dedup), spread over Nov 2023 - Feb 2024 around the
    January report window, plus MALFORMED_ROWS rows of truncated JSON."""
    con = _connect()
    lenders = ", ".join(f"'{lender(n)}'" for n in range(1, LENDERS + 1))
    s = seed
    elem = f"""'{{"lenderName":"' || ([{lenders}])[1 + (b + j * st) % {LENDERS}] ||
        '","doesService":"' || CASE WHEN {_u(s, 'svc', 'i * 8 + j')} < 0.7 THEN 'true' ELSE 'false' END || '"' ||
        CASE WHEN {_u(s, 'cap', 'i * 8 + j')} < 0.1 THEN ''
             WHEN {_u(s, 'cap', 'i * 8 + j')} < 0.2 THEN ',"maxBorrowingCapacity":"null"'
             ELSE ',"maxBorrowingCapacity":"' || CAST(1000 * (200 + floor({_u(s, 'capv', 'i * 8 + j')} * 1800)::BIGINT) AS VARCHAR) || '"' END ||
        CASE WHEN {_u(s, 'perf', 'i * 8 + j')} < 0.15 THEN '' ELSE
          ',"performance":{{"lenderPassedServicing":"' || CASE WHEN {_u(s, 'p1', 'i * 8 + j')} < 0.6 THEN 'true' ELSE 'false' END ||
          '","lenderExportWinner":"' || CASE WHEN {_u(s, 'p2', 'i * 8 + j')} < 0.3 THEN 'true' ELSE 'false' END ||
          '","lenderFailedServicing":"' || CASE WHEN {_u(s, 'p3', 'i * 8 + j')} < 0.4 THEN 'true' ELSE 'false' END ||
          '","lenderFailedInScope":"' || CASE WHEN {_u(s, 'p4', 'i * 8 + j')} < 0.5 THEN 'true' ELSE 'false' END ||
          '","lenderFailedOutOfScope":"' || CASE WHEN {_u(s, 'p5', 'i * 8 + j')} < 0.5 THEN 'true' ELSE 'false' END || '"}}' END || '}}'"""
    con.execute(f"""
    CREATE TABLE raw AS
    SELECT i,
      floor({_u(s, 'b')} * {LENDERS})::BIGINT AS b,
      1 + floor({_u(s, 'st')} * 6)::BIGINT AS st,
      2 + floor({_u(s, 'k')} * 5)::BIGINT AS k,
      {_u(s, 'ex')} AS ex
    FROM range({VIEW_ROWS}) t(i)""")
    con.execute(f"""
    CREATE TABLE v AS
    SELECT
      CAST(TIMESTAMP '2023-11-15' + to_seconds(floor({_u(s, 't')} * 92 * 86400)::BIGINT)
           + to_microseconds(i) AS TIMESTAMPTZ) AS "time",
      'S' || CAST(hash({s}, i % {VIEW_SCENARIOS}, 'scn') % 100000000 AS VARCHAR) AS "scenarioId",
      CASE WHEN {_u(s, 'nores')} < 0.02 THEN NULL
           ELSE '[' || array_to_string(list_transform(range(k), j -> {elem}), ',') || ']' END AS results,
      CASE WHEN ex < 0.03 THEN NULL
           WHEN ex < 0.05 THEN ''
           WHEN ex < 0.65 THEN ([{lenders}])[1 + b]
           ELSE ([{lenders}])[1 + floor({_u(s, 'other')} * {LENDERS})::BIGINT] END AS "exportedLender",
      {_pick(s, 'inc', ['PAYG', 'Self Employed', 'Rental'])} AS "primaryIncome",
      {_pick(s, 'rate', ['Fixed', 'Variable'])} AS "rateType",
      {_pick(s, 'purp', ['Purchase', 'Refinance', 'Investment'])} AS "loanPurpose",
      CAST(1000 * (100 + floor({_u(s, 'amt')} * 1900)::BIGINT) AS DOUBLE) AS "totalProposedLoanAmount",
      1 + floor({_u(s, 'app')} * 3)::BIGINT AS "applicantCount",
      1 + floor({_u(s, 'hh')} * 2)::BIGINT AS "householdCount",
      {_pick(s, 'tx', ['Purchase', 'Refinance'])} AS "transactionType",
      floor({_u(s, 'dep')} * 4)::BIGINT AS "dependantsCount",
      round(0.3 + {_u(s, 'lvr')} * 0.65, 2) AS lvr,
      {_pick(s, 'lvrb', ['0-60', '60-80', '80-90', '90-95'])} AS "lvrBucket",
      floor({_u(s, 'hecs')} * 3)::BIGINT AS "applicantsWithHecs",
      round(40000 + {_u(s, 'payg')} * 160000, 2) AS "paygIncome",
      round({_u(s, 'rent')} * 900, 2) AS "weeklyRentalIncome",
      round({_u(s, 'self')} * 250000, 2) AS "selfEmployedIncome",
      {_u(s, 'valid')} < 0.92 AS "isValidExport"
    FROM raw""")
    # Exactly MALFORMED_ROWS distinct rows get a truncated `results`.
    con.execute(f"""
    UPDATE v SET results = '[{{"lenderName":"{lender(1)}","doesService":"tr'
    WHERE rowid IN (SELECT rowid FROM v ORDER BY hash({s}, rowid, 'bad') LIMIT {MALFORMED_ROWS})""")
    con.execute(f"COPY v TO '{out}/exports_deals_view.parquet' (FORMAT PARQUET)")
    con.close()


def documents(seed, out, n_batches):
    """A corpus of CORPUS_DOCS documents and n_batches ingest batches of
    BATCH_DOCS documents. Every document is a run of whole 4-word cells, so
    cell boundaries are exact; in a batch, SEEN_SHARE of the cells repeat a
    cell seen in the corpus or an earlier batch and the rest are new, so
    every append writes files and compaction has work to do."""
    rng = random.Random(seed)
    seen = []

    def fresh():
        return " ".join(f"w{rng.randrange(VOCAB)}" for _ in range(CELL_WORDS))

    def doc(seen_share):
        cells = []
        for _ in range(rng.randint(*CELLS_PER_DOC)):
            cells.append(rng.choice(seen) if seen and rng.random() < seen_share else fresh())
        return cells

    corpus = []
    for d in range(CORPUS_DOCS):
        cells = doc(0.1)
        corpus.append((d, " ".join(cells)))
        seen.extend(cells)
    batch_rows = []
    doc_id = CORPUS_DOCS
    for b in range(n_batches):
        batch_cells = []
        for _ in range(BATCH_DOCS):
            cells = doc(SEEN_SHARE)
            batch_rows.append((b, doc_id, " ".join(cells)))
            batch_cells.extend(cells)
            doc_id += 1
        seen.extend(batch_cells)
    corpus_t = pa.table({"doc_id": pa.array([d for d, _ in corpus], pa.int64()),
                         "text": [t for _, t in corpus]})
    batches_t = pa.table({"batch": pa.array([r[0] for r in batch_rows], pa.int64()),
                          "doc_id": pa.array([r[1] for r in batch_rows], pa.int64()),
                          "text": [r[2] for r in batch_rows]})
    pq.write_table(corpus_t, os.path.join(out, "corpus.parquet"))
    # one row group per batch, so a batch read prunes to its own rows
    pq.write_table(batches_t, os.path.join(out, "batches.parquet"), row_group_size=BATCH_DOCS)
    with open(os.path.join(out, "n_batches.txt"), "w") as f:
        f.write(f"{n_batches}\n")


def generate(workload, seed, out, seconds):
    os.makedirs(out, exist_ok=True)
    if workload == "monthly_report":
        exports_view(seed, out)
    elif workload == "index_lifecycle":
        # enough batches that the run's time, not its input, ends the loop
        documents(seed, out, n_batches=max(80, int(seconds * 12)))
    else:
        raise ValueError(f"unknown workload {workload}")
