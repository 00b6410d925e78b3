"""Checks of the program's outputs against DuckDB, computed apart from the
program from the same inputs. Each check returns {op: reason} for the ops
whose output is wrong; an empty dict means every output is right."""
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(fixture_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in TABLES:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _same(a, b, tolerance):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= tolerance.get("abs", 0.0)
    return a == b


def compare(got, exp, tolerance=None):
    """Row-by-row compare of two arrow tables, columns by name, rows in
    order; None if equal, else what differs. Floats are equal exactly,
    or within tolerance["abs"] for the columns in tolerance["cols"]."""
    tolerance = tolerance or {}
    g_cols, e_cols = sorted(got.column_names), sorted(exp.column_names)
    if g_cols != e_cols:
        return f"columns {g_cols} vs {e_cols}"
    if got.num_rows != exp.num_rows:
        return f"rows {got.num_rows} vs {exp.num_rows}"
    for i, (gr, er) in enumerate(zip(got.select(g_cols).to_pylist(), exp.select(e_cols).to_pylist())):
        for c in g_cols:
            tol = tolerance if c in tolerance.get("cols", ()) else {}
            if not _same(gr[c], er[c], tol):
                return f"row {i} column {c}: program {gr[c]!r}, oracle {er[c]!r}"
    return None


def check_queries(work, ops, threads):
    """registry: each query's parquet result against its oracle SQL. A
    query whose oracle is quadratic has a scale referee, an exact and
    cheaper reformulation (SparkEntry.scaleOracleSql), which is used in its
    place; a referee may select the slice of the result it covers."""
    oracles = json.load(open(os.path.join(work, "oracle.json")))
    con = connect(open(os.path.join(work, "fixture_dir")).read().strip(), threads)
    wrong = {}
    for q in ops:
        spec = oracles[q]
        sql = spec.get("referee") or spec.get("oracle")
        if not sql:
            wrong[q] = "no oracle SQL"
            continue
        try:
            got = pq.read_table(os.path.join(work, "results", q))
        except OSError as e:
            wrong[q] = f"no readable output: {e}"
            continue
        if spec.get("referee") and spec.get("slice"):
            con.register("spark_result", got)
            got = con.execute(spec["slice"]).arrow()
            con.unregister("spark_result")
        diff = compare(got, con.execute(sql).arrow())
        if diff:
            wrong[q] = diff
    return wrong


VALID_EVENTS = ("FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL "
                "AND user_id IS NOT NULL AND ts IS NOT NULL")

ATHENA_SQL = f"""
SELECT user_id, year(CAST(ts AS DATE)) AS year, month(CAST(ts AS DATE)) AS month,
       COUNT(*) AS total_registros, CAST(SUM(event_id) AS BIGINT) AS volume_total,
       ROUND(AVG(value), 2) AS media_preco
{VALID_EVENTS}
GROUP BY ALL ORDER BY user_id, year, month"""

SPLIT_RULE = """CASE WHEN instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 12
  THEN 'train' WHEN instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 14
  THEN 'val' ELSE 'test' END"""


def _data_files(path):
    return [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if not os.path.basename(f).startswith((".", "_"))]


def check_etl(work, fixture, results, threads):
    """etl: the outputs of the last pass on disk, and the values every pass
    returned (`results`: {op: {key: [value per pass]}}). An op whose
    output is missing or unreadable (it threw, or its tree is gone) is
    wrong with the reason, and the other ops are still checked."""
    con = connect(fixture, threads)
    out = os.path.join(work, "etl")

    def returned(op, key):
        values = results.get(op, {}).get(key)
        if not values:
            raise LookupError(f"returned no {key}")
        return values

    def collector():
        failing = [t for t in open(os.path.join(fixture, "fetch_failing.txt")).read().split() if t]
        fetch = os.path.join(fixture, "fetch.tsv")
        rows = con.execute(f"SELECT count(*) FROM read_csv('{fetch}', delim = '\t', header = false) "
                           "WHERE column0 NOT IN (SELECT unnest(?::VARCHAR[]))", [failing]).fetchone()[0]
        for n in returned("collector", "rows"):
            yield "ingested rows", int(n), rows
        raw = con.execute(f"SELECT count(*) FROM read_parquet('{out}/raw/*/*.parquet')").fetchone()[0]
        yield "raw rows on disk", raw, rows

    def transform():
        valid = con.execute(f"SELECT count(*) {VALID_EVENTS}").fetchone()[0]
        for n in returned("transform", "rows"):
            yield "refined rows", int(n), valid
        dirs = sorted(os.path.relpath(d, os.path.join(out, "refined"))
                      for d in glob.glob(os.path.join(out, "refined", "*", "*")))
        exp_dirs = [f"dataproc={d}/user_id={u}" for d, u in con.execute(
            f"SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y%m%d'), user_id {VALID_EVENTS} "
            "ORDER BY 1, 2").fetchall()]
        yield "partition directories", sorted(dirs), sorted(exp_dirs)

    def marts_summary():
        oracle = json.load(open(os.path.join(work, "oracle.json")))["b3_flagship_summary"]["oracle"]
        yield "summary", compare(pq.read_table(os.path.join(out, "summary")),
                                 con.execute(oracle).arrow()), None

    def marts_athena():
        # both engines round the mean of doubles to cents, each from its own
        # binary value, so a mean at an exact half cent may differ by one cent
        yield "athena", compare(pq.read_table(os.path.join(out, "athena")),
                                con.execute(ATHENA_SQL).arrow(),
                                {"cols": ["media_preco"], "abs": 0.010001}), None

    def corpus_prep():
        shards = f"read_parquet('{out}/shards/*/*/*.parquet', hive_partitioning = true)"
        yield "rows in the wrong split", con.execute(
            f"SELECT count(*) FROM {shards} WHERE split <> {SPLIT_RULE}").fetchone()[0], 0
        yield "rows not from the corpus", con.execute(
            f"SELECT count(*) FROM {shards} s LEFT JOIN documents d USING (doc_id) "
            "WHERE d.doc_id IS NULL OR d.lang <> s.lang").fetchone()[0], 0
        manifest = con.execute(f"SELECT split, lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens "
                               f"FROM {shards} GROUP BY ALL ORDER BY split, lang").arrow()
        yield "manifest", compare(pq.read_table(os.path.join(out, "manifest")), manifest), None

    def maintenance():
        maint = os.path.join(out, "orders")
        before, after = returned("maintenance", "files_before"), returned("maintenance", "files_after")
        for b, a in zip(before, after):
            yield "file count fell", int(a) < int(b), True
        yield "files on disk", len(_data_files(maint)), int(after[-1])
        yield "rows changed by compaction", con.execute(
            f"SELECT count(*) FROM ((SELECT * FROM orders EXCEPT ALL SELECT * FROM '{maint}/*.parquet') "
            f"UNION ALL (SELECT * FROM '{maint}/*.parquet' EXCEPT ALL SELECT * FROM orders))").fetchone()[0], 0

    wrong = {}
    for check in (collector, transform, marts_summary, marts_athena, corpus_prep, maintenance):
        # each check yields (what, program, expected); an expected of None
        # means `program` is compare()'s diff, None when equal
        try:
            for what, got, exp in check():
                if exp is None and got is not None:
                    wrong[check.__name__] = f"{what}: {got}"
                elif exp is not None and got != exp:
                    wrong[check.__name__] = f"{what}: program {got!r}, expected {exp!r}"
                if check.__name__ in wrong:
                    break
        except Exception as e:  # noqa: BLE001 - a missing output tree, or no returned value
            wrong[check.__name__] = f"no readable output: {type(e).__name__}: {e}"
    return wrong
