"""Answer checks, run outside the timed region.

QCEW answers (qcew_ingest, qcew_serve) are recomputed by DuckDB from
the raw extract, decoded independently in SQL. Registry answers
(registry_mix) are compared with each query's DuckDB oracle
(graft.SparkEntry.oracleSql) under the hash rule of
tools/local_verify.py: columns sorted by name, rows sorted by their
rendered cells, exact rendered-cell equality; a float that only matches
within tolerance counts as a mismatch.
"""
import decimal
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# ---- QCEW: independent decode of the raw extract ---------------------

def _fld(pos, ln):
    return f"trim(substring(l, {pos}, {ln}))"


def qcew_records(con, qcew_dir, cache):
    """Table `rec`: the fields the pipeline consumes, decoded by DuckDB."""
    if not os.path.exists(cache):
        lines = []
        for f in sorted(glob.glob(os.path.join(qcew_dir, "raw", "qcew", "*", "*.txt"))):
            text = open(f, "rb").read().decode("latin-1")
            lines.extend(text.split("\n")[:-1] if text.endswith("\n") else text.split("\n"))
        con.register("lines", pa.table({"line": lines}))
        con.execute(f"""
            COPY (SELECT TRY_CAST({_fld(4, 4)} AS BIGINT) AS year,
                         TRY_CAST({_fld(8, 1)} AS BIGINT) AS qtr,
                         {_fld(591, 6)} AS naics_code,
                         TRY_CAST({_fld(606, 6)} AS BIGINT) AS m1,
                         TRY_CAST({_fld(613, 6)} AS BIGINT) AS m2,
                         TRY_CAST({_fld(620, 6)} AS BIGINT) AS m3,
                         TRY_CAST({_fld(627, 11)} AS BIGINT) AS total_wages
                  FROM (SELECT regexp_replace(line, '\\r$', '') AS l FROM lines))
            TO '{cache}' (FORMAT PARQUET)""")
        con.unregister("lines")
    con.execute(f"CREATE OR REPLACE VIEW rec AS SELECT * FROM read_parquet('{cache}')")
    d = os.path.join(qcew_dir, "dims")
    con.execute(f"""CREATE OR REPLACE VIEW wages_q AS SELECT * FROM read_csv('{d}/wages_q.csv',
        header = true, columns = {{'year': 'INTEGER', 'qtr': 'INTEGER', 'naics_code': 'VARCHAR',
        'total_wages': 'VARCHAR', 'taxable_wages': 'VARCHAR'}})""")
    con.execute(f"""CREATE OR REPLACE VIEW naics_desc AS SELECT * FROM read_csv('{d}/naics_desc.csv',
        header = true, columns = {{'naics_code': 'VARCHAR', 'naics_desc': 'VARCHAR'}})""")
    con.execute(f"""CREATE OR REPLACE VIEW naics_invalid AS SELECT * FROM read_csv('{d}/invalid.csv',
        header = true, columns = {{'naics_data': 'VARCHAR'}})""")


def _naics_agg(where):
    return f"""
        SELECT year, qtr, naics4, CAST(sum(total_wages) AS BIGINT) AS total_wages,
               avg(te) AS total_employment, count(*) AS dummy,
               CAST(sum(total_wages) AS DOUBLE) * CAST(0.014 AS DOUBLE) AS fondo_contributions,
               CAST(sum(total_wages) AS DOUBLE) * CAST(0.0145 AS DOUBLE) AS medicare_contributions,
               CAST(sum(total_wages) AS DOUBLE) * CAST(0.062 AS DOUBLE) AS ssn_contributions
        FROM (SELECT year, qtr, substring(naics_code, 1, 4) AS naics4,
                     (m1 + m2 + m3) / CAST(3.0 AS DOUBLE) AS te, total_wages
              FROM rec WHERE {where})
        WHERE naics4 <> '' GROUP BY ALL HAVING count(*) > 4"""


_MEASURED = """
    SELECT time_period, '(N' || naics_4digit || ') ' || naics_desc AS naics_desc, total_wages
    FROM (SELECT w.*, CAST(w.year AS VARCHAR) || '-q' || CAST(w.qtr AS VARCHAR) AS time_period,
                 substring(w.naics_code, 1, 4) AS naics_4digit FROM wages_q w) x
    LEFT JOIN (SELECT naics_code AS k, naics_desc FROM naics_desc) d ON x.naics_4digit = d.k
    WHERE naics_4digit <> '0'
      AND naics_4digit NOT IN (SELECT naics_data FROM naics_invalid WHERE naics_data IS NOT NULL)
      AND total_wages IS NOT NULL AND trim(total_wages) <> ''"""


def _industry_monthly(n4):
    return f"""
        WITH base AS (SELECT year, qtr, sum(m1) AS m1, sum(m2) AS m2, sum(m3) AS m3 FROM rec
                      WHERE substring(naics_code, 1, 4) = '{n4}' AND year IS NOT NULL
                      GROUP BY year, qtr)
        SELECT year, qtr, employment, month, make_date(year, month, 1) AS date FROM (
            SELECT year, qtr, m1 AS employment, CAST((qtr - 1) * 3 + 1 AS INTEGER) AS month FROM base
            UNION ALL SELECT year, qtr, m2, CAST((qtr - 1) * 3 + 2 AS INTEGER) FROM base
            UNION ALL SELECT year, qtr, m3, CAST((qtr - 1) * 3 + 3 AS INTEGER) FROM base)"""


def qcew_sql(key):
    """DuckDB SQL for one QCEW operation key (see Main.request)."""
    f = key.split(" ")
    if f[0] == "aggall":
        return _naics_agg("true")
    if f[0] == "agg":
        return _naics_agg(f"year BETWEEN {int(f[1])} AND {int(f[2])}")
    if f[0] == "series":
        return f"""SELECT time_period, sum(CAST(total_wages AS DOUBLE)) AS nominas
                   FROM ({_MEASURED}) WHERE naics_desc = '(N{f[1]}) Industry {f[1]}'
                   GROUP BY time_period"""
    if f[0] == "picklist":
        return f"SELECT DISTINCT naics_desc FROM ({_MEASURED})"
    if f[0] == "resample":
        m = _industry_monthly(f[2])
        if f[1] == "monthly":
            return m
        if f[1] == "quarterly":
            return f"""SELECT year, qtr, avg(employment) AS employment,
                              make_date(year, CAST((qtr - 1) * 3 + 1 AS INTEGER), 1) AS date
                       FROM ({m}) GROUP BY year, qtr"""
        return f"""SELECT year, avg(employment) AS employment, make_date(year, 1, 1) AS date
                   FROM ({m}) GROUP BY year"""
    if f[0] == "diffs":
        codes = ", ".join(f"'{c}'" for c in f[1:])
        return f"""
            WITH base AS (SELECT substring(naics_code, 1, 4) AS naics4, year, qtr,
                                 CAST(sum(total_wages) AS BIGINT) AS wages
                          FROM rec WHERE substring(naics_code, 1, 4) IN ({codes})
                            AND year BETWEEN 2001 AND 2022 GROUP BY ALL),
                 l AS (SELECT *, lag(wages) OVER (PARTITION BY naics4 ORDER BY year, qtr) AS prev
                       FROM base)
            SELECT naics4, year, qtr, wages, wages - prev AS wages_diff,
                   CAST(wages - prev AS DOUBLE) / CAST(prev AS DOUBLE) AS wages_diff_p FROM l"""
    raise ValueError(f"unknown operation {key!r}")


def _cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return str(a) == str(b)
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def _canon(v):
    if v is None:
        return (0, "")
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        return (1, f"{float(v):.6e}")
    return (2, str(v))


def check_qcew(con, answers_dir):
    """{key: error or None} for every answer the JVM wrote."""
    out = {}
    for ent in json.load(open(os.path.join(answers_dir, "index.json"))):
        key = ent["key"]
        with open(os.path.join(answers_dir, ent["file"]), encoding="utf-8") as fh:
            cols = json.loads(fh.readline())
            spark_rows = [json.loads(x) for x in fh if x.strip()]
        try:
            rel = con.execute(qcew_sql(key))
            duck_cols = [d[0] for d in rel.description]
            duck_rows = [[v if not hasattr(v, "isoformat") else v.isoformat() for v in r]
                         for r in rel.fetchall()]
            idx = [duck_cols.index(c) for c in cols]
            duck_rows = [[r[i] for i in idx] for r in duck_rows]
            s = sorted(spark_rows, key=lambda r: [_canon(v) for v in r])
            d = sorted(duck_rows, key=lambda r: [_canon(v) for v in r])
            if len(s) != len(d):
                out[key] = f"rows spark={len(s)} duckdb={len(d)}"
            else:
                bad = next(((x, y) for x, y in zip(s, d)
                            if not all(_cell_eq(p, q) for p, q in zip(x, y))), None)
                out[key] = None if bad is None else f"row spark={bad[0]} duckdb={bad[1]}"
        except Exception as e:  # a column the oracle lacks is a mismatch too
            out[key] = f"check failed: {e}"[:300]
    return out


# ---- registry: oracle SQL under the local_verify hash rule -----------

def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _sorted_rows(con, sql):
    tbl = con.execute(sql).fetch_arrow_table()
    cols = tbl.column_names
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(d[cols[i]] for i in order) for d in tbl.to_pylist()]
    rows.sort(key=lambda r: tuple(_norm(c) for c in r))
    return [cols[i].lower() for i in order], rows


def check_registry(answers_dir, tables_dir, cache_dir):
    """{key: error or None}; oracle results are cached by SQL text."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for ent in json.load(open(os.path.join(answers_dir, "index.json"))):
        key, sql = ent["key"], ent["oracle"]
        try:
            cf = os.path.join(cache_dir, hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
            if os.path.exists(cf):
                ocols, orows = pickle.load(open(cf, "rb"))
            else:
                ocols, orows = _sorted_rows(con, sql)
                pickle.dump((ocols, orows), open(cf + ".tmp", "wb"))
                os.replace(cf + ".tmp", cf)
            scols, srows = _sorted_rows(
                con, f"SELECT * FROM read_parquet('{answers_dir}/{ent['dir']}/*.parquet')")
            if scols != ocols:
                out[key] = f"schema spark={scols} oracle={ocols}"
            elif len(srows) != len(orows):
                out[key] = f"rows spark={len(srows)} oracle={len(orows)}"
            else:
                bad = next(((a, b) for sr, orr in zip(srows, orows)
                            for a, b in zip(sr, orr) if _norm(a) != _norm(b)), None)
                out[key] = None if bad is None else f"value spark={bad[0]!r} oracle={bad[1]!r}"
        except Exception as e:
            out[key] = f"check failed: {e}"[:300]
    return out
