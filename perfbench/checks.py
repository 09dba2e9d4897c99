"""Output checks, run once per benchmark run after the timed window.

Every check returns a list of problems; an empty list means the outputs
are correct. The checks recompute each result independently in DuckDB
from the generated inputs, never from the engine's own tables.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run(workload, res):
    c = res["checks"]
    if workload == "streamflow_pipeline":
        return pipeline(c)
    return query_mix(c)


# ------------------------------------------------------------ query mixes

def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _rows(con, sql):
    rel = con.sql(sql)
    cols = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    names = [rel.columns[i] for i in cols]
    return names, [tuple(_cell(r[i]) for i in cols) for r in rel.fetchall()]


def query_mix(c):
    """Each query's cold-pass result against its DuckDB oracle (columns
    sorted by name, values compared exactly, row order included); rows-only
    for queries without an oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{c['tables']}/{t}.parquet'")
    problems = []
    for q in sorted(os.listdir(c["results"])) if os.path.isdir(c["results"]) else []:
        files = glob.glob(os.path.join(c["results"], q, "*.parquet"))
        if not files:
            problems.append(f"{q}: no result written")
            continue
        got_cols, got = _rows(con, f"SELECT * FROM read_parquet({files!r})")
        oracle = c["oracle"].get(q)
        if oracle is None:
            if not got:
                problems.append(f"{q}: no rows (rows-only check)")
            continue
        try:
            exp_cols, exp = _rows(con, oracle)
        except duckdb.Error as e:
            problems.append(f"{q}: oracle failed: {e}")
            continue
        if got_cols != exp_cols:
            problems.append(f"{q}: columns {got_cols} != {exp_cols}")
        elif got != exp:
            bad = [i for i, (a, b) in enumerate(zip(got, exp)) if a != b]
            where = f"first at row {bad[0]}" if bad else f"{len(got)} vs {len(exp)} rows"
            problems.append(f"{q}: result differs from oracle ({where})")
    return problems


# --------------------------------------------------------------- pipeline

EVENT_COLS = ("{'event_id': 'VARCHAR', 'user_id': 'VARCHAR', 'event_type': 'VARCHAR', "
              "'timestamp': 'VARCHAR', 'page': 'VARCHAR', 'device': 'VARCHAR', "
              "'version': 'INTEGER'}")
TX_COLS = ("{'transaction_id': 'VARCHAR', 'user_id': 'VARCHAR', 'transaction_type': 'VARCHAR', "
           "'timestamp': 'VARCHAR', 'status': 'VARCHAR', 'total': 'DOUBLE', "
           "'line_items': 'STRUCT(product_id VARCHAR, category VARCHAR, quantity INTEGER, "
           "unit_price DOUBLE)[]'}")
CUST_COLS = "{'user_id': 'VARCHAR', 'account_type': 'VARCHAR'}"


def _files(landing, batches, pattern):
    return [f for k in batches
            for f in sorted(glob.glob(os.path.join(landing, f"batch_{k:04d}", pattern)))]


def _diff(con, name, got_sql, exp_sql):
    n_got = con.sql(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    n_exp = con.sql(f"SELECT count(*) FROM ({exp_sql})").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({exp_sql}))").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM (({exp_sql}) EXCEPT ALL ({got_sql}))").fetchone()[0]
    if n_got != n_exp or extra or missing:
        return [f"{name}: {n_got} rows vs {n_exp} expected, {extra} unexpected, {missing} missing"]
    return []


def pipeline(c):
    problems = []
    batches = [b["batch"] for b in c["batches"]]
    if not batches:
        return ["no batch completed"]
    con = duckdb.connect()
    ev = _files(c["landing"], batches, "user_events_*.json")
    tx = _files(c["landing"], batches, "transaction_events_*.json")
    con.sql(f"CREATE VIEW ev AS SELECT * FROM read_json({ev!r}, format='newline_delimited', "
            f"columns={EVENT_COLS})")
    con.sql(f"CREATE VIEW tx AS SELECT * FROM read_json({tx!r}, format='newline_delimited', "
            f"columns={TX_COLS})")

    # gold CSV row counts equal the generated counts (line items exploded)
    for b in c["batches"]:
        k = b["batch"]
        for entity, want in (("user_events", b["events"]), ("transaction", b["line_items"])):
            files = glob.glob(os.path.join(c["gold"], f"batch_{k:04d}", entity, "*.csv"))
            got = con.sql(f"SELECT count(*) FROM read_csv({files!r}, header=true, "
                          "all_varchar=true)").fetchone()[0] if files else 0
            etl = b["etl_user_events" if entity == "user_events" else "etl_transaction"]
            if got != want or etl != want:
                problems.append(f"gold batch {k} {entity}: csv {got}, etl {etl}, generated {want}")

    # silver current view = latest-wins over every landed event
    problems += _diff(
        con, "silver",
        f"SELECT event_id, version, page, device, CAST(event_date AS DATE) AS d "
        f"FROM read_parquet('{c['silver']}/**/*.parquet', hive_partitioning=true)",
        "SELECT event_id, version, page, device, CAST(left(timestamp, 10) AS DATE) AS d FROM "
        "(SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY version DESC) rn FROM ev) "
        "WHERE rn = 1")

    # gold daily net revenue = full recompute over published batches
    daily = c["gold_daily"]
    prefix = os.path.basename(daily) + "__applied_"
    published = sorted(f[len(prefix):] for f in os.listdir(os.path.dirname(daily))
                       if f.startswith(prefix))
    problems += _diff(
        con, "gold daily revenue",
        f"SELECT CAST(event_date AS DATE) AS d, event_type, sum(n_events) AS n, "
        f"CAST(sum(total_dec) AS DECIMAL(18,6)) AS v "
        f"FROM read_parquet('{daily}/**/*.parquet', hive_partitioning=true) "
        f"WHERE batch_id IN ({', '.join(repr(p) for p in published) or 'NULL'}) GROUP BY ALL",
        "SELECT CAST(left(timestamp, 10) AS DATE) AS d, transaction_type AS event_type, "
        "count(*) AS n, CAST(sum(CAST(total AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS v "
        "FROM tx WHERE status = 'completed' GROUP BY ALL")

    # fact rows and the two star MVs, recomputed from the landed batches
    con.sql("CREATE VIEW fact AS SELECT user_id, li.category AS category, "
            "CAST(CAST(li.quantity AS DECIMAL(18,2)) * CAST(li.unit_price AS DECIMAL(18,2)) * "
            "(CASE WHEN transaction_type = 'purchase' THEN 1 ELSE -1 END) AS DECIMAL(18,2)) AS amount "
            "FROM (SELECT user_id, transaction_type, unnest(line_items) AS li FROM tx)")
    n_fact = con.sql("SELECT count(*) FROM fact").fetchone()[0]
    if n_fact != c["fact_rows"]:
        problems.append(f"fact_line_items: {c['fact_rows']} rows vs {n_fact} generated")
    cust = [os.path.join(c["landing"], "customers_initial.json")] + \
        _files(c["landing"], batches, "customers_b*.json")
    # a later batch overrides earlier ones (SCD1 MERGE, in batch order);
    # the initial load is batch 0
    con.sql("CREATE VIEW dim AS SELECT user_id, account_type FROM (SELECT *, row_number() OVER "
            "(PARTITION BY user_id ORDER BY coalesce(try_cast(regexp_extract(filename, "
            "'customers_b([0-9]+)', 1) AS INTEGER), 0) DESC) rn FROM read_json("
            f"{cust!r}, format='newline_delimited', columns={CUST_COLS}, filename=true)) "
            "WHERE rn = 1")
    expect = {
        "mv_revenue_by_category":
            "SELECT category, count(*) AS n, sum(amount) AS r FROM fact GROUP BY ALL",
        "mv_revenue_by_account_type":
            "SELECT COALESCE(d.account_type, 'unknown') AS a, count(*) AS n, sum(f.amount) AS r "
            "FROM fact f LEFT JOIN dim d ON f.user_id = d.user_id GROUP BY ALL",
    }
    for mv, sql in expect.items():
        want = sorted(f"{a}\t{n}\t{r}" for a, n, r in con.sql(sql).fetchall())
        path = os.path.join(c["results"], f"{mv}.tsv")
        got = open(path).read().split("\n")[:-1] if os.path.exists(path) else []
        if sorted(got) != want:
            problems.append(f"{mv}: readout differs from its body recomputed from the batches")
    for m in c["mv_modes"]:
        if m["mode"] not in ("full", "incremental", "incremental-repair"):
            problems.append(f"{m['mv']}: unexpected refresh mode {m['mode']}")
    return problems
