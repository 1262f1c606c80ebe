"""Output checks of the daily-batch benchmark.

Every date: the committed rep_fraud partition must equal the generator's
ground truth, and the SCD2 open/closed row counts must equal the generated
churn. Once per run: the last date's partition is recomputed from the raw
drops by DuckDB with the reference's SQL, and both comparisons must catch a
deliberately corrupted row.
"""
import datetime as dt
import glob

import duckdb

from gen import EVENT


def same_rows(a, b):
    return sorted(map(tuple, a)) == sorted(map(tuple, b))


def diff(got, want):
    g, w = set(map(tuple, got)), set(map(tuple, want))
    return (f"{len(got)} rows vs {len(want)} expected; "
            f"unexpected {sorted(g - w)[:2]}, missing {sorted(w - g)[:2]}")


def op_mismatch(got, truth, key):
    """Why a date's captured output is wrong, or None."""
    if "error" in got:
        return got["error"]
    if not same_rows(got["report"], truth[key]):
        return "rep_fraud " + diff(got["report"], truth[key])
    for kind in ("open", "closed"):
        if got[kind] != truth[kind]:
            return f"SCD2 {kind} rows {got[kind]} != expected {truth[kind]}"
    return None


def read_partition(warehouse, date):
    files = glob.glob(f"{warehouse}/rep_fraud/report_dt={date}/*.parquet")
    if not files:
        return []
    con = duckdb.connect()
    rows = con.execute(
        "SELECT strftime(event_dt, '%Y-%m-%d %H:%M:%S'), passport, fio, phone, "
        f"event_type, '{date}' FROM read_parquet(?)", [files]).fetchall()
    return [list(r) for r in rows]


def _day(tag):
    return dt.datetime.strptime(tag, "%d%m%Y").date()


def _tabular(gdir, base):
    for d in ("tabular_src", "drops"):
        hits = glob.glob(f"{gdir}/{d}/{base}.csv")
        if hits:
            return hits[0]
    raise FileNotFoundError(base)


def _evaluate(con, gdir, tags, k, incremental):
    """Rows the reference SQL reports on date k: the five rules over the
    fact (all history in full mode, the {k-1, k} drops in incremental
    mode) and the dims as of date k."""
    tag = tags[k]
    first = max(0, k - 1) if incremental else 0
    parts = [f"SELECT *, DATE '{_day(t)}' AS load_dt FROM read_csv('{gdir}/drops/transactions_{t}.txt', "
             "delim=';', header=true, all_varchar=true)" for t in tags[first:k + 1]]
    con.execute("CREATE OR REPLACE TEMP VIEW raw AS " + " UNION ALL ".join(parts))
    con.execute("""CREATE OR REPLACE TEMP TABLE txn AS SELECT transaction_id AS trans_id,
        CAST(transaction_date AS TIMESTAMP) AS trans_date, card_num,
        CAST(replace(amount, ',', '.') AS DECIMAL(18,2)) AS amt, oper_result, terminal, load_dt
        FROM raw""")
    info = f"{gdir}/info/{tag}"
    con.execute(f"CREATE OR REPLACE TEMP VIEW cards AS SELECT card_num, account AS account_num "
                f"FROM read_parquet('{info}/cards.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW accounts AS SELECT account AS account_num, valid_to, client "
                f"FROM read_parquet('{info}/accounts.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW clients AS SELECT * FROM read_parquet('{info}/clients.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW terminals AS SELECT * FROM read_csv("
                f"'{_tabular(gdir, 'terminals_' + tag)}', header=true, all_varchar=true)")
    con.execute(f"CREATE OR REPLACE TEMP VIEW bl AS SELECT DISTINCT passport FROM read_csv("
                f"'{_tabular(gdir, 'passport_blacklist_' + tag)}', header=true, all_varchar=true)")
    day = _day(tag)
    if incremental:
        base = (f"t.load_dt = DATE '{day}' OR (t.load_dt = DATE '{day}' - 1 AND "
                f"t.trans_date >= TIMESTAMP '{day} 00:00:00' - INTERVAL 1 HOUR)")
    else:
        base = "TRUE"
    e = EVENT
    return con.execute(f"""
    WITH wc AS (
      SELECT t.*, cl.client_id, cl.passport_num FROM txn t
      JOIN cards k USING (card_num) JOIN accounts a USING (account_num)
      JOIN clients cl ON a.client = cl.client_id),
    city AS (SELECT wc.*, m.terminal_city FROM wc JOIN terminals m ON wc.terminal = m.terminal_id),
    r4 AS (SELECT DISTINCT a.trans_id, a.client_id FROM city a JOIN city b
      ON a.card_num = b.card_num AND a.terminal_city <> b.terminal_city
      AND abs(epoch(a.trans_date) - epoch(b.trans_date)) <= 3600),
    win AS (SELECT s.client_id, s.trans_id AS start_id, w.trans_id AS wid,
      w.trans_date AS wdate, w.amt, w.oper_result FROM wc s JOIN wc w
      ON s.client_id = w.client_id
      AND w.trans_date BETWEEN s.trans_date AND s.trans_date + INTERVAL 20 MINUTE),
    grp AS (SELECT client_id, start_id FROM win GROUP BY client_id, start_id
      HAVING count(*) > 3 AND bool_or(oper_result = 'SUCCESS') AND bool_or(oper_result = 'REJECT')),
    ranked AS (SELECT win.*, row_number() OVER (PARTITION BY client_id, start_id
      ORDER BY wdate, wid) AS rn_t FROM win JOIN grp USING (client_id, start_id)),
    first4 AS (SELECT *, row_number() OVER (PARTITION BY client_id, start_id
      ORDER BY amt DESC, wid) AS rn_a FROM ranked WHERE rn_t <= 4),
    r5 AS (SELECT client_id, start_id AS trans_id FROM first4 GROUP BY client_id, start_id
      HAVING sum(CASE WHEN rn_a = rn_t THEN 1 ELSE 0 END) = 4
      AND max(CASE WHEN rn_t = 1 THEN oper_result END) = 'REJECT'
      AND max(CASE WHEN rn_t = 2 THEN oper_result END) = 'REJECT'
      AND max(CASE WHEN rn_t = 3 THEN oper_result END) = 'REJECT'
      AND max(CASE WHEN rn_t = 4 THEN oper_result END) = 'SUCCESS')
    SELECT strftime(t.trans_date, '%Y-%m-%d %H:%M:%S'), cl.passport_num,
      cl.first_name || ' ' || cl.patronymic || ' ' || cl.last_name, cl.phone,
      CASE WHEN bl.passport IS NOT NULL THEN '{e["blacklist"]}'
           WHEN cl.passport_valid_to < t.trans_date THEN '{e["expired"]}'
           WHEN a.valid_to < t.trans_date THEN '{e["invalid"]}'
           WHEN r4.trans_id IS NOT NULL THEN '{e["crosscity"]}'
           ELSE '{e["bruteforce"]}' END,
      '{day}'
    FROM txn t LEFT JOIN cards k USING (card_num) LEFT JOIN accounts a USING (account_num)
    LEFT JOIN clients cl ON a.client = cl.client_id
    LEFT JOIN bl ON cl.passport_num = bl.passport
    LEFT JOIN r4 ON r4.client_id = cl.client_id AND r4.trans_id = t.trans_id
    LEFT JOIN r5 ON r5.client_id = cl.client_id AND r5.trans_id = t.trans_id
    WHERE ({base}) AND (bl.passport IS NOT NULL OR cl.passport_valid_to < t.trans_date
      OR a.valid_to < t.trans_date OR r4.trans_id IS NOT NULL OR r5.trans_id IS NOT NULL)
    """).fetchall()


def duck_report(gdir, tags, k, incremental):
    """Expected rep_fraud partition of date k, from the raw drops. In
    incremental mode the late-edge rows already reported the day before
    are dropped, as the program does (one level deep)."""
    con = duckdb.connect()
    rows = [list(r) for r in _evaluate(con, gdir, tags, k, incremental)]
    if incremental and k > 0:
        prev = {tuple(r[:5]) for r in _evaluate(con, gdir, tags, k - 1, incremental)}
        rows = [r for r in rows if tuple(r[:5]) not in prev]
    return rows


def self_test(rows, *references):
    """Both comparisons must flag a copy of the report with one bad row."""
    if not rows:
        return ["self-test: the checked report is empty"]
    bad = [list(r) for r in rows]
    bad[0][4] = EVENT["bruteforce"] if bad[0][4] != EVENT["bruteforce"] else EVENT["blacklist"]
    return [f"self-test: a corrupted row passed reference #{i}"
            for i, ref in enumerate(references) if same_rows(bad, ref)]
