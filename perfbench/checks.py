"""Output checks, evaluated with DuckDB over what the engine wrote.

Each check returns a list of failure messages (empty = pass); the
runner counts every failure against the number of checks attempted.
"""
import glob
import json
import os

import duckdb

from gen import DB_COLS

INF = "9999-12-31 00:00:00"

# (dimension table, key column, JDBC source table or None for the file-fed terminals)
DIMS = [("dim_terminals_hist", "terminal_id", None),
        ("dim_cards_hist", "card_num", "cards"),
        ("dim_accounts_hist", "account_num", "accounts"),
        ("dim_clients_hist", "client_id", "clients")]


def _tbl(wh, name):
    return f"read_parquet('{wh}/{name}/**/*.parquet', hive_partitioning = false)"


def source_db(inputs, last_slot):
    """The JDBC source tables after day `last_slot`'s change log, as
    {table: {key: row}} (replaying gen.py's init load and change logs)."""
    db = {t: {} for t in DB_COLS}
    files = [f"{inputs}/db/init.csv"] + [f"{inputs}/db/ops_{s:02d}.csv" for s in range(1, last_slot + 1)]
    for path in files:
        with open(path) as f:
            for line in f:
                fields = line.rstrip("\n").split(";")
                if len(fields) < 3:
                    continue
                table, op, vals = fields[0], fields[1], fields[2:]
                row = dict(zip(DB_COLS[table], vals))
                key = vals[0]
                if op == "D":
                    db[table].pop(key, None)
                else:
                    db[table][key] = row
    return db


def _delivered(inputs, last_slot, prefix):
    return [p for s in range(0, last_slot + 1)
            for p in sorted(glob.glob(f"{inputs}/land/day_{s:02d}/{prefix}_*"))]


def pipeline_checks(inputs, wh, wh_once, last_slot, report_dt):
    """Returns (checks_attempted, failures, counts) for a replay that
    processed days 0..last_slot into warehouse `wh`."""
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql("SET default_null_order = 'nulls_first'")
    fails, n = [], 0

    def check(name, ok, detail=""):
        nonlocal n
        n += 1
        if not ok:
            fails.append(f"{name}: {detail}"[:400])

    # 1. fact table = distinct transaction ids delivered.
    ids = set()
    for p in _delivered(inputs, last_slot, "transactions"):
        with open(p) as f:
            next(f)
            ids.update(line.split(";", 1)[0] for line in f if line.strip())
    got = con.sql(f"SELECT transaction_id FROM {_tbl(wh, 'fact_transactions')}").fetchall()
    got_ids = [r[0] for r in got]
    check("fact = distinct delivered ids", len(got_ids) == len(set(got_ids)) == len(ids)
          and set(got_ids) == ids,
          f"fact rows {len(got_ids)} distinct {len(set(got_ids))} delivered {len(ids)}")

    # 2. watermarks.
    wm = dict(con.sql(f"SELECT table_name, CAST(CAST(max_update_dt AS TIMESTAMP) AS VARCHAR) FROM {_tbl(wh, 'meta_date')} "
                      f"WHERE schema_name = 'stg'").fetchall())
    last_file = sorted(_delivered(inputs, last_slot, "transactions"))[-1]
    stamp = os.path.basename(last_file).split("_")[1][:8]
    file_day = f"{stamp[4:8]}-{stamp[2:4]}-{stamp[0:2]} 00:00:00"
    db = source_db(inputs, last_slot)
    expected = {"transactions": file_day, "blacklist": file_day, "terminals": file_day}
    for t, rows in db.items():
        expected[t] = max((r["update_dt"] or r["create_dt"]) for r in rows.values())
    for t, want in expected.items():
        check(f"watermark {t}", wm.get(t) == want, f"got {wm.get(t)} want {want}")

    # 3. SCD2 invariants on all four dimensions.
    snap = sorted(_delivered(inputs, last_slot, "terminals"))[-1]
    with open(snap) as f:
        next(f)
        live_terms = {line.split(";", 1)[0] for line in f if line.strip()}
    for dim, key, src in DIMS:
        rel = _tbl(wh, dim)
        multi_open = con.sql(f"SELECT count(*) FROM (SELECT {key} FROM {rel} "
                             f"WHERE effective_to = TIMESTAMP '{INF}' GROUP BY 1 HAVING count(*) <> 1)").fetchone()[0]
        no_open = con.sql(f"SELECT count(DISTINCT {key}) FROM {rel} WHERE {key} NOT IN "
                          f"(SELECT {key} FROM {rel} WHERE effective_to = TIMESTAMP '{INF}')").fetchone()[0]
        check(f"{dim}: one open version per key", multi_open == 0 and no_open == 0,
              f"{multi_open} keys with several open versions, {no_open} with none")
        overlaps = con.sql(f"SELECT count(*) FROM (SELECT effective_to, lead(effective_from) OVER "
                           f"(PARTITION BY {key} ORDER BY effective_from) AS nxt FROM {rel}) "
                           f"WHERE nxt IS NOT NULL AND nxt <= effective_to").fetchone()[0]
        check(f"{dim}: no overlapping versions", overlaps == 0, f"{overlaps} overlaps")
        live = live_terms if src is None else set(db[src])
        open_rows = con.sql(f"SELECT {key}, deleted_flg FROM {rel} "
                            f"WHERE effective_to = TIMESTAMP '{INF}'").fetchall()
        wrong = [(k, flg) for k, flg in open_rows if (flg == "N") != (k in live)]
        missing = live - {k for k, _ in open_rows}
        check(f"{dim}: vanished keys marked 'Y', live keys 'N'", not wrong and not missing,
              f"{len(wrong)} wrong flags e.g. {wrong[:3]}, {len(missing)} live keys missing")

    # 4. replay = one run over every file at once (file-sourced tables).
    for t in ("fact_transactions", "fact_blacklist", "dim_terminals_hist"):
        a, b = _tbl(wh, t), _tbl(wh_once, t)
        try:
            d = con.sql(f"SELECT count(*) FROM ((SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}) "
                        f"UNION ALL (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))").fetchone()[0]
            check(f"{t}: replay = all-at-once", d == 0, f"{d} differing rows")
        except duckdb.Error as e:
            check(f"{t}: replay = all-at-once", False, str(e))

    # 5. last report = the four rules evaluated here over the warehouse.
    rep = _tbl(wh, "rep_fraud")
    want = report_sql(wh, report_dt)
    cols = "event_dt, passport, fio, phone, event_type, report_dt"
    got_rel = f"SELECT {cols} FROM {rep} WHERE report_dt = TIMESTAMP '{report_dt}'"
    d = con.sql(f"SELECT count(*) FROM (({got_rel}) EXCEPT ALL ({want})) "
                f"UNION ALL SELECT count(*) FROM (({want}) EXCEPT ALL ({got_rel}))").fetchall()
    n_got = con.sql(f"SELECT count(*) FROM ({got_rel})").fetchone()[0]
    check("last report = rules over warehouse", d[0][0] == 0 and d[1][0] == 0 and n_got > 0,
          f"{n_got} report rows, engine-only {d[0][0]}, oracle-only {d[1][0]}")

    counts = scd2_counts(con, wh, inputs)
    return n, fails, counts


def report_sql(wh, report_dt):
    """`Pipeline.reportFrame` (the reference's report.py) as DuckDB SQL."""
    t = lambda name: _tbl(wh, name)
    return f"""
    WITH cl AS (
      SELECT f.transaction_id, f.transaction_date, f.amount, f.card_num, f.oper_type,
             f.oper_result, ter.terminal_city, k.passport_num, k.phone, k.passport_valid_to,
             a.valid_to, c.effective_from AS c_from, a.effective_from AS a_from,
             k.effective_from AS k_from, b.passport_num AS bl_passport,
             concat_ws(' ', k.last_name, k.first_name, k.patronymic) AS fio,
             coalesce(CAST(b.entry_dt AS TIMESTAMP), TIMESTAMP '{INF}') AS bl_entry_dt
      FROM {t('fact_transactions')} f
      LEFT JOIN {t('dim_terminals_hist')} ter ON f.terminal = ter.terminal_id
        AND f.transaction_date > ter.effective_from AND f.transaction_date < ter.effective_to
        AND ter.deleted_flg = 'N'
      LEFT JOIN {t('dim_cards_hist')} c ON trim(f.card_num) = trim(c.card_num)
      LEFT JOIN {t('dim_accounts_hist')} a ON c.account_num = a.account_num
      LEFT JOIN {t('dim_clients_hist')} k ON a.client = k.client_id
      LEFT JOIN {t('fact_blacklist')} b ON trim(k.passport_num) = trim(b.passport_num)),
    lg AS (
      SELECT *,
        lag(terminal_city) OVER w AS lag_city,
        epoch_us(transaction_date) - epoch_us(lag(transaction_date) OVER w) AS gap_us,
        lag(oper_result, 1) OVER w AS res1, lag(oper_result, 2) OVER w AS res2,
        lag(oper_result, 3) OVER w AS res3,
        lag(amount, 1) OVER w AS amt1, lag(amount, 2) OVER w AS amt2, lag(amount, 3) OVER w AS amt3,
        lag(transaction_date, 3) OVER w AS ts3
      FROM cl
      WINDOW w AS (PARTITION BY card_num
                   ORDER BY transaction_date, transaction_id, c_from, a_from, k_from)),
    fired AS (
      SELECT *, unnest(list_filter([
        CASE WHEN CAST(passport_valid_to AS TIMESTAMP) < transaction_date
               OR (bl_passport IS NOT NULL AND bl_entry_dt <= transaction_date) THEN 1 END,
        CASE WHEN transaction_date >= CAST(valid_to AS TIMESTAMP) THEN 2 END,
        CASE WHEN terminal_city <> lag_city AND gap_us <= 3600000000 THEN 3 END,
        CASE WHEN oper_result = 'SUCCESS' AND res1 = 'REJECT' AND res2 = 'REJECT'
               AND res3 = 'REJECT' AND amount < amt1 AND amt1 < amt2 AND amt2 < amt3
               AND epoch_us(transaction_date) - epoch_us(ts3) <= 1200000000
               AND oper_type IN ('PAYMENT', 'WITHDRAW') THEN 4 END], x -> x IS NOT NULL)) AS event_type
      FROM lg)
    SELECT transaction_date AS event_dt, passport_num AS passport, fio, phone,
           event_type, TIMESTAMP '{report_dt}' AS report_dt
    FROM fired"""


def scd2_counts(con, wh, inputs):
    """Versions opened, closed and delete-marked during the replayed
    days (on or after the first replayed day), per dimension; plus the
    transactions delivered over those days."""
    with open(f"{inputs}/days.txt") as f:
        first = [line.split(";")[1] for line in f if line.startswith("1;")][0]
    out = {}
    short = {"dim_terminals_hist": "terminals", "dim_cards_hist": "cards",
             "dim_accounts_hist": "accounts", "dim_clients_hist": "clients"}
    for dim, _, _ in DIMS:
        rel = _tbl(wh, dim)
        o, c, d = con.sql(f"""SELECT
            count(*) FILTER (WHERE effective_from >= TIMESTAMP '{first} 00:00:00' AND deleted_flg = 'N'),
            count(*) FILTER (WHERE effective_to >= TIMESTAMP '{first} 00:00:00' - INTERVAL 1 SECOND
                               AND effective_to <> TIMESTAMP '{INF}'),
            count(*) FILTER (WHERE effective_from >= TIMESTAMP '{first} 00:00:00' AND deleted_flg = 'Y')
            FROM {rel}""").fetchone()
        out[short[dim]] = {"opened": o, "closed": c, "deleted": d}
    return out


def query_checks(inputs, results, names, exec_rows):
    """Each query's written result against its DuckDB oracle: same
    schema, and the same multiset of rows (EXCEPT ALL both ways). And
    every timed execution of it (`exec_rows`: {query: [row counts]})
    returned the oracle's row count."""
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    with open(f"{results}/oracle_sql.json") as f:
        oracle = json.load(f)
    fails = []
    for q in names:
        rel = f"read_parquet('{results}/{q}/*.parquet')"
        if q not in oracle:
            fails.append(f"{q}: no oracle SQL")
            fails.append(f"{q}: no oracle row count for the timed executions")
            continue
        try:
            con.sql(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {oracle[q]}")
            want_rows = con.sql("SELECT count(*) FROM oracle_result").fetchone()[0]
            wrong = [r for r in exec_rows.get(q, []) if r != want_rows]
            if wrong or not exec_rows.get(q):
                fails.append(f"{q}: timed executions returned {exec_rows.get(q)} rows, "
                             f"oracle {want_rows}"[:400])
            s_schema = sorted(r[:2] for r in con.sql(f"DESCRIBE SELECT * FROM {rel}").fetchall())
            o_schema = sorted(r[:2] for r in con.sql("DESCRIBE oracle_result").fetchall())
            if s_schema != o_schema:
                fails.append(f"{q}: schema engine={s_schema} oracle={o_schema}"[:400])
                continue
            sel = ", ".join(f'"{c}"' for c, _ in s_schema)
            engine, want = f"SELECT {sel} FROM {rel}", f"SELECT {sel} FROM oracle_result"
            d = [con.sql(f"SELECT count(*) FROM (({x}) EXCEPT ALL ({y}))").fetchone()[0]
                 for x, y in ((engine, want), (want, engine))]
            if d != [0, 0]:
                fails.append(f"{q}: engine-only rows {d[0]}, oracle-only rows {d[1]}")
        except Exception as e:  # a broken result file or oracle is a failed check
            fails.append(f"{q}: {e}"[:400])
    return 2 * len(names), fails
