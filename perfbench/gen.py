"""Deterministic input generator for the benchmark workloads.

Everything is derived from `--seed` (numpy PCG64 streams keyed by
(seed, purpose)), so the same seed writes byte-identical files. Two
input families:

* `pipeline(...)`: a month of the reference job's deliveries —
  `;`-separated euro-decimal transaction files (with replayed
  duplicates of the previous day), full terminal snapshots, a real
  `.xlsx` passport blacklist, and the JDBC source tables
  (`cards`, `accounts`, `clients`) as an initial load plus one change
  log per day.
* `corpus(...)`: the ten harness tables (`region` … `embeddings`) as
  parquet, in the harness schema at its sf0.01 sizes, for the
  declared-query mix.

Usage: python3 perfbench/gen.py pipeline|corpus <out_dir> --seed N [--days D]
"""
import argparse
import datetime as dt
import os
import zipfile

import numpy as np

START = dt.date(2024, 1, 1)
CITIES = ["Moscow", "Kazan", "Samara", "Omsk", "Perm", "Tula", "Ufa", "Tver",
          "Sochi", "Orel", "Kursk", "Penza", "Tomsk", "Chita", "Kirov",
          "Vologda", "Pskov", "Ryazan", "Bryansk", "Irkutsk"]
TERM_TYPES = ["POS", "ATM"]
LAST = ["Ivanov", "Petrov", "Sidorov", "Smirnov", "Kuznetsov", "Popov",
        "Volkov", "Orlov", "Lebedev", "Sokolov"]
FIRST = ["Ivan", "Petr", "Anna", "Olga", "Maria", "Pavel", "Elena", "Oleg"]
PATR = ["Ivanovich", "Petrovich", "Sergeevich", "Olegovna", "Pavlovna"]

N_CARDS, N_CLIENTS, N_TERMINALS, TX_PER_DAY = 1500, 15000, 1000, 3300


def rng(seed, purpose):
    return np.random.Generator(np.random.PCG64([seed, purpose]))


def ddmmyyyy(d):
    return d.strftime("%d%m%Y")


def euro(cents):
    """Amount in cents → euro-decimal text, thousands dotted: 1.234,56."""
    whole, frac = divmod(int(cents), 100)
    return f"{whole:,}".replace(",", ".") + f",{frac:02d}"


def ts_text(day, secs):
    return (dt.datetime.combine(day, dt.time()) +
            dt.timedelta(seconds=int(secs))).strftime("%Y-%m-%d %H:%M:%S")


def write_text(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


def write_xlsx(path, sheet, header, rows):
    """Minimal OOXML workbook: one sheet of inline strings, fixed zip
    timestamps so the bytes depend on the content only."""
    def cell(ref, v):
        v = str(v).replace("&", "&amp;").replace("<", "&lt;")
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
    cols = "ABCDEFGHIJ"
    xml_rows = []
    for i, r in enumerate([header] + rows, start=1):
        cells = "".join(cell(f"{cols[j]}{i}", v) for j, v in enumerate(r))
        xml_rows.append(f'<row r="{i}">{cells}</row>')
    entries = [
        ("[Content_Types].xml",
         '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>'),
        ("xl/workbook.xml",
         '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
         'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
         f'<sheets><sheet name="{sheet}" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        ("xl/_rels/workbook.xml.rels",
         '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
         'Target="worksheets/sheet1.xml"/></Relationships>'),
        ("xl/worksheets/sheet1.xml",
         '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
         f'<sheetData>{"".join(xml_rows)}</sheetData></worksheet>'),
    ]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in entries:
            z.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), body)


class World:
    """The job's world: cards, accounts, clients and terminals, advanced
    one day at a time."""

    def __init__(self, seed):
        self.seed = seed
        g = rng(seed, 0)
        self.next_term = N_TERMINALS
        self.next_card = N_CARDS
        self.next_client = N_CLIENTS
        self.next_tx = 0
        before = lambda n: g.integers(0, 365 * 86400, n)  # created during 2023
        t0 = dt.date(2023, 1, 1)
        self.clients = {}
        for i in range(N_CLIENTS):
            cid = f"C{i:07d}"
            self.clients[cid] = self._client(g, cid, ts_text(t0, before(1)[0]))
        client_ids = list(self.clients)
        self.accounts, self.cards = {}, {}
        for i in range(N_CARDS):
            card = f"{4000000000000000 + i}"
            acct = f"A{i:07d}"
            self.accounts[acct] = self._account(g, acct, client_ids[int(g.integers(len(client_ids)))],
                                                ts_text(t0, before(1)[0]))
            self.cards[card] = {"card_num": card, "account": acct,
                                "create_dt": ts_text(t0, before(1)[0]), "update_dt": None}
        self.terminals = {f"T{i:06d}": (TERM_TYPES[int(g.integers(2))],
                                               CITIES[int(g.integers(len(CITIES)))])
                          for i in range(N_TERMINALS)}
        self.blacklist = []
        self.prev_tx = []

    @staticmethod
    def _client(g, cid, created):
        # ~3% of passports already expired → report rule 1.
        valid_to = (START - dt.timedelta(days=int(g.integers(1, 300)))
                    if g.random() < 0.03 else
                    START + dt.timedelta(days=int(g.integers(60, 3000))))
        return {"client_id": cid, "last_name": LAST[int(g.integers(len(LAST)))],
                "first_name": FIRST[int(g.integers(len(FIRST)))],
                "patronymic": PATR[int(g.integers(len(PATR)))],
                "date_of_birth": (dt.date(1950, 1, 1) + dt.timedelta(days=int(g.integers(0, 18000)))).isoformat(),
                "passport_num": f"{int(g.integers(1000, 9999))} {int(g.integers(100000, 999999))}",
                "passport_valid_to": valid_to.isoformat(),
                "phone": f"+7{int(g.integers(10**9, 10**10 - 1))}",
                "create_dt": created, "update_dt": None}

    @staticmethod
    def _account(g, acct, client, created):
        # ~3% of accounts expire inside the month → report rule 2.
        valid_to = (START + dt.timedelta(days=int(g.integers(0, 30)))
                    if g.random() < 0.03 else
                    START + dt.timedelta(days=int(g.integers(200, 3000))))
        return {"account": acct, "valid_to": valid_to.isoformat(), "client": client,
                "create_dt": created, "update_dt": None}

    def day(self, k, day):
        """Advance the world by one day; returns (tx_lines, dup_lines,
        terminal_snapshot, db_ops). New blacklist entries accumulate in
        `self.blacklist`."""
        g = rng(self.seed, 1000 + k)
        ops = []
        # Source-database changes during the day: ~1% updates per table,
        # a few inserts and deletes, disjoint key sets.
        def stamp():
            return ts_text(day, g.integers(3600, 86000))
        cards = sorted(self.cards)
        pick = g.choice(len(cards), size=len(cards) // 100 + 1, replace=False)
        acct_keys = list(self.accounts)
        for j in pick[:-1]:
            c = self.cards[cards[j]]
            c["account"] = acct_keys[int(g.integers(len(acct_keys)))]
            c["update_dt"] = stamp()
            ops.append(("cards", "U", dict(c)))
        ops.append(("cards", "D", {"card_num": cards[pick[-1]]}))
        del self.cards[cards[pick[-1]]]
        card = f"{4000000000000000 + self.next_card}"
        self.next_card += 1
        self.cards[card] = {"card_num": card, "account": acct_keys[int(g.integers(len(acct_keys)))],
                            "create_dt": stamp(), "update_dt": None}
        ops.append(("cards", "I", dict(self.cards[card])))
        accts = sorted(self.accounts)
        clients = sorted(self.clients)
        for j in g.choice(len(accts), size=len(accts) // 100, replace=False):
            a = self.accounts[accts[j]]
            a["client"] = clients[int(g.integers(len(clients)))]
            a["update_dt"] = stamp()
            ops.append(("accounts", "U", dict(a)))
        pick = g.choice(len(clients), size=len(clients) // 100 + 1, replace=False)
        for j in pick[:-1]:
            c = self.clients[clients[j]]
            c["phone"] = f"+7{int(g.integers(10**9, 10**10 - 1))}"
            c["update_dt"] = stamp()
            ops.append(("clients", "U", dict(c)))
        ops.append(("clients", "D", {"client_id": clients[pick[-1]]}))
        del self.clients[clients[pick[-1]]]
        cid = f"C{self.next_client:07d}"
        self.next_client += 1
        self.clients[cid] = self._client(g, cid, stamp())
        ops.append(("clients", "I", dict(self.clients[cid])))
        ops.sort(key=lambda o: (o[2].get("update_dt") or o[2].get("create_dt") or "", o[0], o[1]))

        # Terminals: 2% change, 0.5% vanish (never to return), as many new.
        terms = sorted(self.terminals)
        n_chg, n_del = len(terms) // 50, max(1, len(terms) // 200)
        pick = g.choice(len(terms), size=n_chg + n_del, replace=False)
        for j in pick[:n_chg]:
            ttype, city = self.terminals[terms[j]]
            self.terminals[terms[j]] = (ttype, CITIES[(CITIES.index(city) + 1 + int(g.integers(5))) % len(CITIES)])
        for j in pick[n_chg:]:
            del self.terminals[terms[j]]
        for _ in range(n_del):
            self.terminals[f"T{self.next_term:06d}"] = (
                TERM_TYPES[int(g.integers(2))], CITIES[int(g.integers(len(CITIES)))])
            self.next_term += 1
        snapshot = [f"{t};{v[0]};{v[1]}" for t, v in sorted(self.terminals.items())]

        # Transactions.
        live_cards = sorted(self.cards)
        live_terms = sorted(self.terminals)
        n = TX_PER_DAY + int(g.integers(-100, 101))
        secs = np.sort(g.integers(0, 86400, n))
        card_ix = g.integers(0, len(live_cards), n)
        term_ix = g.integers(0, len(live_terms), n)
        cents = np.round(np.exp(g.normal(8.0, 1.3, n))).astype(np.int64) + 1
        u, rejected = g.random(n), g.random(n) < 0.08
        rows = []
        for i in range(n):
            otype = "PAYMENT" if u[i] < 0.6 else ("WITHDRAW" if u[i] < 0.85 else "DEPOSIT")
            res = "REJECT" if rejected[i] else "SUCCESS"
            rows.append((int(secs[i]), live_cards[card_ix[i]], int(cents[i]), otype, res,
                         live_terms[term_ix[i]]))
        # Rule 4 bursts: three REJECTs at falling amounts, then a SUCCESS.
        for _ in range(3):
            card = live_cards[int(g.integers(len(live_cards)))]
            t = int(g.integers(0, 80000))
            amt = int(g.integers(50000, 90000))
            term = live_terms[int(g.integers(len(live_terms)))]
            for step in range(4):
                rows.append((t + 60 * step, card, amt - 5000 * step, "PAYMENT",
                             "SUCCESS" if step == 3 else "REJECT", term))
        rows.sort()
        tx = []
        for secs_, card, cents_, otype, res, term in rows:
            tid = str(10**12 + self.next_tx)
            self.next_tx += 1
            tx.append(f"{tid};{ts_text(day, secs_)};{euro(cents_)};{card};{otype};{res};{term}")
        dups = [self.prev_tx[j] for j in
                g.choice(len(self.prev_tx), size=int(len(self.prev_tx) * 0.015), replace=False)] \
            if self.prev_tx else []
        self.prev_tx = tx

        # Blacklist: a few live clients' passports enter it each day.
        live_clients = sorted(self.clients)
        adds = [(day.isoformat(), self.clients[live_clients[int(j)]]["passport_num"])
                for j in g.integers(0, len(live_clients), 5)]
        self.blacklist.extend(adds)
        return tx, dups, snapshot, ops


DB_COLS = {
    "cards": ["card_num", "account", "create_dt", "update_dt"],
    "accounts": ["account", "valid_to", "client", "create_dt", "update_dt"],
    "clients": ["client_id", "last_name", "first_name", "patronymic", "date_of_birth",
                "passport_num", "passport_valid_to", "phone", "create_dt", "update_dt"],
}


def db_line(table, op, row):
    return ";".join([table, op] + ["" if row.get(c) is None else row[c] for c in DB_COLS[table]])


def pipeline(out, seed, days):
    """Writes `days` daily deliveries; day 0 is the warehouse's initial
    load, every later day a nightly delta.

    Layout: land/day_NN/ holds day NN's files, db/init.csv the JDBC
    source tables as of day 0, db/ops_NN.csv each later day's
    source-database change log, and days.txt one line per day:
    day;date;report timestamp;transaction rows;replayed duplicates.
    Returns the same per-day records as dicts."""
    assert days >= 2
    world = World(seed)
    os.makedirs(f"{out}/db", exist_ok=True)
    schedule = []
    for k in range(days):
        day = START + dt.timedelta(days=k)
        tx, dups, snap, ops = world.day(k, day)
        d = f"{out}/land/day_{k:02d}"
        os.makedirs(d, exist_ok=True)
        stamp = ddmmyyyy(day)
        write_text(f"{d}/transactions_{stamp}.txt",
                   [";".join(["transaction_id", "transaction_date", "amount", "card_num",
                              "oper_type", "oper_result", "terminal"])] + tx + dups)
        write_text(f"{d}/terminals_{stamp}.txt",
                   ["terminal_id;terminal_type;terminal_city"] + snap)
        write_xlsx(f"{d}/passport_blacklist_{stamp}.xlsx", "blacklist",
                   ["date", "passport"], [list(b) for b in sorted(world.blacklist)])
        if k == 0:  # the source tables as loaded before the first run
            write_text(f"{out}/db/init.csv",
                       [db_line(table, "I", rows[key])
                        for table, rows in zip(DB_COLS, (world.cards, world.accounts, world.clients))
                        for key in sorted(rows)])
        else:
            write_text(f"{out}/db/ops_{k:02d}.csv", [db_line(t, op, r) for t, op, r in ops])
        schedule.append({
            "slot": k, "date": day.isoformat(),
            "report_dt": f"{(day + dt.timedelta(days=1)).isoformat()} 01:17:00",
            "tx_rows": len(tx) + len(dups), "dup_rows": len(dups)})
    write_text(f"{out}/days.txt", [";".join(str(d[k]) for k in
                                            ("slot", "date", "report_dt", "tx_rows", "dup_rows"))
                                   for d in schedule])
    return schedule


# ── declared-query corpus ──────────────────────────────────────────

VOCAB = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()


def fingerprints(text):
    """The image and audio fingerprints the multimodal queries derive
    from a document (`MultimodalQueries.PhashCtes` and `audioFpCtes`),
    as 64-bit masks: (phash, audio)."""
    px = [ord(text[i]) if i < len(text) else 32 for i in range(288)]
    pooled = [[0] * 9 for _ in range(8)]
    for i, v in enumerate(px):
        pooled[i // 18 // 2][i % 18 // 2] += v
    phash = sum(1 << (py * 8 + x) for py in range(8) for x in range(8)
                if pooled[py][x] > pooled[py][x + 1])
    e = [abs((ord(text[i]) - 128) * 256) if i < len(text) else 0 for i in range(130)]
    win = [e[2 * w] + e[2 * w + 1] for w in range(65)]
    audio = sum(1 << w for w in range(64) if win[w] > win[w + 1])
    return phash, audio


def corpus(out, seed):
    """The harness tables at their sf0.01 sizes, with the harness's
    column names and types, key cardinalities, value ranges, document
    vocabulary and length, near-duplicate share and language mix."""
    docs, events, customers = 500, 10000, 1500
    import pyarrow as pa
    import pyarrow.parquet as pq
    g = rng(seed, 7)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet", compression="snappy")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write("customer", {
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(g.integers(0, 25, customers), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999, 9999, customers), 2),
        "c_mktsegment": [segs[i] for i in g.integers(0, 5, customers)]})
    n_sup, n_part, n_ord = customers // 15, customers * 4 // 3, customers * 10
    write("supplier", {"s_suppkey": pa.array(range(n_sup), pa.int64()),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
                       "s_nationkey": pa.array(g.integers(0, 25, n_sup), pa.int32()),
                       "s_acctbal": np.round(g.uniform(-999, 9999, n_sup), 2)})
    adj = ["small", "red", "hot", "blue", "old", "cold", "big", "green"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "nut"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    write("part", {"p_partkey": pa.array(range(n_part), pa.int64()),
                   "p_name": [f"{adj[i // 8]} {noun[i % 8]}" for i in g.integers(0, 64, n_part)],
                   "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
                   "p_type": [types[i] for i in g.integers(0, 6, n_part)],
                   "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
                   "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    base = np.datetime64("1995-01-01T00:00:00", "us")
    day_us = 86400 * 10**6
    write("orders", {"o_orderkey": pa.array(range(n_ord), pa.int64()),
                     "o_custkey": pa.array(g.integers(0, customers, n_ord), pa.int64()),
                     "o_orderstatus": [["F", "O", "P"][i] for i in g.integers(0, 3, n_ord)],
                     "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
                     "o_orderdate": pa.array(base + g.integers(0, 2400, n_ord) * day_us, pa.timestamp("us")),
                     "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
                                         for i in g.integers(0, 5, n_ord)]})
    n_li = n_ord * 4
    write("lineitem", {"l_orderkey": pa.array(g.integers(0, n_ord, n_li), pa.int64()),
                       "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
                       "l_suppkey": pa.array(g.integers(0, n_sup, n_li), pa.int64()),
                       "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
                       "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
                       "l_extendedprice": np.round(g.uniform(900, 105000, n_li), 2),
                       "l_discount": np.round(g.integers(0, 11, n_li) / 100, 2),
                       "l_tax": np.round(g.integers(0, 9, n_li) / 100, 2),
                       "l_returnflag": [["A", "N", "R"][i] for i in g.integers(0, 3, n_li)],
                       "l_linestatus": [["F", "O"][i] for i in g.integers(0, 2, n_li)],
                       "l_shipdate": pa.array(base + g.integers(0, 2500, n_li) * day_us, pa.timestamp("us"))})
    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(g.integers(0, 30 * day_us, events))
    write("events", {"event_id": pa.array(range(events), pa.int64()),
                     "ts": pa.array(ev_base + ev_ts, pa.timestamp("us")),
                     "user_id": pa.array(g.integers(0, 150, events), pa.int64()),
                     "event_type": [["click", "view", "purchase", "signup", "error"][i]
                                    for i in g.integers(0, 5, events)],
                     "value": np.round(g.exponential(50, events), 2) + 0.01,
                     "props": [f'{{"k": {i}}}' for i in g.integers(0, 100, events)]})
    # Documents: 10-99 words over the harness's 31-word vocabulary. As in
    # the harness, 5% are near duplicates of an earlier document (two
    # words swapped, "dup" appended) and one of those copies another near
    # duplicate. Every other near duplicate copies an original of its
    # own, and no two originals have image or audio fingerprints within
    # q127's Hamming distance (a draw that does is redrawn), so the
    # duplicate graph has the harness's shape for every seed: pairs and
    # triples. Drawn freely, short documents chain into components of a
    # dozen on some seeds, and q127's connected-components passes then
    # cost half as much again.
    dup_at = sorted(int(i) for i in g.choice(np.arange(11, docs), docs // 20, replace=False))
    used, prints = set(), []
    texts = []
    for i in range(docs):
        if i in dup_at:
            if i == dup_at[-1]:
                src = dup_at[0]
            else:
                free = [j for j in range(i) if j not in used and j not in dup_at]
                src = free[int(g.integers(len(free)))]
                used.add(src)
            words = texts[src].split()
            for j in g.integers(0, len(words), 2):
                words[j] = VOCAB[int(g.integers(len(VOCAB)))]
            words.append("dup")
        else:
            while True:
                words = [VOCAB[j] for j in g.integers(0, len(VOCAB), int(g.integers(10, 100)))]
                fp = fingerprints(" ".join(words))
                if all((fp[0] ^ q[0]).bit_count() > 3 and (fp[1] ^ q[1]).bit_count() > 3
                       for q in prints):
                    break
            prints.append(fp)
        texts.append(" ".join(words))
    langs = ["en", "zh", "es", "de", "fr"]
    write("documents", {"doc_id": pa.array(range(docs), pa.int64()), "text": texts,
                        "lang": [langs[i] for i in g.choice(5, docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
                        "source": [f"src{i % 20}" for i in range(docs)],
                        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = g.integers(0, 10, docs)
    centers = g.normal(0, 1, (10, 64))
    vec = centers[labels] * 0.15 + g.normal(0, 1, (docs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": pa.array(range(docs), pa.int64()),
                         "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                         "label": pa.array(labels, pa.int32())})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["pipeline", "corpus"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--days", type=int, default=30)
    a = ap.parse_args()
    if a.kind == "pipeline":
        pipeline(a.out, a.seed, a.days)
    else:
        corpus(a.out, a.seed)


if __name__ == "__main__":
    main()
