"""Seeded input generator for the daily-batch benchmark.

Writes one backlog of dated drops in the shapes the batch reads:

  drops/transactions_DDMMYYYY.txt         ';'-separated, decimal comma
  drops/terminals_DDMMYYYY.csv            full terminal list of the day
  drops/passport_blacklist_DDMMYYYY.csv   cumulative blacklist
  info/DDMMYYYY/{clients,accounts,cards}.parquet   the info.* snapshot

The tabular drops a profile lists under `xlsx` go to tabular_src/ instead,
and the JVM side turns them into drops/*.xlsx with graft.io.Xlsx.writeSheet.

Every date plants `plant` positives and `plant` near-misses per fraud rule
on dedicated new clients. Clean traffic cannot match a rule by accident:
each card stays in its home city, a client's transactions on one day are
more than 20 minutes apart, and clean passports and accounts never expire.
Attribute churn never touches a rule input (passport, passport_valid_to,
an expiring account, a card of a fraud client, a terminal's city).

truth.json holds, per date, the expected rep_fraud partition in full and in
incremental mode and the expected open/closed SCD2 row counts.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = dt.date(2021, 3, 1)
FAR = dt.date(2099, 12, 31)
EVENT = {
    "blacklist": "Заблокированный паспорт",
    "expired": "Просроченный паспорт",
    "invalid": "Недействующий договор",
    "crosscity": "Транзакции из разных городов за короткое время",
    "bruteforce": "Попытка перебора транзакций",
}
DIMS = ("clients", "accounts", "cards", "terminals")
LAST = ("Ivanov", "Petrov", "Sidorov", "Smirnov", "Kuznetsov", "Popov",
        "Vasiliev", "Sokolov", "Mikhailov", "Novikov", "Fedorov", "Morozov")
FIRST = ("Ivan", "Petr", "Anna", "Olga", "Sergey", "Maria", "Dmitry",
         "Elena", "Alexey", "Natalia", "Pavel", "Irina")
PATR = ("Ivanovich", "Petrovich", "Sergeevna", "Olegovna", "Pavlovich",
        "Andreevna", "Nikolaevich", "Igorevna")
TTYPE = ("POS", "ATM", "ETM")
OPER = ("PAYMENT", "WITHDRAW", "DEPOSIT")

# One profile = one set of drops. `churn` is the share of each dim's keys
# whose attributes change per date (a card change moves the card to a new
# account of the same client); `new` adds that share of new clients.
# `history` days of clean traffic arrive with the first drop.
PROFILES = {
    # small, stable dims (well under the broadcast threshold), large drops
    # and ten days of history loaded at set-up: the report's full-history
    # rescan dominates each date in full mode; terminals arrive as .xlsx,
    # the blacklist as CSV, so both readers run
    "small_dims": dict(dates=3, clients=5000, terminals=500, cities=20, txns=30000,
                       history=10,
                       churn=dict(clients=0.002, accounts=0.002, cards=0.002, terminals=0.0),
                       new=0.0, plant=6, xlsx=("terminals",)),
    # large dims with heavy churn and few transactions; the tabular drops
    # arrive as .xlsx: the SCD2 merges and catalog writes dominate
    "churn_dims": dict(dates=3, clients=60000, terminals=5000, cities=30, txns=2000, history=0,
                       churn=dict(clients=0.05, accounts=0.05, cards=0.05, terminals=0.05),
                       new=0.01, plant=3, xlsx=("terminals", "passport_blacklist")),
}


def ddmmyyyy(d):
    return d.strftime("%d%m%Y")


class World:
    def __init__(self, seed, p):
        self.seed, self.p = seed, p
        # clients; the account and card of a client are indexed alongside
        self.c_ver, self.c_pvalid, self.c_kind = [], [], []
        self.c_city, self.c_acc, self.c_nacc = [], [], []
        # accounts
        self.a_client, self.a_k, self.a_valid, self.a_ver = [], [], [], []
        self.t_ver = [0] * p["terminals"]
        self.blacklist = []          # (passport, entry date)
        self.planted = []            # (date index, client, rule, ts)

    def rng(self, d, salt):
        return np.random.default_rng([self.seed, d, salt])

    # -- entities ---------------------------------------------------------
    def new_client(self, city, kind="clean", pvalid=FAR, avalid=FAR):
        i = len(self.c_ver)
        self.c_ver.append(0)
        self.c_pvalid.append(pvalid)
        self.c_kind.append(kind)
        self.c_city.append(city)
        self.c_nacc.append(0)
        self.c_acc.append(self.new_account(i, avalid))
        return i

    def new_account(self, client, valid):
        a = len(self.a_client)
        self.a_client.append(client)
        self.a_k.append(self.c_nacc[client])
        self.c_nacc[client] += 1
        self.a_valid.append(valid)
        self.a_ver.append(0)
        return a

    @staticmethod
    def client_id(i):
        return f"C{i:07d}"

    @staticmethod
    def passport(i):
        return f"{4000000000 + i:010d}"

    @staticmethod
    def card(i):
        return f"4276{i:012d}"

    def account(self, a):
        return f"40817{self.a_client[a]:010d}{self.a_k[a]:02d}"

    def last_name(self, i):
        return f"{LAST[i % len(LAST)]}-{self.c_ver[i]}"

    def first_name(self, i):
        return FIRST[(i // 7) % len(FIRST)]

    def patronymic(self, i):
        return PATR[(i // 3) % len(PATR)]

    def phone(self, i):
        return f"+79{(i * 7919 + self.c_ver[i] * 104729 + self.seed) % 10**9:09d}"

    def fio(self, i):
        return f"{self.first_name(i)} {self.patronymic(i)} {self.last_name(i)}"

    def terminal(self, t):
        return f"T{t:06d}"

    def terminals_in(self, cities, r):
        """A random terminal of each city (terminal t sits in city t % cities)."""
        cn, T = self.p["cities"], self.p["terminals"]
        cities = np.asarray(cities, dtype=np.int64)
        per = (T - cities + cn - 1) // cn
        return cities + cn * (r.random(len(cities)) * per).astype(np.int64)

    # -- one date ---------------------------------------------------------
    def step(self, d):
        p, day = self.p, START + dt.timedelta(days=d)
        changed = dict.fromkeys(DIMS, 0)
        if d == 0:
            r = self.rng(d, 1)
            for city in r.integers(0, p["cities"], p["clients"]):
                self.new_client(int(city))
        else:
            r, churn = self.rng(d, 2), p["churn"]
            n = len(self.c_ver)
            changed["clients"] = round(churn["clients"] * n)
            for i in r.choice(n, changed["clients"], replace=False):
                self.c_ver[i] += 1
            # expiring accounts and cards of fraud clients are rule inputs
            free = [a for a in range(len(self.a_client)) if self.a_valid[a] == FAR]
            changed["accounts"] = min(len(free), round(churn["accounts"] * len(self.a_client)))
            for a in r.choice(free, changed["accounts"], replace=False):
                self.a_ver[a] += 1
            clean = [i for i in range(n) if self.c_kind[i] == "clean"]
            changed["cards"] = round(churn["cards"] * n)
            for i in r.choice(clean, changed["cards"], replace=False):
                self.c_acc[i] = self.new_account(int(i), FAR)
            T = p["terminals"]
            changed["terminals"] = round(churn["terminals"] * T)
            for t in r.choice(T, changed["terminals"], replace=False):
                self.t_ver[t] += 1
            for city in r.integers(0, p["cities"], round(p["new"] * p["clients"])):
                self.new_client(int(city))

        txns = []
        if d == 0:
            # earlier days of clean traffic arrive with the first drop, so
            # a full-history report rescans them on every later date
            for h in range(p["history"], 0, -1):
                txns += self.clean_txns(d, day - dt.timedelta(days=h), 100 + h)
        txns += self.clean_txns(d, day)
        txns += self.plant(d, day)
        return day, txns, changed

    def clean_txns(self, d, day, salt=3):
        p, r = self.p, self.rng(d, salt)
        clean = np.array([i for i in range(len(self.c_ver))
                          if self.c_kind[i] == "clean"])
        m = p["txns"]
        who = clean[r.permutation(m) % len(clean)]
        per_client = -(-m // len(clean))
        # slot k of a client sits in its own 30-minute band; jitter < 10 min
        # keeps two transactions of one client > 20 minutes apart
        band = max(1, 40 // per_client)
        order = np.argsort(who, kind="stable")
        rank = np.empty(m, dtype=np.int64)
        _, first = np.unique(who[order], return_index=True)
        starts = np.repeat(first, np.diff(np.append(first, m)))
        rank[order] = np.arange(m) - starts
        secs = 3600 + rank * band * 1800 + r.integers(0, 600, m)
        amt = r.integers(1000, 5000000, m)
        res = np.where(r.random(m) < 0.05, "REJECT", "SUCCESS")
        oper = r.integers(0, len(OPER), m)
        term = self.terminals_in(np.array(self.c_city)[who], r)
        base = dt.datetime.combine(day, dt.time())
        return [(base + dt.timedelta(seconds=int(secs[j])), int(who[j]),
                 int(amt[j]), OPER[oper[j]], str(res[j]), int(term[j]))
                for j in range(m)]

    def plant(self, d, day):
        """Positives and near-misses for each rule, on new clients."""
        p, r = self.p, self.rng(d, 4)
        base = dt.datetime.combine(day, dt.time())
        out = []

        def at(minute):
            return base + dt.timedelta(minutes=int(minute))

        def txn(i, ts, amt=150000, res="SUCCESS", city=None):
            city = self.c_city[i] if city is None else city
            t = int(self.terminals_in([city], r)[0])
            out.append((ts, i, amt, "PAYMENT", res, t))

        for k in range(p["plant"]):
            def fresh(kind, **kw):
                return self.new_client(int(r.integers(0, p["cities"])), kind, **kw)
            start = int(r.integers(90, 1200))  # minutes after midnight
            # rule 1: blacklisted passport / a listed passport nobody holds
            i = fresh("blacklist")
            self.blacklist.append((self.passport(i), day))
            txn(i, at(start))
            self.planted.append((d, i, "blacklist", at(start)))
            self.blacklist.append((f"{9000000000 + d * 1000 + k:010d}", day))
            # rule 2: passport expired yesterday / expires tomorrow
            i = fresh("expired", pvalid=day - dt.timedelta(days=1))
            txn(i, at(start + 1))
            self.planted.append((d, i, "expired", at(start + 1)))
            txn(fresh("near", pvalid=day + dt.timedelta(days=1)), at(start + 2))
            # rule 3: account ended yesterday / ends tomorrow
            i = fresh("invalid", avalid=day - dt.timedelta(days=1))
            txn(i, at(start + 3))
            self.planted.append((d, i, "invalid", at(start + 3)))
            txn(fresh("near", avalid=day + dt.timedelta(days=1)), at(start + 4))
            # rule 4: two cities 30 min apart (both flagged) / 61 min apart
            for kind, gap in (("crosscity", 30), ("near", 61)):
                i = fresh(kind)
                other = (self.c_city[i] + 1) % p["cities"]
                txn(i, at(start + 5))
                txn(i, at(start + 5 + gap), city=other)
                if kind == "crosscity":
                    self.planted.append((d, i, kind, at(start + 5)))
                    self.planted.append((d, i, kind, at(start + 5 + gap)))
            # rule 5: R,R,R,S with falling amounts within 20 min (the start
            # transaction is flagged) / same results, amounts not falling
            for kind, amts in (("bruteforce", (90000, 70000, 50000, 30000)),
                               ("near", (90000, 70000, 75000, 30000))):
                i = fresh(kind)
                for j, (a, res) in enumerate(zip(amts, ("REJECT",) * 3 + ("SUCCESS",))):
                    txn(i, at(start + 70 + 3 * j), amt=a, res=res)
                if kind == "bruteforce":
                    self.planted.append((d, i, kind, at(start + 70)))
        return out

    # -- outputs ----------------------------------------------------------
    def report(self, d, day, full):
        rows = []
        for pd_, i, rule, ts in self.planted:
            if pd_ == d or (full and pd_ < d):
                rows.append([ts.strftime("%Y-%m-%d %H:%M:%S"), self.passport(i),
                             self.fio(i), self.phone(i), EVENT[rule], day.isoformat()])
        return sorted(rows)

    def write_snapshot(self, out):
        n = len(self.c_ver)
        os.makedirs(out, exist_ok=True)
        date = pa.date32()
        pq.write_table(pa.table({
            "client_id": [self.client_id(i) for i in range(n)],
            "last_name": [self.last_name(i) for i in range(n)],
            "first_name": [self.first_name(i) for i in range(n)],
            "patronymic": [self.patronymic(i) for i in range(n)],
            "date_of_birth": pa.array([dt.date(1950 + i % 50, 1 + i % 12, 1 + i % 28)
                                       for i in range(n)], date),
            "passport_num": [self.passport(i) for i in range(n)],
            "passport_valid_to": pa.array(self.c_pvalid, date),
            "phone": [self.phone(i) for i in range(n)],
        }), f"{out}/clients.parquet")
        na = len(self.a_client)
        pq.write_table(pa.table({
            "account": [self.account(a) for a in range(na)],
            "valid_to": pa.array([v - dt.timedelta(days=self.a_ver[a]) if v == FAR else v
                                  for a, v in enumerate(self.a_valid)], date),
            "client": [self.client_id(c) for c in self.a_client],
        }), f"{out}/accounts.parquet")
        pq.write_table(pa.table({
            "card_num": [self.card(i) for i in range(n)],
            "account": [self.account(self.c_acc[i]) for i in range(n)],
        }), f"{out}/cards.parquet")

    def terminal_rows(self):
        cn = self.p["cities"]
        return [["terminal_id", "terminal_type", "terminal_city", "terminal_address"]] + [
            [self.terminal(t), TTYPE[(t + self.t_ver[t]) % 3], f"City{t % cn:03d}",
             f"Street {t % 97} bld {t // 97}-{self.t_ver[t]}"]
            for t in range(self.p["terminals"])]


def write_csv(path, rows, sep=","):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("".join(sep.join(r) + "\n" for r in rows))


def generate(profile, seed, out):
    """Write the drops of `profile` for `seed` under `out`; returns the truth."""
    p = PROFILES[profile]
    w = World(seed, p)
    drops = os.path.join(out, "drops")
    os.makedirs(drops, exist_ok=True)
    os.makedirs(os.path.join(out, "tabular_src"), exist_ok=True)

    def tabular(base):
        return os.path.join(out, "tabular_src" if base in p["xlsx"] else "drops", base)
    truth = {"profile": profile, "seed": seed, "dates": []}
    for d in range(p["dates"]):
        day, txns, changed = w.step(d)
        tag = ddmmyyyy(day)
        txns.sort(key=lambda t: (t[0], t[1]))
        lines = [["transaction_id", "transaction_date", "card_num", "oper_type",
                  "amount", "oper_result", "terminal"]]
        for j, (ts, i, amt, oper, res, term) in enumerate(txns):
            lines.append([f"{d:03d}{j:07d}", ts.strftime("%Y-%m-%d %H:%M:%S"), w.card(i),
                          oper, f"{amt // 100},{amt % 100:02d}", res, w.terminal(term)])
        write_csv(f"{drops}/transactions_{tag}.txt", lines, ";")
        write_csv(f"{tabular('terminals')}_{tag}.csv", w.terminal_rows())
        write_csv(f"{tabular('passport_blacklist')}_{tag}.csv",
                  [["passport", "date"]] + [[pp, e.isoformat()] for pp, e in w.blacklist])
        w.write_snapshot(os.path.join(out, "info", tag))
        # the first load inserts every key; later dates close one row and
        # insert one row per changed key, and insert one row per new key
        keys = {"clients": len(w.c_ver), "accounts": len(w.a_client),
                "cards": len(w.c_ver), "terminals": p["terminals"]}
        closed = changed if d > 0 else dict.fromkeys(DIMS, 0)
        truth["dates"].append({
            "date": day.isoformat(), "tag": tag, "txns": len(txns),
            "open": keys, "closed": dict(closed),
            "report_full": w.report(d, day, True),
            "report_incr": w.report(d, day, False),
        })
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, ensure_ascii=False)
    return truth
