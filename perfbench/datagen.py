"""Seeded input generators for the benchmark.

Two families of inputs, both a pure function of ``(seed, size)``:

* ``write_corpus`` — the query corpus's ten parquet tables (the TPC-H-ish
  star schema plus ``events``, ``documents`` and ``embeddings``) with the
  same schemas, key domains and value shapes as the repository's test
  data, so every registered query runs on them unchanged.
* ``NightlyPlan`` — the paper's dated inbox: one
  ``transactions_DDMMYYYY.txt`` (semicolon CSV, euro decimals),
  ``terminals_DDMMYYYY.csv`` (full snapshot) and
  ``passport_blacklist_DDMMYYYY.xlsx.csv`` per night, plus the cards,
  accounts and clients dimensions. The plan knows exactly how many rows
  each night commits, quarantines and versions, which is what the nightly
  workload checks against.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMB_DIM = 64
N_LABELS = 10


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.01 = 60k lineitems)."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": int(15_000 * sf), "documents": int(50_000 * sf),
        "embeddings": int(50_000 * sf),
    }


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten corpus tables under ``out_dir`` as single parquet
    files (``<table>.parquet``); returns their row counts."""
    rng = np.random.default_rng(seed)
    n = corpus_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    day_us = 86_400 * 1_000_000
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n["part"]),
                                              rng.choice(NOUNS, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10, 1),
    })
    orders_base = np.datetime64("1995-01-01T00:00:00", "us")
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
        "o_orderdate": _ts(orders_base, rng.integers(0, 2404, n["orders"]) * day_us),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n["lineitem"]),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
        "l_shipdate": _ts(orders_base + np.timedelta64(1, "D"),
                          rng.integers(0, 2498, n["lineitem"]) * day_us),
    })
    ev_offsets = np.sort(rng.integers(0, 30 * day_us, n["events"]))
    tables["events"] = pa.table({
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": _ts(np.datetime64("2024-01-01T00:00:00", "us"), ev_offsets),
        "user_id": rng.integers(0, n["users"], n["events"]).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n["events"]),
        "value": np.round(np.clip(rng.exponential(50, n["events"]), 0.01, None), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def _documents(rng, n_docs: int) -> pa.Table:
    """Random word sequences; ~5% are near-duplicates of an earlier
    document (a copy with ``dup`` appended) and ~1% exact copies, so the
    dedup families have pairs to find."""
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n_vecs: int) -> pa.Table:
    """Unit vectors clustered around one centroid per label (IVF cells)."""
    centroids = rng.normal(0, 1, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n_vecs)
    vecs = centroids[labels] * 0.3 + rng.normal(0, 1, (n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# --------------------------------------------------------------------------
# nightly inbox

TX_HEADER = ("transaction_id;transaction_date;amount;card_num;oper_type;"
             "oper_result;terminal\n")
CITIES = ["Moscow", "Kazan", "Samara", "Tula", "Omsk", "Perm", "Sochi", "Ufa"]
INFINITY = dt.datetime(9999, 12, 31)


@dataclass
class Night:
    """One night's files and the outcome they must produce."""

    date: dt.date
    files: list[str]
    tx_rows: int
    new_fact_rows: int
    quarantined: int
    terminal_changes: int
    inbox_bytes: int


@dataclass
class NightlyPlan:
    """Seeded generator of the paper's dated inbox.

    ``backfill`` is one transactions file holding ``history_nights``
    nights of volume (plus the first terminal snapshot and blacklist);
    ``nights`` are the consecutive timed nights that follow it. Each
    timed night's transactions file carries, besides fresh rows, a share
    of malformed dates and amounts (quarantined), trans_ids re-sent from
    earlier files (dropped by the dedup anti-join) and rows dated before
    the report watermark (late arrivals).
    """

    seed: int
    tx_per_night: int
    history_nights: int
    n_nights: int
    n_cards: int = 400
    n_terminals: int = 120
    start: dt.date = dt.date(2024, 1, 1)
    backfill: Night | None = None
    nights: list[Night] = field(default_factory=list)

    def write(self, staging_dir: str) -> None:
        """Write every night's files under ``staging_dir/<DDMMYYYY>/``."""
        rng = np.random.default_rng(self.seed)
        self._rng = rng
        self._next_id = 10_000_000_000
        self._sent: list[str] = []  # committed rows, re-sendable verbatim
        self._cards = [self._card_num(i) for i in range(self.n_cards)]
        self._terminals = {
            f"T{i:04d}": ["POS" if i % 3 else "ATM", str(rng.choice(CITIES)),
                          f"addr {i}"]
            for i in range(self.n_terminals)
        }
        self._blacklist: list[tuple[str, str]] = []
        first = self.start + dt.timedelta(days=self.history_nights)
        self.backfill = self._night(
            staging_dir, first, self.history_nights, dirty=False, changes=0)
        for k in range(1, self.n_nights + 1):
            self.nights.append(self._night(
                staging_dir, first + dt.timedelta(days=k), 1, dirty=True,
                changes=3))

    @staticmethod
    def _card_num(i: int) -> str:
        num = f"4{i:015d}"
        return num + "    " if i % 5 == 0 else num  # padded, as in the reference

    def _night(self, staging_dir: str, day: dt.date, span_days: int,
               dirty: bool, changes: int) -> Night:
        rng = self._rng
        stamp = day.strftime("%d%m%Y")
        out = os.path.join(staging_dir, stamp)
        os.makedirs(out, exist_ok=True)
        n = self.tx_per_night * span_days
        # transactions of the `span_days` days ending the day before `day`
        t0 = np.datetime64(day - dt.timedelta(days=span_days), "s")
        lines = self._tx_lines(t0 + np.sort(rng.integers(0, span_days * 86_400, n)),
                               rng.integers(0, self.n_cards, n))
        for _ in range(max(1, n // 400)):
            lines.extend(self._rule4_burst(
                t0 + rng.integers(0, span_days * 86_400 - 3600)))
        new_rows = list(lines)
        n_bad = 0
        if dirty:  # late arrivals, re-sent trans_ids, malformed rows
            n_late = max(1, n // 100)
            late_rows = self._tx_lines(
                t0 - rng.integers(2 * 86_400, 3 * 86_400, n_late),
                rng.integers(0, self.n_cards, n_late))
            lines.extend(late_rows)
            new_rows.extend(late_rows)
            n_resent = max(1, n // 100)
            lines.extend(self._sent[int(i)]
                         for i in rng.choice(len(self._sent), n_resent, replace=False))
            n_bad = max(1, n // 100)
            bad = rng.integers(0, 2, n_bad).astype(bool)
            lines.extend(self._tx_lines(
                t0 + rng.integers(0, 86_400, n_bad),
                rng.integers(0, self.n_cards, n_bad), bad_date=bad,
                bad_amount=~bad))
        self._sent.extend(new_rows)
        order = rng.permutation(len(lines))
        tx_path = os.path.join(out, f"transactions_{stamp}.txt")
        with open(tx_path, "w") as fh:
            fh.write(TX_HEADER)
            fh.writelines(lines[i] for i in order)

        for tid in rng.choice(sorted(self._terminals), changes, replace=False):
            attrs = self._terminals[str(tid)]
            attrs[1] = CITIES[(CITIES.index(attrs[1]) + 1) % len(CITIES)]
            attrs[2] = attrs[2] + "b"
        term_path = os.path.join(out, f"terminals_{stamp}.csv")
        with open(term_path, "w") as fh:
            fh.write("terminal_id,terminal_type,terminal_city,terminal_address\n")
            for tid, (ttype, city, addr) in sorted(self._terminals.items()):
                fh.write(f"{tid},{ttype},{city},{addr}\n")

        for c in rng.choice(self.n_cards, 2, replace=False):
            passport = f"P{int(c):07d}"
            if all(p != passport for _, p in self._blacklist):
                self._blacklist.append((day.isoformat(), passport))
        bl_path = os.path.join(out, f"passport_blacklist_{stamp}.xlsx.csv")
        with open(bl_path, "w") as fh:
            fh.write("date;passport\n")
            fh.writelines(f"{d};{p}\n" for d, p in self._blacklist)

        files = [tx_path, term_path, bl_path]
        return Night(day, files, len(lines), len(new_rows), n_bad, changes,
                     sum(os.path.getsize(f) for f in files))

    def _tx_lines(self, ts: np.ndarray, cards: np.ndarray, bad_date=None,
                  bad_amount=None, amounts=None, results=None,
                  opers=None) -> list[str]:
        """Semicolon rows with fresh trans_ids; ``bad_date``/``bad_amount``
        masks make the date (hour 25) or the amount unparseable."""
        rng = self._rng
        n = len(ts)
        ids = range(self._next_id + 1, self._next_id + 1 + n)
        self._next_id += n
        if amounts is None:
            amounts = np.round(rng.exponential(3000, n) + 1, 2)
        if opers is None:
            opers = rng.choice(["PAYMENT", "WITHDRAW", "DEPOSIT"], n)
        if results is None:
            results = np.where(rng.random(n) < 0.1, "REJECT", "SUCCESS")
        terms = rng.integers(0, self.n_terminals, n)
        bad_date = np.zeros(n, bool) if bad_date is None else bad_date
        bad_amount = np.zeros(n, bool) if bad_amount is None else bad_amount
        out = []
        for i, tid in enumerate(ids):
            date = str(ts[i]).replace("T", " ")
            if bad_date[i]:
                date = date[:11] + "25" + date[13:]
            whole, frac = f"{amounts[i]:.2f}".split(".")
            euro = f"{int(whole):,}".replace(",", ".") + "," + frac
            if bad_amount[i]:
                euro += "x"
            out.append(f"{tid};{date};{euro};{self._cards[cards[i]]};"
                       f"{opers[i]};{results[i]};T{terms[i]:04d}\n")
        return out

    def _rule4_burst(self, ts: np.datetime64) -> list[str]:
        """Three REJECTs with falling amounts then a SUCCESS, inside 20
        minutes on one card — the pattern fraud rule 4 reports."""
        card = int(self._rng.integers(0, self.n_cards))
        amount = float(self._rng.integers(5000, 9000))
        return self._tx_lines(
            ts + np.arange(4) * 240, np.full(4, card),
            amounts=amount - 700 * np.arange(4),
            results=["REJECT", "REJECT", "REJECT", "SUCCESS"],
            opers=["WITHDRAW"] * 4)

    def dimension_rows(self) -> dict[str, list[tuple]]:
        """Cards, accounts and clients as full SCD2 history rows.

        Every tenth account expires inside the timed nights (fraud rule
        2) and every seventh client's passport has expired (rule 1).
        """
        eff = dt.datetime(2020, 1, 1)
        expiry = self.start + dt.timedelta(days=self.history_nights + 1)
        cards, accounts, clients = [], [], []
        for i in range(self.n_cards):
            acc, cli = f"ACC{i:06d}", f"C{i:06d}"
            cards.append((self._card_num(i), acc, eff, INFINITY, "N"))
            valid_to = expiry if i % 10 == 0 else dt.date(2030, 1, 1)
            accounts.append((acc, valid_to, cli, eff, INFINITY, "N"))
            pass_to = dt.date(2023, 6, 1) if i % 7 == 0 else dt.date(2035, 1, 1)
            clients.append((cli, f"Last{i}", f"First{i}",
                            None if i % 4 == 0 else f"Pat{i}", f"P{i:07d}",
                            pass_to, f"+7-{i:07d}", eff, INFINITY, "N"))
        return {"cards": cards, "accounts": accounts, "clients": clients}


def write_dimensions(out_dir: str, rows: dict[str, list[tuple]]) -> dict[str, str]:
    """Write the dimension rows as parquet (one directory per table) with
    the types the engine's session reads back as ``timestamp`` and
    ``date``; returns table -> directory."""
    ts = pa.timestamp("us", tz="UTC")
    types = {
        "cards": [("card_num", pa.string()), ("account_num", pa.string()),
                  ("effective_from", ts), ("effective_to", ts),
                  ("deleted_flg", pa.string())],
        "accounts": [("account_num", pa.string()), ("valid_to", pa.date32()),
                     ("client", pa.string()), ("effective_from", ts),
                     ("effective_to", ts), ("deleted_flg", pa.string())],
        "clients": [("client_id", pa.string()), ("last_name", pa.string()),
                    ("first_name", pa.string()), ("patronymic", pa.string()),
                    ("passport_num", pa.string()),
                    ("passport_valid_to", pa.date32()), ("phone", pa.string()),
                    ("effective_from", ts), ("effective_to", ts),
                    ("deleted_flg", pa.string())],
        "blacklist": [("entry_dt", pa.date32()), ("passport_num", pa.string())],
    }
    paths = {}
    for name, fields in types.items():
        schema = pa.schema(fields)
        cols = list(zip(*rows.get(name, []))) or [[] for _ in fields]
        table = pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)],
                         schema=schema)
        paths[name] = os.path.join(out_dir, name)
        os.makedirs(paths[name])
        pq.write_table(table, os.path.join(paths[name], "part-0.parquet"))
    return paths
