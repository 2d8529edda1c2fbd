"""Seeded bank-transactions generator for the warehouse benchmark.

Writes one landing extract per day (parquet, landing column order) and
declares, for that day, exactly what the warehouse must end up holding:

- report rows per fraud type, from patterns planted at known counts
  (modeled on ``tests/bank_fixture.py``):
  - rule 1: one client with an expired passport — every transaction of
    theirs on the day is flagged;
  - rule 2: two clients with expired accounts — likewise;
  - rule 3: two clients hopping cities 30 minutes apart (one flag each),
    plus a 90-minute near-miss that must not be flagged;
  - rule 4: a full chain (3 decreasing declines 5 minutes apart, then a
    success), a chain whose declines close one day and whose success
    opens the next (flagged on the next day), and a 2-decline near-miss;
- a churn log: per SCD2 dimension, the new keys and attribute changes
  of the day, so current and total version counts are known.

Background traffic cannot trip a rule: a client's transactions all hit
terminals of their home city, fall between 01:00 and 22:30 and sit at
least 30 minutes apart (so no 3-decline chain fits the 20-minute
budget), and churn never reverts an attribute tuple.

The generator is pure Python; the program under test sees only the
written extracts.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.date(2020, 5, 1)
VALID = dt.date(2030, 1, 1)
EXPIRED_PASSPORT = dt.date(2019, 12, 31)
EXPIRED_ACCOUNT = dt.date(2020, 4, 15)
CITIES = ["Москва", "Казань", "Тверь", "Самара", "Пермь", "Омск", "Уфа"]
SUCCESS, DECLINED = "Успешно", "Отказ"
OPS = ["Пополнение", "Снятие", "Оплата"]

# report labels (greenplum_dwh_spark.schemas.FRAUD_*)
PASSPORT = "Совершение операции при просроченном паспорте"
ACCOUNT = "Совершение операции при недействующем договоре"
CITY_HOP = "Совершение операции в разных городах в течение 1 часа"
GUESS = "Попытка подбора сумм"
FRAUD_TYPES = [PASSPORT, ACCOUNT, CITY_HOP, GUESS]

#: SCD2 dimensions the churn log tracks (warehouse table names)
HIST = ["dim_terminals_hist", "dim_cards_hist", "dim_accounts_hist",
        "dim_clients_hist"]

_TS = pa.timestamp("us", tz="UTC")
LANDING = pa.schema([
    ("trans_id", pa.string()), ("trans_date", _TS),
    ("card_num", pa.string()), ("account_num", pa.string()),
    ("account_valid_to", pa.date32()), ("client", pa.string()),
    ("last_name", pa.string()), ("first_name", pa.string()),
    ("patronymic", pa.string()), ("date_of_birth", pa.date32()),
    ("passport_num", pa.string()), ("passport_valid_to", pa.date32()),
    ("phone", pa.string()), ("oper_type", pa.string()),
    ("amount", pa.decimal128(18, 2)), ("oper_result", pa.string()),
    ("terminal", pa.string()), ("terminal_type", pa.string()),
    ("city", pa.string()), ("address", pa.string()),
])


@dataclass(frozen=True)
class Shape:
    """Size and churn of one generated warehouse day."""
    clients: int          # regular (non-planted) clients
    tx_per_client: int    # background transactions per client per day
    churn: float          # share of clients and terminals changing per day
    account_churn: float = 0.0   # share of accounts changing valid_to
    new_cards: float = 0.0       # share of accounts issued a new card


class BankGenerator:
    """Day-by-day extract generator; ``day(d)`` must be called for
    d = 0, 1, 2, ... in order (day 0 is the initial load)."""

    def __init__(self, shape: Shape, seed: int):
        if not 1 <= shape.tx_per_client <= 22:
            raise ValueError("tx_per_client must be in 1..22")
        self.shape = shape
        self.rng = random.Random(seed)
        n = shape.clients
        self.n_terminals = max(2 * len(CITIES), n // 10)
        # planted clients follow the regular ones
        self.passport_c = [n]
        self.account_c = [n + 1, n + 2]
        self.hop_c = [n + 3, n + 4]
        self.hop_miss_c = n + 5
        self.chain_c, self.midnight_c, self.chain_miss_c = n + 6, n + 7, n + 8
        self.n_clients = n + 9
        # planted hop terminals: 4 distinct cities, never churned
        self.hop_t = list(range(self.n_terminals, self.n_terminals + 4))
        self.pool = {c: [t for t in range(self.n_terminals)
                         if t % len(CITIES) == c]
                     for c in range(len(CITIES))}
        self.phone_v = [0] * self.n_clients
        self.card_v = [0] * self.n_clients
        self.valid_v = [0] * self.n_clients
        self.addr_v = [0] * (self.n_terminals + 4)
        self.next_day = 0

    # ---- entities ---------------------------------------------------
    def _home(self, i: int) -> int:
        return i % len(CITIES)

    def _card(self, i: int) -> str:
        return f"{5000000000000000000 + i * 1000 + self.card_v[i]}"

    def _account(self, i: int) -> str:
        return f"{4081781000000000000 + i}"

    def _account_valid_to(self, i: int) -> dt.date:
        if i in self.account_c:
            return EXPIRED_ACCOUNT
        return VALID + dt.timedelta(days=30 * self.valid_v[i])

    def _terminal_id(self, t: int) -> str:
        return f"{'POS' if t % 2 else 'ATM'}{t:05d}"

    def _terminal_city(self, t: int) -> str:
        if t >= self.n_terminals:                  # planted hop terminal
            return CITIES[t - self.n_terminals]
        return CITIES[t % len(CITIES)]

    # ---- one day ----------------------------------------------------
    def day(self, d: int) -> tuple[pa.Table, dict]:
        """The day-``d`` extract and its declared outcome:
        ``{"date", "rows", "report": {fraud type: n}, "churn": {...}}``."""
        if d != self.next_day:
            raise ValueError(f"days are generated in order; expected "
                             f"{self.next_day}, got {d}")
        self.next_day += 1
        rng, shape = self.rng, self.shape
        date = DAY0 + dt.timedelta(days=d)
        # skeleton: (client, terminal, hh, mm, ss, result, amount|None)
        txns: list[tuple] = []
        background = (list(range(shape.clients)) + self.passport_c
                      + self.account_c)
        for i in background:
            pool = self.pool[self._home(i)]
            for hh in sorted(rng.sample(range(1, 23), shape.tx_per_client)):
                txns.append((i, rng.choice(pool), hh, rng.randrange(30),
                             rng.randrange(60),
                             SUCCESS if rng.random() < 0.8 else DECLINED,
                             None))
        for i in self.hop_c:                     # rule 3: 30 min apart
            txns.append((i, self.hop_t[0], 12, 0, 0, SUCCESS, None))
            txns.append((i, self.hop_t[1], 12, 30, 0, SUCCESS, None))
        m = self.hop_miss_c                      # 90 min: hour field 1
        txns.append((m, self.hop_t[2], 14, 0, 0, SUCCESS, None))
        txns.append((m, self.hop_t[3], 15, 30, 0, SUCCESS, None))
        c, home = self.chain_c, self.pool[self._home(self.chain_c)][0]
        for mm, res, amt in ((0, DECLINED, "9000.00"),
                             (5, DECLINED, "8000.00"),
                             (10, DECLINED, "7000.00"),
                             (15, SUCCESS, "6500.00")):
            txns.append((c, home, 10, mm, 0, res, amt))
        c, home = self.chain_miss_c, self.pool[self._home(self.chain_miss_c)][0]
        for mm, res, amt in ((0, DECLINED, "5000.00"),
                             (5, DECLINED, "4000.00"),
                             (10, SUCCESS, "3500.00")):
            txns.append((c, home, 11, mm, 0, res, amt))
        # midnight chain: success just after midnight closes yesterday's
        # declines; today's declines close the day for tomorrow
        c, home = self.midnight_c, self.pool[self._home(self.midnight_c)][0]
        txns.append((c, home, 0, 3, 0, SUCCESS, "9650.00"))
        for mm, amt in ((45, "9900.00"), (50, "9800.00"), (55, "9700.00")):
            txns.append((c, home, 23, mm, 0, DECLINED, amt))

        churn = self._churn(d, txns)
        table = self._materialize(d, date, txns)
        report = {
            PASSPORT: shape.tx_per_client * len(self.passport_c),
            ACCOUNT: shape.tx_per_client * len(self.account_c),
            CITY_HOP: len(self.hop_c),
            GUESS: 1 + (1 if d > 0 else 0),
        }
        return table, {"date": date, "rows": table.num_rows,
                       "report": report, "churn": churn}

    def _churn(self, d: int, txns: list[tuple]) -> dict:
        """Apply the day's attribute changes and log them per SCD2 dim."""
        shape, rng = self.shape, self.rng
        if d == 0:
            log = {"dim_terminals_hist": self.n_terminals + 4,
                   "dim_cards_hist": self.n_clients,
                   "dim_accounts_hist": self.n_clients,
                   "dim_clients_hist": self.n_clients}
            return {h: {"new_keys": n, "changes": 0} for h, n in log.items()}
        regular = range(shape.clients)
        used_t = sorted({t for _, t, *_ in txns if t < self.n_terminals})

        def pick(pop, share):
            # a nonzero share changes at least one entity a day
            n = max(1, round(share * len(pop))) if share > 0 else 0
            return rng.sample(list(pop), n)

        phones = pick(regular, shape.churn)
        for i in phones:
            self.phone_v[i] += 1
        addrs = pick(used_t, shape.churn)
        for t in addrs:
            self.addr_v[t] += 1
        acc = pick(regular, shape.account_churn)
        for i in acc:
            self.valid_v[i] += 1
        cards = pick(regular, shape.new_cards)
        for i in cards:
            self.card_v[i] += 1
        return {
            "dim_terminals_hist": {"new_keys": 0, "changes": len(addrs)},
            "dim_cards_hist": {"new_keys": len(cards), "changes": 0},
            "dim_accounts_hist": {"new_keys": 0, "changes": len(acc)},
            "dim_clients_hist": {"new_keys": 0, "changes": len(phones)},
        }

    def _materialize(self, d: int, date: dt.date, txns: list[tuple]) -> pa.Table:
        rng = self.rng
        cols: dict[str, list] = {f.name: [] for f in LANDING}
        txns.sort(key=lambda x: (x[2], x[3], x[4], x[0]))
        for seq, (i, t, hh, mm, ss, res, amt) in enumerate(txns):
            city = self._terminal_city(t)
            row = {
                "trans_id": f"{d + 1:04d}{seq:07d}",
                "trans_date": dt.datetime.combine(date, dt.time(hh, mm, ss),
                                                  tzinfo=dt.UTC),
                "card_num": self._card(i),
                "account_num": self._account(i),
                "account_valid_to": self._account_valid_to(i),
                "client": f"C{i:06d}",
                "last_name": f"Фамилия{i}",
                "first_name": f"Имя{i % 97}",
                "patronymic": f"Отчество{i % 89}",
                "date_of_birth": dt.date(1960 + i % 40, 1 + i % 12,
                                         1 + i % 28),
                "passport_num": f"{4000000000 + i}",
                "passport_valid_to": (EXPIRED_PASSPORT
                                      if i in self.passport_c else VALID),
                "phone": f"+79{i:06d}{self.phone_v[i]:03d}",
                "oper_type": rng.choice(OPS),
                "amount": (Decimal(amt) if amt is not None else
                           Decimal(f"{rng.randrange(100, 99000)}."
                                   f"{rng.randrange(100):02d}")),
                "oper_result": res,
                "terminal": self._terminal_id(t),
                "terminal_type": "POS" if t % 2 else "ATM",
                "city": city,
                "address": f"{city}, ул. Тестовая, д. {t}, к. {self.addr_v[t]}",
            }
            for k, v in row.items():
                cols[k].append(v)
        return pa.Table.from_pydict(cols, schema=LANDING)


def write_extract(table: pa.Table, path: str) -> int:
    """Write one extract; returns its size in bytes."""
    import os
    pq.write_table(table, path)
    return os.path.getsize(path)
