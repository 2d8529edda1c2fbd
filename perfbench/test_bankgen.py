"""Fast checks of the benchmark's bank-transactions generator (no Spark
session): the planted rule 1-4 counts and the churn log come out as
declared, re-derived from the generated rows, and a seed reproduces
its extracts byte for byte.

    python -m pytest perfbench/test_bankgen.py -q
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from bankgen import (ACCOUNT, CITY_HOP, GUESS, PASSPORT, BankGenerator,
                     Shape, write_extract)
from greenplum_dwh_spark.mart.chains import detect_chains_pd

SHAPE = Shape(clients=60, tx_per_client=5, churn=0.1, account_churn=0.1,
              new_cards=0.05)
DAYS = 4
#: dimension -> (key column, attribute columns) in landing terms
DIMS = {
    "dim_terminals_hist": ("terminal", ["terminal", "terminal_type",
                                        "city", "address"]),
    "dim_cards_hist": ("card_num", ["card_num", "account_num"]),
    "dim_accounts_hist": ("account_num", ["account_num",
                                          "account_valid_to", "client"]),
    "dim_clients_hist": ("client", ["client", "last_name", "first_name",
                                    "patronymic", "date_of_birth",
                                    "passport_num", "passport_valid_to",
                                    "phone"]),
}


def _days(seed):
    gen = BankGenerator(SHAPE, seed)
    out = []
    for d in range(DAYS):
        table, exp = gen.day(d)
        pdf = table.to_pandas()
        pdf["trans_date"] = pdf["trans_date"].dt.tz_localize(None)
        out.append((pdf, exp))
    return out


def _rule_counts(prev: pd.DataFrame | None, cur: pd.DataFrame) -> dict:
    """Rules 1-4 over one day, with the previous day's tail as the
    rule-3 (1 hour) and rule-4 (20 minute) lookback."""
    day0 = pd.Timestamp(cur["trans_date"].min().date())
    exp_pass = cur["trans_date"] > pd.to_datetime(cur["passport_valid_to"])
    exp_acct = cur["trans_date"] > pd.to_datetime(cur["account_valid_to"])
    both = pd.concat([prev, cur]) if prev is not None else cur
    hop = 0
    w3 = both[both["trans_date"] >= day0 - pd.Timedelta(hours=1)]
    for _, g in w3.sort_values("trans_date").groupby("client"):
        gap = g["trans_date"].diff().dt.total_seconds()
        hit = ((g["city"] != g["city"].shift())
               & ((gap // 3600) % 24 == 0) & gap.notna())
        hop += int(hit.sum())
    w4 = both[both["trans_date"] >= day0 - pd.Timedelta(minutes=20)]
    w4 = w4.assign(fio="x", passport_num=w4["passport_num"])
    guess = sum(len(detect_chains_pd(g, dt.datetime(2020, 6, 1)))
                for _, g in w4.groupby("client"))
    return {PASSPORT: int(exp_pass.sum()),
            ACCOUNT: int((exp_acct & ~exp_pass).sum()),
            CITY_HOP: hop, GUESS: guess}


@pytest.mark.parametrize("seed", [7, 8])
def test_planted_counts_and_churn_log(seed):
    prev = None
    tuples = {h: set() for h in DIMS}
    keys = {h: set() for h in DIMS}
    versions = {h: 0 for h in DIMS}
    current = {h: 0 for h in DIMS}
    for pdf, exp in _days(seed):
        assert exp["rows"] == len(pdf)
        assert _rule_counts(prev, pdf) == exp["report"]
        for h, (key, attrs) in DIMS.items():
            tuples[h] |= set(map(tuple, pdf[attrs].astype(str).values))
            keys[h] |= set(pdf[key])
            c = exp["churn"][h]
            versions[h] += c["new_keys"] + c["changes"]
            current[h] += c["new_keys"]
            assert (len(tuples[h]), len(keys[h])) == (versions[h], current[h]), h
        prev = pdf
    # the shape really churns every tracked dimension
    assert all(versions[h] > current[h] for h in DIMS if h != "dim_cards_hist")
    assert current["dim_cards_hist"] > SHAPE.clients + 9


def test_same_seed_same_bytes(tmp_path):
    def write(seed, tag):
        gen = BankGenerator(SHAPE, seed)
        out = []
        for d in range(DAYS):
            path = tmp_path / f"{tag}-{d}.parquet"
            write_extract(gen.day(d)[0], str(path))
            out.append(path.read_bytes())
        return out

    assert write(3, "a") == write(3, "b")
    assert write(3, "a") != write(4, "c")
