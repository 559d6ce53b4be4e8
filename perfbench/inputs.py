"""Seeded input generators for the two benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical inputs.  The program under test only ever sees
the files written here.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# etl_dashboard, the refresh: Solana/helius-shaped transactions (FIXTURES.md F1)
# --------------------------------------------------------------------------

TX_BASE = datetime(2024, 3, 1)
TX_DAYS = 4
TX_AUTHORITIES = 400
TX_FAIL_RATE = 0.05
ASSETS = ("SOL", "BTC", "ETH", "APT", "ARB")
# instruction kinds and their weights; every kind pipelines/transactions.py
# parses appears, plus failed transactions and instructions no node reads
TX_KINDS = (
    ("deposit", 10),
    ("withdraw", 6),
    ("taker", 22),
    ("maker", 18),
    ("order_complete", 12),
    ("liquidate", 5),
    ("funding", 12),
    ("other", 10),
)


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _named(**kw) -> dict:
    return {"named": kw, "remaining": []}


def _instruction(kind: str, rng: random.Random, auth: str, asset: str) -> dict:
    margin = f"m_{auth}"
    base = {"args": {}, "accounts": _named(), "program_id": "zeta", "events": []}
    if kind in ("deposit", "withdraw"):
        name = kind if rng.random() < 0.7 else f"{kind}_v2"
        return {
            **base,
            "name": name,
            "args": {"amount": str(rng.randrange(1, 500) * 1_000_000)},
            "accounts": _named(authority=auth, margin_account=margin),
        }
    if kind in ("taker", "maker"):
        price = str(rng.randrange(10, 100) * 1_000_000)
        trade = {
            "name": rng.choice(("trade_event", "trade_event_v2", "trade_event_v3")),
            "event": {
                "user": auth,
                "margin_account": margin,
                "zeta_group": f"zg_{asset}",
                "price": price,
                "size": str(rng.randrange(1, 50) * 1_000),
                "is_bid": rng.choice(("true", "false")),
            },
        }
        if kind == "maker":
            return {**base, "name": "crank_event_queue", "events": [trade]}
        place = {
            "name": "place_order_event",
            "event": {
                "user": auth,
                "margin_account": margin,
                "fee": "500000",
                "oracle_price": price,
            },
        }
        return {
            **base,
            "name": rng.choice(
                ("place_order", "place_perp_order_v3", "place_order_v4")
            ),
            "events": [place, trade],
        }
    if kind == "order_complete":
        return {
            **base,
            "name": rng.choice(
                ("cancel_order", "cancel_all_market_orders", "execute_trigger_order")
            ),
            "accounts": _named(authority=auth, market=f"mkt_{asset}"),
            "events": [
                {
                    "name": "order_complete_event",
                    "event": {
                        "asset": asset.lower(),
                        "margin_account": margin,
                        "order_complete_type": rng.choice(("cancel", "fill")),
                        "side": rng.choice(("bid", "ask")),
                        "unfilled_size": str(rng.randrange(0, 30) * 1_000),
                        "order_id": str(rng.randrange(10**9)),
                        "client_order_id": str(rng.randrange(10**6)),
                    },
                }
            ],
        }
    if kind == "liquidate":
        size = rng.randrange(1, 40) * 1_000 * rng.choice((1, -1))
        return {
            **base,
            "name": rng.choice(("liquidate", "liquidate_v2")),
            "args": {"size": str(abs(size))},
            "accounts": _named(market=f"mkt_{asset}"),
            "events": [
                {
                    "name": "liquidation_event",
                    "event": {
                        "size": str(size),
                        "asset": asset.lower(),
                        "liquidatee": f"liq_{rng.randrange(40)}",
                        "liquidator": auth,
                        "liquidator_reward": str(rng.randrange(1, 90) * 1_000_000),
                        "insurance_reward": str(rng.randrange(0, 20) * 1_000_000),
                        "cost_of_trades": str(rng.randrange(1, 900) * 1_000_000),
                        "mark_price": str(rng.randrange(10, 100) * 1_000_000),
                    },
                }
            ],
        }
    if kind == "funding":
        return {
            **base,
            "name": "apply_funding",
            "events": [
                {
                    "name": "apply_funding_event",
                    "event": {
                        "asset": asset.lower(),
                        "user": auth,
                        "margin_account": margin,
                        # about one in six is a zero change the node drops
                        "balance_change": str(
                            rng.choice((0, 1, 1, -1, -1, 2))
                            * rng.randrange(1, 50)
                            * 100_000
                        ),
                        "funding_rate": str(rng.randrange(1, 500)),
                        "oracle_price": str(rng.randrange(10, 100) * 1_000_000),
                        "position_size": str(rng.randrange(1, 60) * 1_000),
                    },
                }
            ],
        }
    # "other": an instruction no node parses (cancel without an event)
    return {**base, "name": "cancel_order", "accounts": _named(authority=auth)}


def gen_transactions(seed: int, n_tx: int) -> list[dict]:
    """``n_tx`` transactions over ``TX_DAYS`` days, each with 1-3
    instructions; authorities are Zipf(1.1)-distributed."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    auth_idx = nrng.choice(
        TX_AUTHORITIES, size=n_tx * 3, p=zipf_weights(TX_AUTHORITIES, 1.1)
    )
    kinds = [k for k, _ in TX_KINDS]
    weights = [w for _, w in TX_KINDS]
    rows = []
    j = 0
    for i in range(n_tx):
        ts = TX_BASE + timedelta(seconds=rng.randrange(TX_DAYS * 86400))
        instructions = []
        for _ in range(rng.choice((1, 1, 1, 2, 3))):
            auth = f"auth_{auth_idx[j]}"
            j += 1
            kind = rng.choices(kinds, weights)[0]
            instructions.append(_instruction(kind, rng, auth, rng.choice(ASSETS)))
        rows.append(
            {
                "signature": f"sig_{seed}_{i}",
                "instructions": instructions,
                "is_successful": rng.random() >= TX_FAIL_RATE,
                "slot": 1_000_000 + i,
                "block_time": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                "fee": 5000,
            }
        )
    return rows


def write_jsonl(path: str, rows: list[dict]) -> int:
    """Write ``rows`` as one JSON object per line; returns bytes written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows)
    with open(path, "w") as fh:
        fh.write(data)
    return len(data.encode())


def dims_rows() -> tuple[list[tuple], list[tuple]]:
    """(markets, zetagroup_mapping) rows for every asset."""
    markets = [(a, f"mkt_{a}", 0.0, "perp", TX_BASE, TX_BASE) for a in ASSETS]
    zetagroups = [(f"zg_{a}", a) for a in ASSETS]
    return markets, zetagroups


# --------------------------------------------------------------------------
# etl_dashboard, the page: the star schema + events tables of TESTDATA.md
# --------------------------------------------------------------------------

STAR_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")
_DAY_US = 86_400 * 1_000_000


def _dates(rng, lo: datetime, hi: datetime, n: int) -> np.ndarray:
    days = (hi - lo).days
    d = rng.integers(0, days + 1, n)
    return (np.datetime64(lo, "us") + d.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def gen_star(seed: int, sf: float, out_dir: str) -> int:
    """Write the seven tables the dashboard queries read, scaled like the
    synthetic star schema of TESTDATA.md (sf0.01 = 60k lineitem rows);
    returns the bytes written."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = max(int(6_000_000 * sf), 800)
    n_evt = max(int(1_000_000 * sf), 500)
    n_user = max(int(15_000 * sf), 20)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    d0, d1 = datetime(1995, 1, 1), datetime(2001, 8, 1)
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, d0, d1, n_ord),
            "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _dates(rng, d0, datetime(2001, 11, 4), n_line),
        },
    }
    # events: 30 days of time-ordered events, Zipf-skewed users
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    tables["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": (np.datetime64(datetime(2024, 1, 1), "us") + offs.astype("timedelta64[us]")),
        "user_id": rng.choice(n_user, n_evt, p=zipf_weights(n_user, 0.8)).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, n_evt)],
        "value": _cents(rng, 0.01, 490.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name in STAR_TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(tables[name]), path)
        total += os.path.getsize(path)
    return total


# --------------------------------------------------------------------------
# serving_mixed: JSONL microbatches of keyed events
# --------------------------------------------------------------------------

SERVE_SCHEMA = "event_id long, user_id long, event_type string, day long, cents long, seq long"
SERVE_TYPES = ("click", "view", "purchase", "signup", "error")
SERVE_USERS = 2000
SERVE_DAYS = 14
SERVE_UPDATE_SHARE = 0.4


class ServeStream:
    """Seeded microbatch source: batch 0 is the seed batch; every later
    batch has ``batch_rows`` rows, ``SERVE_UPDATE_SHARE`` of them updates
    to existing keys, the rest new keys; users are Zipf-skewed."""

    def __init__(self, seed: int, seed_rows: int, batch_rows: int):
        self.rng = np.random.default_rng(seed)
        self.seed_rows = seed_rows
        self.batch_rows = batch_rows
        self.next_key = 0
        self.seq = 0
        self.p_user = zipf_weights(SERVE_USERS, 1.0)

    def _rows(self, keys: np.ndarray) -> list[dict]:
        n = len(keys)
        users = self.rng.choice(SERVE_USERS, n, p=self.p_user)
        types = self.rng.integers(0, len(SERVE_TYPES), n)
        days = self.rng.integers(0, SERVE_DAYS, n)
        cents = self.rng.integers(1, 100_000, n)
        out = []
        for k, u, t, d, c in zip(keys, users, types, days, cents):
            self.seq += 1
            out.append(
                {
                    "event_id": int(k),
                    "user_id": int(u),
                    "event_type": SERVE_TYPES[t],
                    "day": int(d),
                    "cents": int(c),
                    "seq": self.seq,
                }
            )
        return out

    def batch(self, index: int) -> list[dict]:
        if index == 0:
            n_new, n_upd = self.seed_rows, 0
        else:
            n_upd = int(self.batch_rows * SERVE_UPDATE_SHARE)
            n_new = self.batch_rows - n_upd
        new = np.arange(self.next_key, self.next_key + n_new)
        self.next_key += n_new
        old_pool = self.next_key - n_new
        upd = (
            self.rng.choice(old_pool, n_upd, replace=False)
            if n_upd
            else np.array([], dtype=np.int64)
        )
        keys = np.concatenate([upd, new])
        self.rng.shuffle(keys)
        return self._rows(keys)
