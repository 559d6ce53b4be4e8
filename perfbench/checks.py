"""Correctness checks, run outside the timed region.  Each returns a list of
mismatch descriptions; every entry counts as one failed operation."""

from __future__ import annotations

import math
from collections import defaultdict
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# etl_dashboard, the refresh: gold tables vs an independent recomputation
# --------------------------------------------------------------------------

PRICE, SIZE = 1_000_000, 1_000
_TRIGGER = ("place_order", "place_perp_order_v3", "place_order_v4")


def _hour(ts: str) -> datetime:
    return datetime.strptime(ts[:13], "%Y-%m-%dT%H")


def expected_gold(rows: list[dict]) -> dict[str, dict]:
    """Recompute the gold tables of ``build_transactions_pipeline`` from
    the generated rows in plain Python (exact integer sums where the
    pipeline sums exactly).  Keys are tuples of the table's group columns."""
    trade = defaultdict(lambda: [0, 0.0, set()])
    dep = defaultdict(lambda: [0, 0])
    wd = defaultdict(lambda: [0, 0])
    liq = defaultdict(lambda: [0, 0, 0, 0, set()])
    fund = defaultdict(lambda: [0, 0, 0, 0, 0])
    trade_by_auth = defaultdict(lambda: defaultdict(float))
    for tx in rows:
        if not tx["is_successful"]:
            continue
        h = _hour(tx["block_time"])
        for ix in tx["instructions"]:
            name, ev = ix["name"], ix["events"]
            named = ix["accounts"]["named"]
            trades = []
            if name == "crank_event_queue":
                trades = [e["event"] for e in ev if e["name"].startswith("trade_event")]
            elif name in _TRIGGER:
                names = [e["name"] for e in ev]
                tr = [e["event"] for e in ev if e["name"].startswith("trade_event")]
                if "place_order_event" in names and tr:
                    trades = [tr[0]]
            for t in trades:
                asset = t["zeta_group"][3:]
                vol = (int(t["price"]) / PRICE) * (int(t["size"]) / SIZE)
                g = trade[(h, asset)]
                g[0] += 1
                g[1] += vol
                g[2].add(t["user"])
                trade_by_auth[t["user"]][h] += vol
            if name.startswith("deposit") or name.startswith("withdraw"):
                g = (dep if name.startswith("deposit") else wd)[
                    (h, named["authority"], named["margin_account"])
                ]
                g[0] += 1
                g[1] += int(ix["args"]["amount"])
            if name.startswith("liquidate"):
                for e in ev:
                    if e["name"].startswith("liquidation_event"):
                        p = e["event"]
                        g = liq[(h, named["market"][4:])]
                        g[0] += 1
                        g[1] += abs(int(p["size"]))
                        g[2] += int(p["liquidator_reward"])
                        g[3] += int(p["insurance_reward"])
                        g[4].add(p["liquidatee"])
            for e in ev:
                if e["name"].startswith("apply_funding_event"):
                    p = e["event"]
                    if int(p["balance_change"]) == 0:
                        continue
                    g = fund[(h, p["asset"].upper(), p["user"], p["margin_account"])]
                    g[0] += int(p["balance_change"])
                    g[1] += int(p["funding_rate"])
                    g[2] += int(p["oracle_price"])
                    g[3] += int(p["position_size"])
                    g[4] += 1
    out = {
        "agg_ix_trade_asset_1h": {
            k: (v[0], v[1], len(v[2])) for k, v in trade.items()
        },
        "agg_ix_deposit_user_1h": {k: (v[0], v[1] / PRICE) for k, v in dep.items()},
        "agg_ix_withdraw_user_1h": {k: (v[0], v[1] / PRICE) for k, v in wd.items()},
        "agg_ix_liquidate_asset_1h": {
            k: (v[0], v[1] / SIZE, v[2] / PRICE, v[3] / PRICE, len(v[4]))
            for k, v in liq.items()
        },
        "agg_funding_rate_user_asset_1h": {
            k: (v[0] / PRICE, v[1] / v[4] / PRICE, v[2] / v[4] / PRICE, v[3] / v[4] / SIZE)
            for k, v in fund.items()
        },
    }
    # 24h rolling over the dense (hour x asset) spine; the window includes
    # the bucket exactly 24h back, so it spans 25 hourly buckets
    hours = sorted({k[0] for k in trade})
    assets = sorted({k[1] for k in trade})
    roll = {}
    if hours:
        spine = []
        h = hours[0]
        while h <= hours[-1]:
            spine.append(h)
            h += timedelta(hours=1)
        for a in assets:
            for i, h in enumerate(spine):
                cnt, vol = trade.get((h, a), (0, 0.0, None))[:2]
                win = spine[max(0, i - 24) : i + 1]
                c24 = sum(trade.get((w, a), (0, 0.0))[0] for w in win)
                v24 = sum(trade.get((w, a), (0, 0.0))[1] for w in win)
                roll[(h, a)] = (cnt, vol, c24, v24)
    out["agg_ix_trade_asset_24h_rolling"] = roll
    # fee tiers: the latest traded hour per authority with its 30-day volume
    # (the generated span is shorter than 30 days, so that is all of it)
    tiers = {}
    cuts = (100_000, 500_000, 1_000_000, 5_000_000, 10_000_000, 20_000_000, 50_000_000)
    mult = (1.0, 0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3)
    for auth, by_hour in trade_by_auth.items():
        last = max(by_hour)
        total = sum(by_hour.values())
        tier = sum(total >= c for c in cuts)
        tiers[(auth,)] = (last, by_hour[last], total, tier, mult[tier])
    out["fee_tiers"] = tiers
    return out


GOLD_KEYS = {
    "agg_ix_trade_asset_1h": (("timestamp", "asset"), ("trade_count", "volume", "traders")),
    "agg_ix_deposit_user_1h": (
        ("timestamp", "authority", "margin_account"),
        ("deposit_count", "deposit_amount"),
    ),
    "agg_ix_withdraw_user_1h": (
        ("timestamp", "authority", "margin_account"),
        ("withdraw_count", "withdraw_amount"),
    ),
    "agg_ix_liquidate_asset_1h": (
        ("timestamp", "asset"),
        (
            "liquidation_count",
            "liquidated_size",
            "liquidator_reward",
            "insurance_reward",
            "liquidatees",
        ),
    ),
    "agg_funding_rate_user_asset_1h": (
        ("timestamp", "asset", "authority", "margin_account"),
        ("balance_change", "funding_rate", "oracle_price", "position_size"),
    ),
    "agg_ix_trade_asset_24h_rolling": (
        ("timestamp", "asset"),
        ("trade_count", "volume", "trade_count_24h", "volume_24h"),
    ),
    "fee_tiers": (
        ("authority",),
        ("timestamp", "volume", "total_volume_30d", "fee_tier", "fee_multiplier"),
    ),
}


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def compare_keyed(name: str, got: dict, want: dict) -> list[str]:
    """One mismatch entry per differing table (with the first few keys)."""
    bad = []
    for k in set(got) | set(want):
        g, w = got.get(k), want.get(k)
        if g is None or w is None or len(g) != len(w) or not all(
            _close(x, y) for x, y in zip(g, w)
        ):
            bad.append(f"{k}: got {g} want {w}")
    if bad:
        return [f"{name}: {len(bad)} rows differ, e.g. {sorted(map(str, bad))[:3]}"]
    return []


def rows_to_keyed(name: str, rows) -> dict:
    keys, vals = GOLD_KEYS[name]
    return {
        tuple(r[k] for k in keys): tuple(
            float(r[v]) if hasattr(r[v], "as_tuple") else r[v] for v in vals
        )
        for r in rows
    }


# --------------------------------------------------------------------------
# etl_dashboard, the page: DuckDB oracle over the same parquet
# --------------------------------------------------------------------------


def quantized_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str) -> None:
    """Compare for queries whose float sums legitimately differ in the last
    digits between engines (``decimal_faithful=False``): floats agree to
    1e-6, everything else exactly."""
    from zeta_etl_spark.testing import canonicalize

    if len(spark_pdf) != len(duck_pdf):
        raise AssertionError(f"{name}: row count {len(spark_pdf)} != {len(duck_pdf)}")
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    if list(a.columns) != list(b.columns):
        raise AssertionError(f"{name}: columns {list(a.columns)} != {list(b.columns)}")
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av.dtype) or pd.api.types.is_float_dtype(bv.dtype):
            av, bv = av.astype(float), bv.astype(float)
            ok = np.isclose(av, bv, rtol=1e-9, atol=2e-6) | (av.isna() & bv.isna())
        else:
            ok = (av == bv) | (av.isna() & bv.isna())
        if not ok.all():
            raise AssertionError(f"{name}: column {c} differs")


def check_query(spec, name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    from zeta_etl_spark.testing import assert_frames_match

    try:
        if spec.decimal_faithful:
            assert_frames_match(spark_pdf, duck_pdf, name)
        else:
            quantized_match(spark_pdf, duck_pdf, name)
    except AssertionError as e:
        msg = str(e)
        return [(msg if msg.startswith(name) else f"{name}: {msg}")[:300]]
    return []


# --------------------------------------------------------------------------
# serving_mixed: reads vs a Python model of the merged base
# --------------------------------------------------------------------------


def model_aggregate(model: dict, keys: tuple, aggs: dict) -> dict:
    """Group the modelled base rows by ``keys`` and apply the navigator
    aggregate spec (count_rows / sum / min / max over integer columns)."""
    groups: dict = {}
    for r in model.values():
        k = tuple(r[c] for c in keys)
        groups.setdefault(k, []).append(r)
    out = {}
    for k, rs in groups.items():
        vals = []
        for _out, (fn, col) in sorted(aggs.items()):
            if fn == "count_rows":
                vals.append(len(rs))
            elif fn == "sum":
                vals.append(sum(r[col] for r in rs))
            elif fn == "min":
                vals.append(min(r[col] for r in rs))
            elif fn == "max":
                vals.append(max(r[col] for r in rs))
            else:
                raise ValueError(fn)
        out[k] = tuple(vals)
    return out


def result_rows_keyed(rows, keys: tuple, aggs: dict) -> dict:
    return {
        tuple(r[c] for c in keys): tuple(r[o] for o in sorted(aggs)) for r in rows
    }
