"""Self-test of the benchmark: a tiny-size run of every workload.

    python3 perfbench/selftest.py

For each workload it runs ``run.py`` at a tenth of the benchmark's sizes
(300 transactions and an sf0.001 star schema; a 400-row seed, 50-row
microbatches and 12 requests per cycle) and asserts that

- an untraced run prints exactly the end-to-end metrics of BENCHMARK.json,
  each with its unit, and reports a correct result;
- a traced run with checked results deliberately corrupted prints exactly
  the per-layer metrics of BENCHMARK.json, each with its unit, and every
  corrupted check trips (``correct`` false, one failure per corrupted check).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _run(workload: str, trace: int, corrupt: bool, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", "7",
        "--seconds", "1",
        "--trace", str(trace),
        "--scale", "0.1",
    ] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def _check_metrics(got: dict, want: dict[str, str], what: str) -> None:
    assert set(got) == set(want), f"{what}: metrics differ: {sorted(set(got) ^ set(want))}"
    for name, unit in want.items():
        m = got[name]
        assert m["unit"] == unit, f"{what}: {name} unit {m['unit']} != {unit}"
        assert isinstance(m["value"], (int, float)), f"{what}: {name} not a number"


# the checks --corrupt breaks, per workload: one ETL gold table and one
# dashboard query; serving reads
CORRUPTED = {
    "etl_dashboard": ("agg_ix_trade_asset_1h", "pricing_summary"),
    "serving_mixed": ("read",),
}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert layer == run.per_layer_units(), "per-layer metrics differ from BENCHMARK.json"
    for wl in run.WORKLOADS:
        rc, out = _run(wl, trace=0, corrupt=False)
        assert rc == 0 and out, f"{wl}: exit {rc}"
        res = json.loads(out[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
        assert res["correct"] and res["failed"] == 0, f"{wl}: {out[-2][:2000]}"
        assert res["attempted"] >= 1
        _check_metrics(res["metrics"], e2e, f"{wl} end-to-end")
        print(f"ok {wl} untraced: {len(e2e)} metrics, correct", flush=True)

        rc, out = _run(wl, trace=1, corrupt=True)
        assert rc == 0 and out, f"{wl} traced: exit {rc}"
        res = json.loads(out[-1])
        _check_metrics(res["metrics"], layer, f"{wl} per-layer")
        errors = json.loads(out[-2])["details"]["errors"]
        assert not res["correct"] and res["failed"] == len(CORRUPTED[wl]), (
            f"{wl}: {res['failed']} failures for {len(CORRUPTED[wl])} corrupted checks: {errors}"
        )
        for what in CORRUPTED[wl]:
            assert any(e.startswith(what) for e in errors), f"{wl}: {what} not caught: {errors}"
        print(f"ok {wl} traced: {len(layer)} metrics, corruption caught", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
