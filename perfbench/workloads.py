"""The benchmark's two workloads.

A cycle is one write followed by reads:

- ``etl_dashboard``: the transactions DAG refreshes its tables into a fresh
  directory, then one dashboard page runs the 16 reference queries;
- ``serving_mixed``: a JSONL microbatch lands and is ingested into the
  serving store and its views, then one client sends a burst of dashboard
  requests.

Each workload sets up (inputs, fixtures, one cold warm-up cycle), runs timed
cycles until ``seconds`` of write and read time is measured, then checks its
outputs outside the timed region.  It returns a :class:`Result` of raw
samples; ``run.py`` turns them into the reported metrics.

A traced run runs one untraced cycle, then one with the layer wrappers
recording, then untraced cycles until ``seconds`` is measured.  The traced
cycle always follows the same single cycle, so its Spark counts repeat
exactly between runs with the same seed; its CPU time against the untraced
cycles' is the tracing overhead.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import inputs
from spans import CpuClock, HostSpeed, SparkCounters, Tracer

# --------------------------------------------------------------------------
# sizes (probe runs of unmodified code on 4 cores)
# --------------------------------------------------------------------------

ETL_TX = 3000
# the default DAG of build_transactions_pipeline, every node of which a
# refresh runs; all but exploded_instructions (a view) are table writes
DAG_NODES = (
    "raw_transactions",
    "cleaned_transactions",
    "exploded_instructions",
    "cleaned_ix_deposit",
    "cleaned_ix_trade",
    "cleaned_ix_withdraw",
    "cleaned_ix_order_complete",
    "cleaned_ix_liquidate",
    "cleaned_ix_funding",
    "zetagroup_dim",
    "markets_dim",
    "agg_ix_trade_asset_1h",
    "agg_ix_deposit_user_1h",
    "agg_ix_withdraw_user_1h",
    "agg_funding_rate_user_asset_1h",
    "agg_ix_liquidate_asset_1h",
    "fee_tiers",
    "agg_ix_trade_asset_24h_rolling",
)
DASH_SF = 0.01
SERVE_SEED_ROWS = 4000
SERVE_BATCH_ROWS = 500
SERVE_READS = 50  # requests after each timed ingest (see README.md)
SERVE_BUCKETS = 16

HEADLINE = (
    "pricing_summary",
    "regional_revenue",
    "order_priority_check",
    "hourly_events",
    "hourly_spine_rolling",
    "hourly_delta_prior",
    "asof_prior_click",
    "session_range_join",
    "latest_event_per_user",
    "user_cumulative_value",
    "user_leaderboard",
    "rank_change_24h",
    "serving_export",
    "pnl_leaderboard",
    "connect_attribution",
    "user_sessions",
)


@dataclass
class Cycle:
    write: tuple[float, float]  # (wall, CPU) s of the write
    read: tuple[float, float]  # (wall, CPU) s of all the reads
    ops: list[tuple[float, float]]  # (wall, CPU) s of each read
    rows: int  # input rows the write processed
    in_bytes: int  # input bytes the cycle processed
    provenance: list[str] = field(default_factory=list)  # serving, per read


@dataclass
class Result:
    setup: dict[str, float] = field(default_factory=dict)  # wall s per part
    setup_cpu: float = 0.0  # CPU s from process start to the end of warm-up
    cycles: list[Cycle] = field(default_factory=list)  # untraced
    traced: Cycle | None = None
    written_bytes: int = 0  # Spark output + shuffle + spill bytes, untraced cycles
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def fail(self, msgs: list[str], counter: str, tracer: Tracer) -> None:
        self.failed += 1
        self.errors.extend(msgs)
        tracer.count(counter)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    counters: SparkCounters
    cpu: CpuClock
    speed: HostSpeed
    seed: int
    seconds: float
    work: str
    trace: bool
    scale: float = 1.0  # the self-test shrinks every size by this factor
    corrupt: bool = False  # the self-test corrupts checked results

    def scaled(self, n: int, floor: int = 1) -> int:
        return max(int(n * self.scale), floor)

    def mark(self) -> int | None:
        """A Spark counter mark while tracing; taken outside timed code."""
        return self.counters.mark() if self.tracer.enabled else None

    def counts(self, mark: int | None) -> dict | None:
        if mark is None:
            return None
        c = self.counters.since(mark)
        self.tracer.note(c)
        return c


def _timed(ctx: Ctx, fn):
    """``(fn(), (wall s, CPU s))``; an exception is returned, not raised.
    The host speed is sampled once after each operation, so that its
    samples spread over the measured work."""
    t0, c0 = time.perf_counter(), ctx.cpu()
    try:
        out = fn()
    except Exception as e:  # a failed operation is counted, not fatal
        out = e
    timing = (time.perf_counter() - t0, ctx.cpu() - c0)
    ctx.speed.sample(1)
    return out, timing


def _timed_loop(ctx: Ctx, res: Result, cycle) -> None:
    """Run ``cycle(i)`` (returning a :class:`Cycle`) until ``ctx.seconds`` of
    write and read time is measured, at least once.  A traced run traces
    its second cycle.  The host speed is sampled before and after."""
    ctx.speed.sample()
    mark = ctx.counters.mark()
    written = 0
    i = 0
    while not res.cycles or sum(c.write[0] + c.read[0] for c in res.cycles) < ctx.seconds:
        res.cycles.append(cycle(i))
        i += 1
        if ctx.trace and res.traced is None:
            written += ctx.counters.since(mark)["written_bytes"]
            ctx.tracer.enabled = True
            try:
                res.traced = cycle(i)
            finally:
                ctx.tracer.enabled = False
            i += 1
            mark = ctx.counters.mark()
    res.written_bytes = written + ctx.counters.since(mark)["written_bytes"]
    ctx.speed.sample()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


# --------------------------------------------------------------------------
# etl_dashboard
# --------------------------------------------------------------------------


def etl_dashboard(ctx: Ctx) -> Result:
    import checks
    from zeta_etl_spark.pipelines import transactions as txmod
    from zeta_etl_spark.queries import REGISTRY
    from zeta_etl_spark.sources import json_source

    spark, res, tr = ctx.spark, Result(), ctx.tracer
    n_tx = ctx.scaled(ETL_TX, 50)
    raw_dir = os.path.join(ctx.work, "raw")
    sf_dir = os.path.join(ctx.work, "sf")
    sf = DASH_SF * ctx.scale

    t0 = time.perf_counter()
    tx_rows = inputs.gen_transactions(ctx.seed, n_tx)
    in_bytes = inputs.write_jsonl(os.path.join(raw_dir, "transactions.json"), tx_rows)
    in_bytes += inputs.gen_star(ctx.seed, sf, sf_dir)
    res.setup["inputs_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    raw = json_source.read_json(spark, raw_dir, txmod.TRANSACTIONS_SCHEMA)
    mk_rows, zg_rows = inputs.dims_rows()
    markets = spark.createDataFrame(mk_rows, txmod.MARKETS_SCHEMA)
    zg = spark.createDataFrame(zg_rows, txmod.ZETAGROUP_SCHEMA)
    res.setup["fixtures_s"] = time.perf_counter() - t0

    # the seed fixes the query order; every page uses it
    order = list(HEADLINE)
    random.Random(ctx.seed).shuffle(order)
    results: dict[str, list] = {n: [] for n in HEADLINE}
    dags: list = []  # pipelines of the refreshes; the last one is checked

    def refresh(i: int):
        p = txmod.build_transactions_pipeline(
            spark, os.path.join(ctx.work, f"dag_{i}"), raw, markets, zg
        )
        p.run(spark)
        return p

    def query(name: str):
        with tr.span(f"queries.{name}"):
            with tr.span("queries.plan"):
                df = REGISTRY[name].fn(spark, sf_dir)
            with tr.span("queries.exec"):
                return df.toPandas()

    def page(i: int) -> tuple[tuple[float, float], list[tuple[float, float]]]:
        ops = []
        for name in order:
            tr.op_id = f"page{i}:{name}"
            mark = ctx.mark()
            got, op = _timed(ctx, lambda: query(name))
            c = ctx.counts(mark)
            if c is not None:
                for k in ("jobs", "stages", "tasks"):
                    res.layer[f"queries.{k}"] = res.layer.get(f"queries.{k}", 0) + c[k]
            ops.append(op)
            res.attempted += 1
            results[name].append(got)
        return (sum(w for w, _ in ops), sum(c for _, c in ops)), ops

    def cycle(i: int) -> Cycle:
        tr.op_id = f"refresh{i}"
        mark = ctx.mark()
        p, write = _timed(ctx, lambda: refresh(i))
        c = ctx.counts(mark)
        if c is not None:
            res.layer.update({f"graph.{k}": c[k] for k in ("jobs", "stages", "tasks")})
        res.attempted += 1
        if isinstance(p, Exception):
            res.fail([f"refresh {i}: {p!r}"[:300]], "transactions.failed", tr)
        else:
            for old in dags:  # only the latest tables are kept and checked
                shutil.rmtree(old.base_path, ignore_errors=True)
            dags[:] = [p]
        read, ops = page(i)
        return Cycle(write, read, ops, n_tx, in_bytes)

    t0 = time.perf_counter()
    cycle(-1)
    res.setup["warmup_s"] = time.perf_counter() - t0
    res.setup_cpu = ctx.cpu()

    if ctx.trace:
        _trace_etl_dashboard(ctx, txmod)
    _timed_loop(ctx, res, cycle)
    tr.unwrap_all()
    t_checks = time.perf_counter()

    if dags:
        p = dags[-1]
        files = nbytes = 0
        for name in DAG_NODES:
            if p.nodes[name].kind == "table":
                for h in p.history(name):
                    files += h["files"]
                    nbytes += h["bytes"]
        res.layer["graph.files_written"] = files
        res.layer["graph.bytes_written"] = nbytes

    # correctness: the last refresh's gold tables vs a Python recomputation
    want = checks.expected_gold(tx_rows)
    if ctx.corrupt:
        k = next(iter(want["agg_ix_trade_asset_1h"]))
        cnt, vol, traders = want["agg_ix_trade_asset_1h"][k]
        want["agg_ix_trade_asset_1h"][k] = (cnt + 1, vol, traders)
    if dags:
        for name in checks.GOLD_KEYS:
            res.attempted += 1
            got = spark.read.parquet(os.path.realpath(dags[-1].path(name))).collect()
            bad = checks.compare_keyed(name, checks.rows_to_keyed(name, got), want[name])
            if bad:
                res.fail(bad, "transactions.failed", tr)
        shutil.rmtree(dags[-1].base_path, ignore_errors=True)

    # correctness: every query result vs the DuckDB oracle
    con = _duck(sf_dir)
    try:
        for name in HEADLINE:
            want_q = con.execute(REGISTRY[name].oracle).fetchdf()
            for k, got in enumerate(results[name]):
                if ctx.corrupt and name == "pricing_summary" and k == 0:
                    got = got.iloc[1:]  # one result loses a row
                if isinstance(got, Exception):
                    bad = [f"{name}: raised {got!r}"[:300]]
                else:
                    bad = checks.check_query(REGISTRY[name], name, got, want_q)
                if bad:
                    res.fail(bad, "queries.failed", tr)
    finally:
        con.close()
    res.info["checks_s"] = time.perf_counter() - t_checks
    res.info.update(transactions=n_tx, sf=sf)
    return res


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in inputs.STAR_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _trace_etl_dashboard(ctx: Ctx, txmod) -> None:
    """The DAG's run, nodes and publishes; the table loads beneath the
    queries; every operator function a query module imported by name,
    wrapped where the query module looks it up."""
    import inspect
    import sys

    from zeta_etl_spark import datasets
    from zeta_etl_spark.plans.graph import Pipeline

    tr = ctx.tracer
    tr.wrap(txmod, "build_transactions_pipeline", "transactions.build")
    tr.wrap(Pipeline, "run", "graph.run")
    tr.wrap(Pipeline, "_materialize", lambda a, kw: f"graph.node.{a[1]}")
    tr.wrap(Pipeline, "_write_overwrite_atomic", "graph.publish")
    tr.wrap(datasets, "load_table", "sources.read")
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("zeta_etl_spark.queries.") or mod is None:
            continue
        for attr, fn in list(vars(mod).items()):
            if not inspect.isfunction(fn) or attr.startswith("_"):
                continue
            if fn.__module__ == datasets.__name__ and attr == "load_table":
                tr.wrap(mod, attr, "sources.read")
            elif fn.__module__.startswith("zeta_etl_spark.operators."):
                tr.wrap(mod, attr, "operators.plan")


# --------------------------------------------------------------------------
# serving_mixed
# --------------------------------------------------------------------------

# dashboard request catalogue: (keys, aggregates); Zipf-weighted by rank
REQUESTS = (
    (("day",), {"n_rows": ("count_rows", None), "sum_cents": ("sum", "cents")}),
    (("event_type",), {"n_rows": ("count_rows", None), "sum_cents": ("sum", "cents")}),
    (
        ("event_type", "day"),
        {"n_rows": ("count_rows", None), "max_cents": ("max", "cents")},
    ),
    (("user_id",), {"n_rows": ("count_rows", None), "sum_cents": ("sum", "cents")}),
    (("event_type",), {"min_cents": ("min", "cents")}),
    (("user_id", "day"), {"sum_cents": ("sum", "cents")}),
)


def serving_mixed(ctx: Ctx) -> Result:
    import checks
    from zeta_etl_spark.pipelines.serving_path import ServingPath, ViewSpec
    from zeta_etl_spark.sources import json_source
    from zeta_etl_spark.streaming.runner import read_merge_upsert_table

    spark, res, tr = ctx.spark, Result(), ctx.tracer
    src = os.path.join(ctx.work, "landing")
    ckpt = os.path.join(ctx.work, "ckpt")
    store = os.path.join(ctx.work, "store")
    os.makedirs(src, exist_ok=True)
    n_reads = ctx.scaled(SERVE_READS, 12)

    t0 = time.perf_counter()
    stream = inputs.ServeStream(
        ctx.seed, ctx.scaled(SERVE_SEED_ROWS, 40), ctx.scaled(SERVE_BATCH_ROWS, 10)
    )
    seed_batch = stream.batch(0)
    res.setup["inputs_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    sp = ServingPath(
        spark,
        store,
        keys=["event_id"],
        views=[
            ViewSpec("mv_user_day", ("user_id", "day"), ("cents",)),
            ViewSpec("mv_type_day", ("event_type", "day"), ("cents",), minmax=("cents",)),
            ViewSpec("mv_day", ("day",), ("cents",)),
        ],
    )
    model: dict[int, dict] = {}
    landed = [0]

    def land(b: int, rows: list[dict]) -> int:
        n = inputs.write_jsonl(os.path.join(src, f"b{b:05d}.json"), rows)
        landed[0] += n
        for r in rows:
            if r["event_id"] not in model or model[r["event_id"]]["seq"] <= r["seq"]:
                model[r["event_id"]] = r
        return n

    def ingest():
        return sp.ingest_stream(
            json_source.read_json(spark, src, inputs.SERVE_SCHEMA, streaming=True),
            ckpt,
            sequence_by=["seq"],
            n_buckets=SERVE_BUCKETS,
        )

    land(0, seed_batch)
    ingest()
    res.setup["fixtures_s"] = time.perf_counter() - t0

    rng = random.Random(ctx.seed)
    weights = [1.0 / (k + 1) for k in range(len(REQUESTS))]
    last: dict[int, list] = {}  # each request's last result since the last ingest
    jobs_by: dict[str, list[int]] = {"hit": [], "miss": []}

    def request(q: int):
        keys, aggs = REQUESTS[q]
        df, prov = sp.request(list(keys), aggs)
        return df.collect(), prov

    def cycle(b: int, plan: list[int]) -> Cycle:
        """Batch ``b`` lands and is ingested, then the requests in ``plan``."""
        rows = stream.batch(b)
        tr.op_id = f"batch{b}:ingest"
        mark = ctx.mark()
        n_bytes = land(b, rows)
        out, write = _timed(ctx, ingest)  # landed -> views at the new generation
        c = ctx.counts(mark)
        if c is not None:
            res.layer["streaming.jobs"] = c["jobs"]
        res.attempted += 1
        if isinstance(out, Exception):
            res.fail([f"ingest {b}: {out!r}"[:300]], "streaming.failed", tr)
        last.clear()
        wants: dict[int, dict] = {}
        ops, provs = [], []
        for j, q in enumerate(plan):
            keys, aggs = REQUESTS[q]
            tr.op_id = f"batch{b}:read{j}"
            mark = ctx.mark()
            out, op = _timed(ctx, lambda: request(q))
            got, prov = (None, "error") if isinstance(out, Exception) else out
            c = ctx.counts(mark)
            if c is not None:
                jobs_by["hit" if prov.startswith("cache-hit") else "miss"].append(c["jobs"])
            ops.append(op)
            provs.append(prov)
            res.attempted += 1
            if got is None:
                res.fail([f"read {keys}: raised {out!r}"[:300]], "serving_path.failed", tr)
                continue
            if q not in wants:
                wants[q] = checks.model_aggregate(model, keys, aggs)
            if ctx.corrupt and not res.errors:
                got = got[1:]  # drop a row of every read until one is caught
            bad = checks.compare_keyed(
                f"read {keys}", checks.result_rows_keyed(got, keys, aggs), wants[q]
            )
            if bad:
                res.fail(bad, "serving_path.failed", tr)
            last[q] = got
        read = (sum(w for w, _ in ops), sum(c for _, c in ops))
        return Cycle(write, read, ops, len(rows), n_bytes, provs)

    # batch 0 is the seed, batch 1 the warm-up (every request once, a miss,
    # and one repeat, a hit), timed cycles land 2, 3, ...
    t0 = time.perf_counter()
    cycle(1, [0, *range(len(REQUESTS))])
    res.setup["warmup_s"] = time.perf_counter() - t0
    res.setup_cpu = ctx.cpu()

    merges: list[dict] = []
    if ctx.trace:
        _trace_serving(ctx, merges)
    _timed_loop(ctx, res, lambda i: cycle(i + 2, rng.choices(range(len(REQUESTS)), weights, k=n_reads)))
    tr.unwrap_all()
    t_checks = time.perf_counter()

    # correctness: the merged base vs the model, then each request's last
    # result vs a direct groupBy over the merged base
    from pyspark.sql import functions as F

    base = read_merge_upsert_table(spark, store, "base")
    res.attempted += 1
    got_base = {r["event_id"]: r.asDict() for r in base.collect()}
    if got_base != model:
        diff = [k for k in set(got_base) | set(model) if got_base.get(k) != model.get(k)]
        res.fail(
            [f"merged base: {len(diff)} keys differ, e.g. {sorted(diff)[:3]}"],
            "streaming.failed",
            tr,
        )
    agg_fns = {"count_rows": lambda c: F.count(F.lit(1)), "sum": F.sum, "min": F.min, "max": F.max}
    for q, got in last.items():
        keys, aggs = REQUESTS[q]
        direct = base.groupBy(*keys).agg(
            *[agg_fns[fn](col).alias(o) for o, (fn, col) in aggs.items()]
        )
        res.attempted += 1
        bad = checks.compare_keyed(
            f"direct {keys}",
            checks.result_rows_keyed(got, keys, aggs),
            checks.result_rows_keyed(direct.collect(), keys, aggs),
        )
        if bad:
            res.fail(bad, "serving_path.failed", tr)

    res.info["checks_s"] = time.perf_counter() - t_checks
    res.info.update(batch_rows=stream.batch_rows, reads_per_cycle=n_reads)
    res.layer["serving_path.store_bytes_per_input_byte"] = _dir_bytes(store) / landed[0]
    if res.traced is not None:
        _serving_layer(res, merges, jobs_by)
    return res


def _serving_layer(res: Result, merges: list[dict], jobs_by: dict[str, list[int]]) -> None:
    from spans import median

    touched = sum(m.get("touched_partitions") or 0 for m in merges)
    linked = sum(m.get("linked_partitions") or 0 for m in merges)
    res.layer["streaming.rows_inserted"] = sum(m.get("rows_inserted", 0) for m in merges)
    res.layer["streaming.rows_updated"] = sum(m.get("rows_updated", 0) for m in merges)
    res.layer["streaming.buckets"] = touched + linked
    res.layer["streaming.touched_bucket_ratio"] = touched / (touched + linked) if merges else 0.0
    t = res.traced
    hits = [w for (w, _), p in zip(t.ops, t.provenance) if p.startswith("cache-hit")]
    misses = [w for (w, _), p in zip(t.ops, t.provenance) if p.startswith("cache-miss")]
    res.layer["result_cache.reads"] = len(t.ops)
    res.layer["result_cache.hit_ratio"] = len(hits) / len(t.ops) if t.ops else 0.0
    res.layer["result_cache.hit_ms"] = median(hits) * 1000 if hits else 0.0
    res.layer["result_cache.miss_ms"] = median(misses) * 1000 if misses else 0.0
    for kind in ("hit", "miss"):
        js = jobs_by[kind]
        res.layer[f"result_cache.jobs_per_{kind}"] = sum(js) / len(js) if js else 0.0


def _trace_serving(ctx: Ctx, merges: list[dict]) -> None:
    from zeta_etl_spark.pipelines import serving_path
    from zeta_etl_spark.plans import ivm
    from zeta_etl_spark.plans.graph import Pipeline
    from zeta_etl_spark.plans.navigator import AggNavigator
    from zeta_etl_spark.sources import json_source
    from zeta_etl_spark.streaming import runner

    tr = ctx.tracer

    def keep_metrics(args, kwargs, _result):
        merges.extend(m for m in kwargs.get("metrics_out") or () if "view" not in m)

    tr.wrap(json_source, "read_json", "sources.read")
    tr.wrap(serving_path.ServingPath, "ingest_stream", "serving_path.ingest")
    tr.wrap(serving_path.ServingPath, "request", "serving_path.request")
    tr.wrap(runner, "foreach_batch_merge_upsert", "streaming.merge_upsert", keep_metrics)
    tr.wrap(Pipeline, "merge_into", "graph.merge_into")
    tr.wrap(Pipeline, "_write_overwrite_atomic", "graph.publish")
    tr.wrap(ivm, "sync_agg_view", lambda a, kw: f"ivm.sync.{a[2]}")
    tr.wrap(AggNavigator, "answer", "navigator.answer")
    tr.wrap(serving_path, "cached_result", "result_cache.cached_result")
