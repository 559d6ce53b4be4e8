"""Serving-path composition (pipelines/serving_path.py): gold pipeline →
IVM views → navigator rewrite → result cache, end-to-end over a
reference-shaped rollup workload — each primitive is unit-proven
elsewhere; this file proves they COMPOSE:

- a dashboard request is answered from the cheapest materialized view
  (never the base), and its repeat is a cache hit whose plan scans ONLY
  the stored result parquet;
- ingest + incremental sync makes the same request serve fresh values
  (generation fingerprints invalidate the cache without any explicit
  bookkeeping);
- results equal a direct recompute over the base at every step.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zeta_etl_spark.pipelines.serving_path import ServingPath, ViewSpec

SCHEMA = "event_id int, event_type string, day int, cents long"
V1 = [
    (1, "click", 1, 100),
    (2, "click", 1, 50),
    (3, "view", 1, None),
    (4, "click", 2, 30),
    (5, "purchase", 2, 900),
]
V2_NEW = [
    (4, "click", 2, 35),      # update in place
    (6, "view", 3, 10),       # new day
    (7, "purchase", 3, 500),
]  # event 5 deleted


def _v2(spark):
    keep = [r for r in V1 if r[0] not in (4, 5)]
    return spark.createDataFrame(keep + V2_NEW, SCHEMA)


AGGS = {
    "n_rows": ("count_rows", None),
    "sum_cents": ("sum", "cents"),
    "n_cents": ("count", "cents"),
}


def _direct(base, keys):
    return base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
        F.count("cents").cast("bigint").alias("n_cents"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def sp(spark, tmp_path):
    s = ServingPath(
        spark,
        str(tmp_path / "serve"),
        keys=["event_id"],
        views=[
            ViewSpec(
                "mv_type_day",
                ("event_type", "day"),
                ("cents",),
                minmax=("cents",),
            ),
            ViewSpec("mv_day", ("day",), ("cents",)),
        ],
    )
    s.ingest(spark.createDataFrame(V1, SCHEMA))
    s.sync()
    return s


def test_request_rewrites_to_coarsest_view_and_caches(spark, sp):
    r1, prov1 = sp.request(["day"], AGGS)
    assert prov1 == "cache-miss+view:mv_day"  # coarsest qualifying view
    want = _rows(_direct(spark.createDataFrame(V1, SCHEMA), ["day"]))
    assert _rows(r1) == want
    r2, prov2 = sp.request(["day"], AGGS)
    assert prov2 == "cache-hit+view:mv_day"
    assert _rows(r2) == want
    assert sp.stats.hits == 1 and sp.stats.misses == 1


def test_hit_plan_scans_only_the_result_parquet(sp):
    sp.request(["day"], AGGS)
    r, prov = sp.request(["day"], AGGS)
    assert prov.startswith("cache-hit")
    files = r.inputFiles()
    assert files, "hit must read the stored result parquet"
    assert all("__rc_" in f for f in files), files
    for f in files:
        for other in ("/base", "mv_day", "mv_type_day"):
            assert other not in f, f"hit must not scan {other}: {f}"


def test_finer_grain_routes_to_finer_view(spark, sp):
    r, prov = sp.request(["event_type", "day"], AGGS)
    assert prov == "cache-miss+view:mv_type_day"
    assert _rows(r) == _rows(
        _direct(spark.createDataFrame(V1, SCHEMA), ["event_type", "day"])
    )


def test_minmax_request_served_from_minmax_view(spark, sp):
    aggs = {"mx": ("max", "cents"), "mn": ("min", "cents")}
    r, prov = sp.request(["event_type"], aggs)
    # mv_day lacks minmax AND the key — only mv_type_day qualifies
    assert prov == "cache-miss+view:mv_type_day"
    want = (
        spark.createDataFrame(V1, SCHEMA)
        .groupBy("event_type")
        .agg(F.max("cents").alias("mx"), F.min("cents").alias("mn"))
    )
    assert _rows(r) == _rows(want)


def test_key_filter_prunes_and_is_part_of_cache_identity(spark, sp):
    r, prov = sp.request(
        ["day"],
        AGGS,
        filter=F.col("event_type") == "click",
        filter_cols=["event_type"],
        filter_slug="etype=click",
    )
    assert prov == "cache-miss+view:mv_type_day"
    want = _direct(
        spark.createDataFrame(V1, SCHEMA).filter("event_type = 'click'"),
        ["day"],
    )
    assert _rows(r) == _rows(want)
    # unfiltered request is a DIFFERENT cache entry, not a false hit
    _, prov2 = sp.request(["day"], AGGS)
    assert prov2.startswith("cache-miss")
    with pytest.raises(ValueError, match="filter_slug"):
        sp.request(["day"], AGGS, filter=F.lit(True), filter_cols=["day"])


def test_ingest_sync_freshens_cache_without_bookkeeping(spark, sp):
    sp.request(["day"], AGGS)
    _, prov = sp.request(["day"], AGGS)
    assert prov.startswith("cache-hit")
    sp.ingest(_v2(spark))
    reports = sp.sync()
    # the sync was INCREMENTAL (gap replay), not a reseed
    assert all(r.get("status") != "seeded" for r in reports.values())
    r, prov = sp.request(["day"], AGGS)
    assert prov == "cache-miss+view:mv_day"  # fingerprint moved
    assert _rows(r) == _rows(_direct(_v2(spark), ["day"]))
    # and the fresh result serves hits again
    _, prov2 = sp.request(["day"], AGGS)
    assert prov2.startswith("cache-hit")


def test_stats_measure_the_composition(spark, sp):
    for _ in range(4):
        sp.request(["day"], AGGS)
    assert sp.stats.misses == 1 and sp.stats.hits == 3
    assert sp.stats.syncs == {"mv_type_day": 1, "mv_day": 1}


# --- streaming ingest edge (r9 verdict ask #6) -------------------------------
# The reference's actual topology is a STREAMING bronze (SURVEY §2.9 T1/T5);
# these cases prove the same serving contract when the ingest stage is
# foreach_batch_merge_upsert microbatches: each batch CDC-merges the base,
# the views ride the stream incrementally, the view generation (freshness
# anchor) advances, the next request recomputes (miss) and its repeat hits.

STREAM_SCHEMA = (
    "event_id bigint, event_type string, day bigint, cents bigint, "
    "ts timestamp"
)
B1 = [
    {"event_id": 1, "event_type": "click", "day": 1, "cents": 100,
     "ts": "2024-01-01 00:00:00"},
    {"event_id": 2, "event_type": "click", "day": 1, "cents": 50,
     "ts": "2024-01-01 00:00:00"},
    {"event_id": 3, "event_type": "view", "day": 1, "cents": None,
     "ts": "2024-01-01 00:00:00"},
    {"event_id": 4, "event_type": "click", "day": 2, "cents": 30,
     "ts": "2024-01-01 00:00:00"},
]
B2 = [
    {"event_id": 4, "event_type": "click", "day": 2, "cents": 35,
     "ts": "2024-01-02 00:00:00"},  # update in place (later sequence)
    {"event_id": 5, "event_type": "purchase", "day": 3, "cents": 900,
     "ts": "2024-01-02 00:00:00"},  # insert, new day
]


def _write_jsonl(path, rows, name):
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _stream_sp(spark, tmp_path):
    return ServingPath(
        spark,
        str(tmp_path / "serve"),
        keys=["event_id"],
        views=[ViewSpec("mv_day", ("day",), ("cents",))],
    )


def _drain(spark, sp, src, ckpt):
    from zeta_etl_spark.sources.json_source import read_json

    return sp.ingest_stream(
        read_json(spark, src, STREAM_SCHEMA, streaming=True),
        ckpt,
        sequence_by=["ts"],
    )


def test_streaming_ingest_advances_anchor_and_cache_follows(spark, tmp_path):
    sp = _stream_sp(spark, tmp_path)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    _write_jsonl(src, B1, "b1.json")
    _drain(spark, sp, src, ckpt)
    want1 = _rows(
        _direct(
            spark.createDataFrame(
                [(r["event_id"], r["event_type"], r["day"], r["cents"])
                 for r in B1],
                "event_id long, event_type string, day long, cents long",
            ),
            ["day"],
        )
    )
    r1, prov1 = sp.request(["day"], AGGS)
    assert prov1 == "cache-miss+view:mv_day"
    assert _rows(r1) == want1
    _, prov2 = sp.request(["day"], AGGS)
    assert prov2 == "cache-hit+view:mv_day"

    # second microbatch: update + insert through the SAME checkpoint —
    # the view generation moves inside the stream, so the cached result's
    # fingerprint is stale and the request recomputes fresh values
    _write_jsonl(src, B2, "b2.json")
    _drain(spark, sp, src, ckpt)
    merged = {r["event_id"]: r for r in B1}
    merged.update({r["event_id"]: r for r in B2})
    want2 = _rows(
        _direct(
            spark.createDataFrame(
                [(r["event_id"], r["event_type"], r["day"], r["cents"])
                 for r in merged.values()],
                "event_id long, event_type string, day long, cents long",
            ),
            ["day"],
        )
    )
    assert want2 != want1  # the update/insert actually changed the rollup
    r3, prov3 = sp.request(["day"], AGGS)
    assert prov3 == "cache-miss+view:mv_day"
    assert _rows(r3) == want2
    r4, prov4 = sp.request(["day"], AGGS)
    assert prov4 == "cache-hit+view:mv_day"
    assert _rows(r4) == want2
    # provenance counters measured the streaming composition: one view
    # sync per microbatch, 2 misses + 2 hits
    assert sp.stats.syncs == {"mv_day": 2}
    assert sp.stats.misses == 2 and sp.stats.hits == 2


def test_streaming_and_snapshot_ingest_do_not_mix(spark, tmp_path):
    sp = _stream_sp(spark, tmp_path)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _write_jsonl(src, B1, "b1.json")
    _drain(spark, sp, src, ckpt)
    with pytest.raises(RuntimeError, match="streaming-ingested"):
        sp.ingest(spark.createDataFrame(V1, SCHEMA))

    sp2 = _stream_sp(spark, tmp_path / "other")
    sp2.ingest(spark.createDataFrame(V1, SCHEMA))
    with pytest.raises(RuntimeError, match="snapshot-ingested"):
        _drain(spark, sp2, src, str(tmp_path / "ckpt2"))


# --- read-path order: view choice → cache check → rollup only on a miss -----


def _count_resolves(sp):
    calls = []
    resolve = sp._navigator._resolve

    def counting(name):
        calls.append(name)
        return resolve(name)

    sp._navigator._resolve = counting
    return calls


def _jobs(spark, group, fn):
    """Run ``fn`` under a fresh job group; return its result and the ids of
    the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_hit_never_resolves_the_view_and_collects_in_one_job(spark, sp):
    calls = _count_resolves(sp)
    r, prov = sp.request(["day"], AGGS)
    assert prov == "cache-miss+view:mv_day"
    assert calls == ["mv_day"]  # the miss reads the view inside compute
    want = _rows(r)

    (r2, prov2), request_jobs = _jobs(
        spark, "rc-hit-request", lambda: sp.request(["day"], AGGS)
    )
    assert prov2 == "cache-hit+view:mv_day"
    assert calls == ["mv_day"], "a hit must not touch the view resolver"
    assert request_jobs == [], "a hit must plan without running a job"
    rows, collect_jobs = _jobs(spark, "rc-hit-collect", r2.collect)
    assert len(collect_jobs) == 1, collect_jobs
    assert sorted(tuple(x) for x in rows) == want


def test_unanswerable_request_fails_before_any_job_or_entry(spark, sp):
    import os

    from zeta_etl_spark.plans.navigator import NoMatchingView

    calls = _count_resolves(sp)
    with pytest.raises(NoMatchingView):
        # no view is keyed by event_id
        _jobs(spark, "rc-no-view", lambda: sp.request(["event_id"], AGGS))
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("rc-no-view")
    assert list(jobs) == []
    assert calls == []
    assert not [
        e for e in os.listdir(sp.pipeline.base_path) if e.startswith("__rc_")
    ]


def test_sync_between_resolve_and_fingerprint_is_never_served_stale(
    spark, sp
):
    """A sync that publishes while a miss is computing must not leave the
    old generation's result stored under the new fingerprint: the view is
    resolved inside ``compute`` — after the fingerprint — so the cache's
    bracket check withdraws the entry and the next request recomputes."""
    resolve = sp._navigator._resolve
    fired = []

    def resolve_then_publish(name):
        df = resolve(name)  # binds the current view generation
        if not fired:
            fired.append(name)
            sp.ingest(_v2(spark))
            sp.sync()
        return df

    sp._navigator._resolve = resolve_then_publish
    sp.request(["day"], AGGS)
    assert fired == ["mv_day"]
    want = _rows(_direct(_v2(spark), ["day"]))
    assert want == [(1, 3, 150, 2), (2, 1, 35, 1), (3, 2, 510, 2)]
    r, prov = sp.request(["day"], AGGS)
    assert _rows(r) == want
    assert prov == "cache-miss+view:mv_day"
    r, prov = sp.request(["day"], AGGS)
    assert prov == "cache-hit+view:mv_day"
    assert _rows(r) == want
