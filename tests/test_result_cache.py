"""Generation-keyed result cache: hit iff every input table still serves
the generation the result was computed from; publish → miss → recompute;
entries are Pipeline tables (atomic publish, snapshot reads)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from zeta_etl_spark.plans.graph import Pipeline
from zeta_etl_spark.plans.result_cache import cached_result, invalidate


@pytest.fixture()
def pipe(spark, tmp_path):
    p = Pipeline("rc", str(tmp_path / "t"))

    @p.table(name="base")
    def base(pl):
        return spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 5)], "k int, g string, v int"
        )

    p.run(spark, targets=["base"])
    return p


def _agg(spark, p, calls):
    def compute():
        calls.append(1)
        return (
            p.read_table(spark, "base")
            .groupBy("g")
            .agg(F.sum("v").cast("bigint").alias("sv"))
        )

    return compute


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_miss_then_hit_computes_once(spark, pipe):
    calls = []
    r1, prov1 = cached_result(
        spark, pipe, "agg_g", ["base"], _agg(spark, pipe, calls)
    )
    assert prov1 == "miss" and len(calls) == 1
    want = _rows(r1)
    r2, prov2 = cached_result(
        spark, pipe, "agg_g", ["base"], _agg(spark, pipe, calls)
    )
    assert prov2 == "hit" and len(calls) == 1  # compute NOT re-run
    assert _rows(r2) == want


def test_input_publish_invalidates(spark, pipe):
    calls = []
    cached_result(spark, pipe, "agg_g", ["base"], _agg(spark, pipe, calls))
    # republish the input (even with identical content: a new generation
    # is a new fingerprint — freshness is generation equality, not diffing)
    pipe._write_overwrite_atomic(
        pipe.nodes["base"],
        spark.createDataFrame([(1, "a", 10), (9, "b", 90)], "k int, g string, v int"),
    )
    r, prov = cached_result(
        spark, pipe, "agg_g", ["base"], _agg(spark, pipe, calls)
    )
    assert prov == "miss" and len(calls) == 2
    assert dict((g, s) for g, s in r.collect()) == {"a": 10, "b": 90}


def test_explicit_invalidate(spark, pipe):
    calls = []
    cached_result(spark, pipe, "agg_g", ["base"], _agg(spark, pipe, calls))
    assert invalidate(pipe, "agg_g") is True
    _, prov = cached_result(
        spark, pipe, "agg_g", ["base"], _agg(spark, pipe, calls)
    )
    assert prov == "miss" and len(calls) == 2
    assert invalidate(pipe, "never_created") is False


def test_keys_are_independent(spark, pipe):
    calls_a, calls_b = [], []
    cached_result(spark, pipe, "a", ["base"], _agg(spark, pipe, calls_a))
    _, prov = cached_result(spark, pipe, "b", ["base"], _agg(spark, pipe, calls_b))
    assert prov == "miss" and len(calls_b) == 1
    _, prov = cached_result(spark, pipe, "a", ["base"], _agg(spark, pipe, calls_a))
    assert prov == "hit" and len(calls_a) == 1


def test_rejects_empty_inputs_and_bad_keys(spark, pipe):
    with pytest.raises(ValueError, match="input table names"):
        cached_result(spark, pipe, "x", [], lambda: None)
    with pytest.raises(ValueError, match="slug"):
        cached_result(spark, pipe, "no/slash", ["base"], lambda: None)


def test_unmaterialized_input_raises(spark, pipe):
    @pipe.table(name="ghost")
    def ghost(pl):
        raise RuntimeError("never run")

    with pytest.raises(ValueError, match="not materialized"):
        cached_result(spark, pipe, "g", ["ghost"], lambda: None)


def test_empty_result_caches_cleanly(spark, pipe):
    """A legitimately 0-row result must serve hits, not brick the key:
    the entry reads back with the RECORDED schema (an empty generation
    has no part files for inference)."""
    calls = []

    def compute():
        calls.append(1)
        return (
            pipe.read_table(spark, "base")
            .filter("v > 999999")
            .select("g", "v")
        )

    r1, prov1 = cached_result(spark, pipe, "empty", ["base"], compute)
    assert prov1 == "miss" and r1.count() == 0
    assert r1.columns == ["g", "v"]
    r2, prov2 = cached_result(spark, pipe, "empty", ["base"], compute)
    assert prov2 == "hit" and len(calls) == 1
    assert r2.count() == 0 and r2.columns == ["g", "v"]


def test_cache_entries_skipped_by_full_dag_run(spark, pipe):
    cached_result(
        spark, pipe, "agg_g", ["base"],
        lambda: pipe.read_table(spark, "base").groupBy("g").count(),
    )
    out = pipe.run(spark)  # default all-nodes run must skip the sentinel
    assert "__rc_agg_g" not in out and "base" in out


def test_mid_compute_publish_withdraws_entry(spark, pipe):
    """ADVICE r8 race: an input publishing while compute() runs must not
    leave the (newer-generation) result stored under the OLDER
    generation's fingerprint — a later restore of the input to that
    generation would serve the mismatched entry as a hit."""
    old_ver = pipe.live_version("base")
    calls = []

    def compute():
        calls.append(1)
        # simulate a concurrent writer landing mid-compute
        pipe._write_overwrite_atomic(
            pipe.nodes["base"],
            spark.createDataFrame(
                [(9, "z", 99)], "k int, g string, v int"
            ),
        )
        return (
            pipe.read_table(spark, "base")
            .groupBy("g")
            .agg(F.sum("v").cast("bigint").alias("sv"))
        )

    r, prov = cached_result(spark, pipe, "racy", ["base"], compute)
    assert prov == "miss"
    r.collect()  # the returned materialized result stays readable
    # restore the input to the generation the stale fingerprint named
    pipe.restore(spark, "base", old_ver)
    r2, prov2 = cached_result(
        spark, pipe, "racy", ["base"], _agg(spark, pipe, calls)
    )
    # the racy entry must NOT serve: recompute against the restored gen
    assert prov2 == "miss" and len(calls) == 2
    assert dict((g, s) for g, s in r2.collect()) == {"a": 30, "b": 5}


def test_hit_reads_the_generation_it_checked(spark, pipe, monkeypatch):
    """A concurrent miss that republishes the entry after the hit checked
    its commit record must not change what the hit reads: the hit serves
    the generation whose fingerprint it checked."""
    from zeta_etl_spark.plans import result_cache

    calls = []
    r1, _ = cached_result(spark, pipe, "pin", ["base"], _agg(spark, pipe, calls))
    want = _rows(r1)
    checked = result_cache._commit_meta

    def check_then_republish(pl, name, version):
        meta = checked(pl, name, version)
        pl._write_overwrite_atomic(
            pl.nodes[name],
            spark.createDataFrame([("z", 0)], "g string, sv bigint"),
            commit_extra={k: meta[k] for k in ("rc_fingerprint", "rc_schema")},
        )
        return meta

    monkeypatch.setattr(result_cache, "_commit_meta", check_then_republish)
    r2, prov = cached_result(spark, pipe, "pin", ["base"], _agg(spark, pipe, calls))
    monkeypatch.undo()
    assert prov == "hit" and len(calls) == 1
    assert _rows(r2) == want
