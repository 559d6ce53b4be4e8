"""Generation-keyed query result cache (the lakehouse "result cache").

Warehouse engines (Databricks SQL result cache, Snowflake result reuse,
BigQuery cached results) return a stored result for a repeated query as
long as its INPUT TABLES have not changed.  On this engine the notion of
"unchanged" is exact and cheap: every materialized table is served
through an atomic generation pointer (plans/graph.py), so a result is
provably fresh iff each input's current generation equals the generation
it was computed from — no mtime heuristics, no content hashing.

A cache entry is a regular Pipeline table (name ``__rc_<key>``): it
inherits the atomic staged-seal-swap publish, OCC commit flock, crash
healing, retention, and snapshot-isolated reads — a half-written cache
entry is unobservable, and a concurrent writer loses the commit race
cleanly instead of corrupting the entry.

At 100 TB the win is the same as upstream engines': a dashboard query
re-issued against unchanged inputs costs one pointer resolve + a
parquet scan of the RESULT (thousands of rows), never a re-aggregation
of the fact table.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from zeta_etl_spark.plans.graph import Pipeline
from zeta_etl_spark.plans.ivm import _commit_meta, _current_version


def _entry_name(key: str) -> str:
    if not key or not key.replace("_", "").replace("-", "").isalnum():
        raise ValueError(
            f"result-cache key {key!r} must be a non-empty slug "
            "([a-zA-Z0-9_-]) — it names an on-disk table directory"
        )
    return f"__rc_{key}"


def _fingerprint(pipeline: Pipeline, inputs: Sequence[str]) -> dict[str, int]:
    """input table -> the generation its pointer currently serves.

    Raises (via :func:`_current_version`) when an input was never
    materialized — an unmaterialized input has no defined content to
    cache against."""
    return {t: _current_version(pipeline, t) for t in sorted(set(inputs))}


def cached_result(
    spark: SparkSession,
    pipeline: Pipeline,
    key: str,
    inputs: Sequence[str],
    compute: Callable[[], DataFrame],
) -> tuple[DataFrame, str]:
    """Return ``(result, provenance)`` for a named query over pipeline
    tables; provenance is ``"hit"`` (stored result served, ``compute``
    never called) or ``"miss"`` (computed, stored, then served from the
    store so hit and miss read the same files).

    ``inputs`` must name EVERY pipeline table the compute reads —
    an omitted input makes staleness undetectable for changes to it
    (same contract as any derived-table declaration in this engine).

    ``compute`` must resolve its inputs when it is CALLED, not before:
    the fingerprint is taken first and the race guard below brackets
    only what happens after it.  A frame bound before the call (e.g.
    ``df = read(...); compute=lambda: df``) pins a generation the
    fingerprint never saw — a publish in between would store the old
    generation's result under the new fingerprint, served as a hit until
    the next publish.
    """
    if not inputs:
        raise ValueError(
            "cached_result needs the input table names — freshness is "
            "defined as 'every input still at the cached generation'"
        )
    from pyspark.sql.types import StructType

    name = _entry_name(key)
    fp = _fingerprint(pipeline, inputs)
    if name not in pipeline.nodes:

        def _node(pl):  # materialized only through cached_result
            raise RuntimeError(
                "result-cache entries are maintained by cached_result"
            )

        pipeline.table(name=name)(_node)
        # a full-DAG pipeline.run() must skip this sentinel, not crash on it
        pipeline.nodes[name].extra["external_writer"] = True

    def _read(gen_dir: str, schema_json: str) -> DataFrame:
        # read with the RECORDED schema: a legitimately empty result writes
        # a generation with no part files, where schema inference fails —
        # without this, one empty result would brick its key (the hit path
        # would crash on every later call)
        return spark.read.schema(StructType.fromJson(schema_json)).parquet(
            gen_dir
        )

    if os.path.lexists(pipeline.path(name)):
        version = _current_version(pipeline, name)
        meta = _commit_meta(pipeline, name, version)
        if meta.get("rc_fingerprint") == fp and "rc_schema" in meta:
            # read the generation whose commit record was just checked: a
            # second pointer resolve could land on one a concurrent miss
            # republished since, whose files were never checked
            gen_dir = pipeline.generation_dir(name, version)
            return _read(gen_dir, meta["rc_schema"]), "hit"
    df = compute()
    schema_json = df.schema.jsonValue()
    pipeline._write_overwrite_atomic(
        pipeline.nodes[name],
        df,
        commit_extra={"rc_fingerprint": fp, "rc_schema": schema_json},
    )
    # binds the concrete generation dir now
    out = _read(os.path.realpath(pipeline.path(name)), schema_json)
    # RACE GUARD (ADVICE r8): compute() is lazy — its input scans resolve
    # generation pointers while the write above runs.  If an input
    # published mid-compute, the stored result may belong to the NEWER
    # generation while the recorded fingerprint names the OLDER one; a
    # later restore_table of that input would then serve the mismatched
    # entry as a hit.  Bracket check: if any input's generation moved
    # between the fingerprint and the end of the write, drop the entry's
    # pointer (the caller still gets the materialized result — only the
    # CACHING under the stale fingerprint is withdrawn; generation files
    # stay on disk for `out`'s reads until the next retention pass).
    if _fingerprint(pipeline, inputs) != fp:
        invalidate(pipeline, key)
    return out, "miss"


def invalidate(pipeline: Pipeline, key: str) -> bool:
    """Drop a cache entry's pointer so the next request recomputes even
    against unchanged inputs (e.g. after a logic change in ``compute``).
    Returns whether an entry existed.  Generations remain on disk for
    pinned readers until the next publish's retention pass."""
    name = _entry_name(key)
    p = pipeline.path(name)
    if not os.path.lexists(p):
        return False
    os.unlink(p)
    return True
