"""Serving path: gold pipeline → IVM aggregate views → navigator rewrite
→ result cache, composed end-to-end (the lakehouse "BI serving" stack).

Reference parity: the reference's serving layer exports gold rollups for
per-dashboard reads (dfs-serving/zetadex-serving.py routes gold tables to
a KV store); warehouse stacks serve the same workload by keeping gold as
MATERIALIZED VIEWS and answering repeated dashboard queries through
MV rewrite plus a result cache (Databricks SQL MV rewrite + result
cache, BigQuery aggregate navigator + cached results).  This module is
that composition over this engine's own primitives — each of which is
unit-proven on its own; this is the documented proof they compose:

    plans/graph.py     atomic generation publish (the freshness anchor)
    plans/ivm.py       incremental view maintenance from the change feed
    plans/navigator.py answers rollups from the cheapest matching view
    plans/result_cache.py generation-keyed result reuse

The serving contract
--------------------

- ``ingest(snapshot)`` publishes a new base generation (full-snapshot
  CDC; the change feed is derived relationally by key).
- ``sync()`` advances every registered view incrementally
  (``sync_agg_view``: version-gap replay → delta fold → MERGE) —
  exactly-once under crashes, cost ∝ change volume.
- ``request(keys, aggs, ...)`` is the dashboard read:

    1. the navigator proves which materialized view can answer from
       the registered view metadata alone (``AggNavigator.choose``) —
       no view is read, no Spark job runs;
    2. the result cache fingerprints that view's current generation and
       serves a stored result computed from the same generation —
       repeated dashboards cost one pointer resolve + a scan of the
       RESULT parquet (thousands of rows);
    3. only on a miss is the view read and the O(|view|) rollup plan
       built (``AggNavigator.answer``) — base data is never scanned.
       The read happens after the fingerprint, so the cache's bracket
       check catches a sync that publishes mid-compute.

  Provenance strings (``cache-hit+view:mv_hourly`` /
  ``cache-miss+view:mv_hourly``) and the ``stats`` counters make the
  composition measurable, not just asserted.

Freshness semantics: cache keys fingerprint the VIEW generation.  A
``sync()`` that found changes republishes the view → the next request
recomputes from the fresh view.  A sync over an empty gap also advances
the view's generation stamp (hard-linked republish) — the subsequent
cache miss is a deliberate conservative trade: generation equality stays
the one freshness rule, with no "content probably unchanged" carve-outs.

At 100 TB: base facts are written once per ingest; each view sync
shuffles only the change feed; every dashboard read is O(|view|) on a
miss and O(|result|) on a hit.  The fact table is scanned by exactly one
consumer — the view maintenance — no matter how many dashboards exist.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession

from zeta_etl_spark.plans.graph import Pipeline
from zeta_etl_spark.plans.ivm import sync_agg_view
from zeta_etl_spark.plans.navigator import AggNavigator, ViewDef
from zeta_etl_spark.plans.result_cache import cached_result


@dataclass(frozen=True)
class ViewSpec:
    """Declaration of one maintained aggregate view over the base."""

    name: str
    group_cols: tuple[str, ...]
    measures: tuple[str, ...]
    minmax: tuple[str, ...] = ()


@dataclass
class ServingStats:
    hits: int = 0
    misses: int = 0
    syncs: dict[str, int] = field(default_factory=dict)


class ServingPath:
    """The composed serving stack over one base table.

    ``keys`` must uniquely identify base rows (drives the relational
    change feed); ``views`` declare the maintained gold grains.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        keys: Sequence[str],
        views: Sequence[ViewSpec],
    ):
        self.spark = spark
        self.keys = list(keys)
        self.views = list(views)
        self.pipeline = Pipeline("serving", base_dir)
        names = {v.name for v in views}
        if len(names) != len(views) or "base" in names:
            raise ValueError("view names must be unique and not 'base'")

        def _external(_pl):
            raise RuntimeError(
                "serving-path tables are written via ingest()/sync(), "
                "not run()"
            )

        self.pipeline.table(name="base")(_external)
        self.pipeline.nodes["base"].extra["external_writer"] = True
        for v in views:
            self.pipeline.table(name=v.name)(_external)
            self.pipeline.nodes[v.name].extra["external_writer"] = True
        self._navigator = AggNavigator(
            self._read_view,
            [
                ViewDef(v.name, v.group_cols, v.measures, v.minmax)
                for v in views
            ],
        )
        self.stats = ServingStats()

    # -- write side ---------------------------------------------------------

    def ingest(self, snapshot: DataFrame) -> int:
        """Publish a full base snapshot as a new generation; returns the
        generation number.  (Full-snapshot CDC: the change feed between
        generations is derived relationally by ``keys`` at sync time —
        the path every reference pipeline whose upstream re-delivers
        whole tables takes.)"""
        if os.path.exists(self._merge_cfg_path()):
            raise RuntimeError(
                "this base is streaming-ingested (ingest_stream): a "
                "snapshot overwrite would drop the merge bucket layout "
                "and later microbatches would duplicate keys"
            )
        self.pipeline._write_overwrite_atomic(
            self.pipeline.nodes["base"], snapshot
        )
        return self.pipeline.live_version("base")

    def ingest_stream(
        self,
        stream: DataFrame,
        checkpoint: str,
        sequence_by: Sequence[str],
        n_buckets: int = 16,
        delete_predicate: str | None = None,
    ) -> int:
        """Streaming bronze ingest: the reference's actual topology (the
        bronze table is fed by a stream, SURVEY §2.9 T1/T5).  Each
        microbatch CDC-merges into the base generation table
        (``streaming.runner.foreach_batch_merge_upsert`` — per-batch cost
        ∝ batch, bucket-pruned) and brings every registered view to the
        new base generation incrementally BEFORE the stream checkpoint
        confirms the batch, so the serving contract is identical to the
        batch path: the view generation is the freshness anchor, a
        request after the stream is a cache miss recomputed from the
        fresh view, and its repeat is a hit.

        A streaming-ingested base cannot be mixed with snapshot
        ``ingest()`` (the merge layout pins ``(keys, n_buckets)`` and a
        ``_kb`` bucket column a snapshot overwrite would drop).  Returns
        the base generation after the stream drains."""
        from zeta_etl_spark.streaming.runner import (
            foreach_batch_merge_upsert,
        )

        if (
            not os.path.exists(self._merge_cfg_path())
            and os.path.lexists(self.pipeline.path("base"))
        ):
            raise RuntimeError(
                "this base was snapshot-ingested (ingest()): its rows "
                "carry no _kb bucket column, so a streaming merge would "
                "miss every existing key — rebuild the serving path "
                "streaming-first instead"
            )
        metrics: list[dict] = []
        foreach_batch_merge_upsert(
            stream,
            self.pipeline.base_path,
            "base",
            checkpoint,
            keys=self.keys,
            sequence_by=list(sequence_by),
            spark=self.spark,
            n_buckets=n_buckets,
            metrics_out=metrics,
            views=[
                {
                    "name": v.name,
                    "group_cols": list(v.group_cols),
                    "measures": list(v.measures),
                    "minmax": tuple(v.minmax),
                    "delete_predicate": delete_predicate,
                }
                for v in self.views
            ],
        )
        for m in metrics:
            if "view" in m:
                self.stats.syncs[m["view"]] = (
                    self.stats.syncs.get(m["view"], 0) + 1
                )
        return self.pipeline.live_version("base")

    def _merge_cfg_path(self) -> str:
        # written by foreach_batch_merge_upsert as the layout pin
        return os.path.join(
            self.pipeline.base_path, "base__merge_upsert.json"
        )

    def sync(self) -> dict[str, dict]:
        """Advance every view to the base's current generation
        incrementally; returns per-view sync reports."""
        out = {}
        for v in self.views:
            out[v.name] = sync_agg_view(
                self.spark,
                self.pipeline,
                v.name,
                "base",
                keys=self.keys,
                group_cols=list(v.group_cols),
                measures=list(v.measures),
                minmax=list(v.minmax),
            )
            self.stats.syncs[v.name] = self.stats.syncs.get(v.name, 0) + 1
        return out

    # -- read side ----------------------------------------------------------

    def request(
        self,
        keys: Sequence[str],
        aggs: Mapping[str, tuple[str, str | None]],
        filter: Column | None = None,  # noqa: A002 — navigator's name
        filter_cols: Sequence[str] = (),
        filter_slug: str | None = None,
    ) -> tuple[DataFrame, str]:
        """Dashboard read: view choice, result cache, and on a miss the
        navigator rewrite.

        Returns ``(result, provenance)`` with provenance
        ``cache-{hit|miss}+view:<name>``.  A ``filter`` needs
        ``filter_slug`` — a caller-stable identifier of the predicate
        (Column expressions have no canonical string), which becomes part
        of the cache key.  The slug must be BIJECTIVE with the predicate:
        two different predicates may never share a slug (the cache would
        alias them and serve a wrong-predicate result as a hit).
        ``filter_cols`` is also folded into the key — the same predicate
        with different filter_cols can route to a different view.
        """
        if filter is not None and filter_slug is None:
            raise ValueError(
                "a filtered request needs filter_slug — the predicate "
                "is part of the cache identity"
            )
        view = self._navigator.choose(
            keys, aggs, filter=filter, filter_cols=filter_cols
        )
        key = self._cache_key(keys, aggs, filter_slug, filter_cols)
        result, prov = cached_result(
            self.spark,
            self.pipeline,
            key,
            inputs=[view.table],
            compute=lambda: self._navigator.answer(
                keys, aggs, filter=filter, filter_cols=filter_cols
            )[0],
        )
        if prov == "hit":
            self.stats.hits += 1
        else:
            self.stats.misses += 1
        return result, f"cache-{prov}+view:{view.table}"

    # -- internals ----------------------------------------------------------

    def _read_view(self, name: str) -> DataFrame:
        return self.pipeline.read_table(self.spark, name)

    @staticmethod
    def _cache_key(
        keys: Sequence[str],
        aggs: Mapping[str, tuple[str, str | None]],
        filter_slug: str | None,
        filter_cols: Sequence[str] = (),
    ) -> str:
        canon = json.dumps(
            {
                "keys": sorted(keys),
                "aggs": {k: list(v) for k, v in sorted(aggs.items())},
                "filter": filter_slug,
                "filter_cols": sorted(filter_cols),
            },
            sort_keys=True,
        )
        return "q_" + hashlib.md5(canon.encode()).hexdigest()[:16]
