"""Aggregate navigator: answer aggregation requests from materialized
aggregate views (the lakehouse "materialized-view rewrite" feature).

The reference's gold layer materializes per-grain rollups (hourly / user /
market aggregate tables in the zeta-etl pipelines); BI engines on such
stacks (Databricks MV rewrite, BigQuery's aggregate navigator, Druid
rollup selection) transparently answer a coarser query FROM the finer
materialization instead of re-scanning the fact table.  This module is
that capability over the engine's own IVM view schema
(:mod:`zeta_etl_spark.plans.ivm`):

    G..., _n BIGINT, <m>_sum <exact>, <m>_n BIGINT   per measure m

Supported request aggregates and their derivations from the view:

    count_rows      -> SUM(_n)
    sum(m)          -> CASE WHEN SUM(m_n) = 0 THEN NULL ELSE SUM(m_sum) END
    count(m)        -> SUM(m_n)
    avg(m)          -> CAST(sum AS DOUBLE) / count   (NULL when count = 0)

    min(m) / max(m)  -> MIN(m_min) / MAX(m_max)   (extrema of group
                        extrema — exact for any partition of the rows),
                        ONLY from views that declare the measure in
                        ``minmax_measures`` (ivm ``minmax=`` views);
                        requests against views without maintained extrema
                        surface as "no matching view" rather than
                        silently recomputing a wrong rollup.

Matching rule: a view answers a request iff the request's group keys AND
every filter column are a subset of the view's keys (filters on view key
columns prune view rows exactly — each view row is one base group), and
every requested measure is maintained by the view.  Among matches the
navigator picks the view with the FEWEST keys (the coarsest grain): its
materialization has the fewest rows, so the rollup scans the least data.

At 100 TB this is the difference between scanning a few million group
rows and re-scanning the fact table: the rewrite is O(|view|), and the
view itself is maintained incrementally from the change feed (ivm.py) —
the query never touches base data.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SUPPORTED = ("count_rows", "sum", "count", "avg", "min", "max")


@dataclass(frozen=True)
class ViewDef:
    """A registered materialized aggregate view.

    ``table`` is the name the resolver loads (a Pipeline table holding the
    ivm view schema); ``keys``/``measures`` declare its grain and
    maintained measures.
    """

    table: str
    keys: tuple[str, ...]
    measures: tuple[str, ...]
    minmax_measures: tuple[str, ...] = ()


class NoMatchingView(LookupError):
    """No registered view can answer the request (wrong grain, filtered
    on a non-key column, unmaintained measure, or unsupported aggregate)."""


def _check_request(aggs: Mapping[str, tuple[str, str | None]]) -> None:
    for out, (fn, col) in aggs.items():
        if fn not in _SUPPORTED:
            raise NoMatchingView(
                f"aggregate {fn!r} (output {out!r}) is not derivable from "
                "an IVM view — supported: " + ", ".join(_SUPPORTED)
            )
        if fn == "count_rows" and col is not None:
            raise ValueError("count_rows takes no column")
        if fn != "count_rows" and col is None:
            raise ValueError(f"{fn} needs a measure column (output {out!r})")


def _matches(
    view: ViewDef,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[str, str | None]],
    filter_cols: Sequence[str],
) -> bool:
    need_keys = set(keys) | set(filter_cols)
    if not need_keys <= set(view.keys):
        return False
    need_sums = {
        c for (fn, c) in aggs.values()
        if c is not None and fn in ("sum", "count", "avg")
    }
    need_minmax = {
        c for (fn, c) in aggs.values() if fn in ("min", "max")
    }
    return need_sums <= set(view.measures) and need_minmax <= set(
        view.minmax_measures
    )


def rollup_from_view(
    view_df: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[str, str | None]],
    filter: Column | None = None,
) -> DataFrame:
    """Build the coarser aggregation from a finer IVM-schema view frame.

    Partial counts/sums re-aggregate with plain SUM (map-side combinable —
    one shuffle over |view| rows); the (sum, n) pair preserves SQL NULL
    semantics for empty/all-null groups.
    """
    df = view_df.filter(filter) if filter is not None else view_df
    exprs = []
    for out, (fn, col) in aggs.items():
        if fn == "count_rows":
            exprs.append(F.sum("_n").cast("bigint").alias(out))
        elif fn == "count":
            exprs.append(F.sum(f"{col}_n").cast("bigint").alias(out))
        elif fn == "sum":
            exprs.append(
                F.when(
                    F.sum(f"{col}_n") == 0, F.lit(None)
                ).otherwise(F.sum(f"{col}_sum")).alias(out)
            )
        elif fn == "min":
            exprs.append(F.min(f"{col}_min").alias(out))
        elif fn == "max":
            exprs.append(F.max(f"{col}_max").alias(out))
        else:  # avg
            exprs.append(
                (
                    F.sum(f"{col}_sum").cast("double")
                    / F.when(F.sum(f"{col}_n") == 0, F.lit(None)).otherwise(
                        F.sum(f"{col}_n")
                    )
                ).alias(out)
            )
    return df.groupBy(*keys).agg(*exprs)


class AggNavigator:
    """Route aggregation requests to the cheapest matching materialized
    view.

    ``resolve`` loads a view table by name (e.g. ``pipeline.read`` or
    ``lambda n: spark.read.parquet(...)``); views are registered
    :class:`ViewDef` rows.
    """

    def __init__(
        self,
        resolve: Callable[[str], DataFrame],
        views: Sequence[ViewDef],
    ):
        self._resolve = resolve
        self._views = list(views)

    def choose(
        self,
        keys: Sequence[str],
        aggs: Mapping[str, tuple[str, str | None]],
        filter: Column | None = None,
        filter_cols: Sequence[str] = (),
    ) -> ViewDef:
        """Pick the view that answers the request from the registered
        metadata alone — the resolver is never called, so no view is read
        and no Spark job runs.  ``filter`` must reference only
        ``filter_cols``, all of which must be view key columns; raises
        :class:`NoMatchingView` when no registered view qualifies.
        """
        _check_request(aggs)
        if filter is not None and not filter_cols:
            raise ValueError(
                "a filter requires filter_cols naming its columns — the "
                "navigator can only prove key-column filters safe"
            )
        matches = [
            v for v in self._views if _matches(v, keys, aggs, filter_cols)
        ]
        if not matches:
            raise NoMatchingView(
                f"no view answers keys={list(keys)} "
                f"aggs={dict(aggs)} filter_cols={list(filter_cols)}; "
                f"registered: {[ (v.table, list(v.keys)) for v in self._views ]}"
            )
        return min(matches, key=lambda v: (len(v.keys), v.table))

    def answer(
        self,
        keys: Sequence[str],
        aggs: Mapping[str, tuple[str, str | None]],
        filter: Column | None = None,
        filter_cols: Sequence[str] = (),
    ) -> tuple[DataFrame, str]:
        """Return ``(result, provenance)`` where provenance names the view
        used — callers (and tests) can assert the rewrite actually hit a
        materialization.  The view is the one :meth:`choose` picks; only
        then is it resolved and the rollup plan built over it.
        """
        best = self.choose(keys, aggs, filter=filter, filter_cols=filter_cols)
        out = rollup_from_view(
            self._resolve(best.table), keys, aggs, filter=filter
        )
        return out, f"view:{best.table}"
