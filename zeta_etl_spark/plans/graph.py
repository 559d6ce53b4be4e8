"""Declarative pipeline-graph runner — the open-source replacement for the
reference's Databricks DLT surface (`@dlt.table` / `@dlt.view` /
`dlt.read` / `dlt.read_stream` / `apply_changes`).

Reference parity:
- @dlt.table with path/partition/table_properties:
  zetadex-transactions-helius-pipeline.py:281-302,340-348
- @dlt.view: zetadex-transactions-helius-pipeline.py:332-337
- dlt.read / dlt.read_stream DAG edges: :179-181,351,1009
- apply_changes CDC: zetaflex-pipeline.py:146-151;
  zetadex-referrals-pipeline.py:147-152

Design: a node registry + memoized recursive executor.  ``read()`` inside a
node function pulls the dependency, executing it first if needed (depth-first
topological order with cycle detection).  Each table node materializes to
parquet at ``{base_path}/{name}`` (hive-partitioned when ``partition_by`` is
set — the engine's stand-in for the reference's Delta tables + zOrder hints,
which are a storage-layout concern, not a semantics one).  Views stay logical.

Scale notes: materialization boundaries between nodes are durable storage
(exactly like DLT), so each gold table recomputes from columnar pruned scans;
``partition_by`` date columns gives partition pruning downstream; incremental
nodes run via Structured Streaming with availableNow triggers
(zeta_etl_spark.streaming).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from contextlib import contextmanager as _contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from zeta_etl_spark.operators.cdc import latest_by_keys


def _fault_injection(tag: str) -> None:
    """Crash-injection seam for tests (no-op in production).

    ``_write_overwrite_atomic`` calls this at each commit-protocol point
    (``post_stage``, ``post_seal``, ``post_publish``) so the ACID test can
    kill the writer at every seam and assert readers never observe a torn
    table.  Mirrors the fault points a Delta commit protocol would have
    (task write → commit marker → log entry)."""


class ConcurrentWriteError(RuntimeError):
    """Optimistic-concurrency conflict: the table advanced past the version
    this writer read before it could commit (Delta's
    ConcurrentModificationException family).  The loser's staged files are
    removed; retry by re-reading the current snapshot and re-deriving the
    write."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


@dataclass
class Node:
    name: str
    fn: Callable[..., DataFrame] | None
    kind: str  # "table" | "view" | "cdc"
    partition_by: tuple[str, ...] = ()
    quality: str | None = None  # bronze | silver | gold (metadata only)
    comment: str | None = None
    sort_within_partitions: tuple[str, ...] = ()  # OSS stand-in for zOrderCols
    # data-quality expectations: name -> (sql_condition, action) where action
    # is "warn" | "drop" | "fail" — the engine's dlt.expect / expect_or_drop /
    # expect_or_fail equivalent (the reference uses none — SURVEY §5 — but the
    # mechanism is part of the DLT surface the engine replaces)
    expectations: dict[str, tuple[str, str]] = field(default_factory=dict)
    # cdc-only
    source: str | None = None
    keys: tuple[str, ...] = ()
    sequence_by: tuple[str, ...] = ()
    extra: dict = field(default_factory=dict)


class Pipeline:
    """A named DAG of DataFrame-producing nodes with parquet materialization."""

    def __init__(
        self,
        name: str,
        base_path: str,
        retain_generations: int = 1,
        log_checkpoint_every: int = 10,
    ):
        """``retain_generations`` = how many PRIOR sealed generations each
        overwrite table keeps next to the published one (the Delta
        VACUUM-retention knob): 1 (default) guarantees a reader that pinned
        the previous generation mid-publish can finish; larger values
        extend the :meth:`read_version` time-travel window at the cost of
        storage.

        ``log_checkpoint_every`` = commit-log checkpoint cadence (the Delta
        ``delta.checkpointInterval`` knob): every N commits the per-commit
        log entries accumulated so far are folded into one checkpoint file
        and the consumed entry files deleted, so :meth:`commit_log` reads
        O(1 checkpoint + tail) files no matter how many commits the table
        has ever seen."""
        if retain_generations < 1:
            raise ValueError("retain_generations must be >= 1")
        if log_checkpoint_every < 1:
            raise ValueError("log_checkpoint_every must be >= 1")
        self.retain_generations = retain_generations
        self.log_checkpoint_every = log_checkpoint_every
        self.name = name
        self.base_path = base_path
        self.nodes: dict[str, Node] = {}
        self._spark: SparkSession | None = None
        self._done: dict[str, DataFrame] = {}
        self._running: set[str] = set()
        self._streaming_ctx = False
        # node -> expectation -> {"failed": n, "action": str} after run()
        self.expectation_metrics: dict[str, dict[str, dict]] = {}

    # --- declaration API ---------------------------------------------------

    def table(
        self,
        name: str | None = None,
        partition_by: Sequence[str] = (),
        quality: str | None = None,
        comment: str | None = None,
        sort_within_partitions: Sequence[str] = (),
        mode: str = "overwrite",
        incremental: bool = False,
        expectations: dict[str, tuple[str, str]] | None = None,
        schema_mode: str = "none",
        publish_delta: bool = False,
    ):
        """``mode='append'`` gives the S7 append-save sink semantics
        (zetadex-mm-uptime-pipeline-v3.sql:157 saves each epoch run with
        mode('append')).

        ``mode='overwrite_partitions'`` (requires ``partition_by``) writes
        with dynamic partition overwrite: only the hive partitions present
        in the node's OUTPUT are replaced, others keep their files.  This
        is the engine's idempotent-append primitive — a node that stamps
        its rows with a batch/increment id partition can be re-run after a
        crash without duplicating that batch (the re-run overwrites the
        same partition), which plain ``append`` cannot guarantee.  It is
        the parquet stand-in for Delta's ``replaceWhere``/MERGE surface
        the reference leans on (zetaflex-pipeline.py:146-151).

        ``incremental=True`` is the engine's per-node batch/streaming flag
        (SURVEY §4: the reference's dlt.read vs dlt.read_stream split).  The
        node's function receives streaming DataFrames from ``read_stream``
        edges and is executed via Structured Streaming with an availableNow
        trigger and a per-node checkpoint — repeated ``run()`` calls process
        only new upstream files.

        CONSTRAINT (same as DLT): a ``read_stream`` upstream must be
        append-only — an incremental node or an external append-only file
        feed.  Streaming over an overwrite-mode table re-processes every
        rewrite (file-stream sources track files, not rows).

        ``publish_delta=True`` mirrors the table's published state into a
        real Delta table at :meth:`delta_path` after every run — one
        overwrite commit per run, so the Delta log accumulates run-level
        time travel and any spec-conforming reader can consume the table
        (the reference's @dlt.table IS a managed Delta table;
        zetadex-transactions-helius-pipeline.py:286-287).  Incremental
        nodes are rejected — a streaming node publishes to Delta through
        ``sinks.delta_log.foreach_batch_delta_append`` instead, which
        gives exactly-once appends rather than per-run mirrors."""

        def deco(fn):
            n = name or fn.__name__
            if mode == "overwrite_partitions" and not partition_by:
                raise ValueError(
                    f"table {n!r}: mode='overwrite_partitions' requires "
                    "partition_by (it replaces only the output's hive "
                    "partitions)"
                )
            if schema_mode not in ("none", "enforce", "merge"):
                raise ValueError(
                    f"table {n!r}: schema_mode must be 'none' (no check), "
                    "'enforce' (reject any drift vs the live generation) or "
                    "'merge' (additive columns only) — got "
                    f"{schema_mode!r}"
                )
            if schema_mode != "none" and (
                mode != "overwrite" or incremental
            ):
                raise ValueError(
                    f"table {n!r}: schema_mode={schema_mode!r} is enforced "
                    "at the atomic-overwrite publish seam only — append / "
                    "overwrite_partitions / incremental writers bypass it, "
                    "so accepting it there would be silent no-op governance"
                )
            if publish_delta and incremental:
                raise ValueError(
                    f"table {n!r}: publish_delta mirrors the published "
                    "BATCH state; a streaming node publishes to Delta via "
                    "sinks.delta_log.foreach_batch_delta_append "
                    "(exactly-once appends), not per-run mirrors"
                )
            self._register(
                Node(
                    name=n,
                    fn=fn,
                    kind="table",
                    partition_by=tuple(partition_by),
                    quality=quality,
                    comment=comment,
                    sort_within_partitions=tuple(sort_within_partitions),
                    expectations=dict(expectations or {}),
                    extra={
                        "mode": mode,
                        "incremental": incremental,
                        "schema_mode": schema_mode,
                        "publish_delta": publish_delta,
                    },
                )
            )
            return fn

        return deco

    def view(self, name: str | None = None, comment: str | None = None):
        def deco(fn):
            n = name or fn.__name__
            self._register(Node(name=n, fn=fn, kind="view", comment=comment))
            return fn

        return deco

    def apply_changes(
        self,
        target: str,
        source: str,
        keys: Sequence[str],
        sequence_by: str | Sequence[str],
        partition_by: Sequence[str] = (),
        quality: str | None = None,
        apply_as_deletes: str | None = None,
    ) -> None:
        """Latest-record-wins CDC node (batch semantics; the streaming form is
        streaming.cdc_stream.apply_changes_stream).

        ``apply_as_deletes`` is the DLT delete surface: a SQL condition
        evaluated on the winning (latest) row per key — when it holds, the
        key is removed from the target instead of upserted (a later
        non-delete row re-inserts it)."""
        seq = (sequence_by,) if isinstance(sequence_by, str) else tuple(sequence_by)
        self._register(
            Node(
                name=target,
                fn=None,
                kind="cdc",
                source=source,
                keys=tuple(keys),
                sequence_by=seq,
                partition_by=tuple(partition_by),
                quality=quality,
                extra={"apply_as_deletes": apply_as_deletes},
            )
        )

    def _register(self, node: Node) -> None:
        if node.name in self.nodes:
            raise ValueError(f"duplicate node {node.name!r} in pipeline {self.name}")
        self.nodes[node.name] = node

    # --- execution API -----------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    def delta_path(self, name: str) -> str:
        """Destination of the ``publish_delta=True`` mirror: a real Delta
        table (sinks/delta_log.py) next to the generation store — kept
        outside the table's own directory so generation globbing and the
        Delta log never see each other's files."""
        return os.path.join(self.base_path, "_delta", name)

    def read(self, name: str) -> DataFrame:
        """Dependency edge: returns the named node's DataFrame, executing it
        first if necessary (mirrors dlt.read)."""
        return self._materialize(name)

    def backfill(
        self,
        spark: SparkSession,
        name: str,
        where: str,
    ) -> int:
        """Partition-scoped rebuild: re-run the node's function, keep only
        rows matching ``where`` (a SQL predicate over the PARTITION columns
        only — enforced), and overwrite ONLY the hive partitions those rows
        land in — untouched partitions keep their existing files
        byte-for-byte.  The standard warehouse backfill shape (fix one bad
        day without rewriting a year), built on Spark's dynamic partition
        overwrite.  Declared data-quality expectations run exactly as in
        ``run()``.

        Returns the number of rows written.  Guards (each a silent-data-loss
        vector otherwise): the node must be a ``partition_by`` overwrite
        table (append tables hold accumulated epochs a re-run can't
        reproduce; incremental tables are streaming sinks whose
        ``_spark_metadata`` log a batch write would corrupt), and ``where``
        may reference partition columns only (a row-level predicate would
        overwrite whole partitions with a row subset).  Downstream nodes'
        memoized frames are evicted so a later ``read()`` recomputes from
        the backfilled data; their MATERIALIZED parquet stays stale until
        re-run — re-run dependents after a backfill."""
        node = self.nodes[name]
        if node.kind != "table" or not node.partition_by:
            raise ValueError(
                f"backfill({name!r}): node must be a partition_by table"
            )
        if node.extra.get("incremental"):
            raise ValueError(
                f"backfill({name!r}): incremental tables are streaming "
                "sinks (_spark_metadata log); a batch overwrite would "
                "corrupt them — re-run the stream instead"
            )
        if node.extra.get("mode", "overwrite") != "overwrite":
            raise ValueError(
                f"backfill({name!r}): append/overwrite_partitions tables "
                "accumulate increments a single re-run cannot reproduce; "
                "re-run the increment itself instead"
            )
        # the predicate must resolve against the partition columns ALONE —
        # a predicate on data columns would rewrite whole partitions with a
        # row SUBSET, silently deleting the rest
        self._spark = spark
        df_full = node.fn(self)
        part_schema = [
            f for f in df_full.schema.fields if f.name in node.partition_by
        ]
        try:
            spark.createDataFrame([], schema=type(df_full.schema)(part_schema))                 .filter(where)
        except Exception as e:  # noqa: BLE001 - analysis error → clear msg
            raise ValueError(
                f"backfill({name!r}): `where` must reference only the "
                f"partition columns {list(node.partition_by)}: {e}"
            ) from e
        df = df_full.filter(where)
        if node.expectations:
            df = self._apply_expectations(node, df)
        if node.sort_within_partitions:
            df = df.sortWithinPartitions(*node.sort_within_partitions)
        df = df.cache()  # one compute for count + write
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            n = df.count()
            if n:
                (
                    df.write.mode("overwrite")
                    .partitionBy(*node.partition_by)
                    .parquet(self.path(name))
                )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev
            )
            df.unpersist()
        # refresh the memoized frame/view with an EXPLICIT schema (an empty
        # table has no part files to infer from), and evict downstream
        # memoized frames so read() recomputes from the new data
        if name in self._done:
            df_new = spark.read.schema(df.schema).parquet(self.path(name))
            df_new.createOrReplaceTempView(f"{self.name}__{name}")
            self._done[name] = df_new
        for other in list(self._done):
            if other != name:
                del self._done[other]
        return n

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_rows_per_file: int = 1_000_000,
        sort_by: Sequence[str] = (),
        zorder_by: Sequence[str] = (),
    ) -> int:
        """Small-file compaction for a materialized table — the engine's
        ``OPTIMIZE`` stand-in (the reference relies on
        ``pipelines.autoOptimize`` Delta table properties,
        zetadex-transactions-helius-pipeline.py:285; parquet pipelines
        accumulate a file per micro-batch/partition instead and must compact
        out of band).  Rewrites the table into ``ceil(rows / target)``
        files; ``sort_by`` re-applies the z-order stand-in
        (``sortWithinPartitions``) so compaction preserves data clustering.

        Returns the new file count.  Guards mirror ``backfill``'s:
        incremental tables are streaming sinks whose ``_spark_metadata``
        transaction log a rewrite would orphan, and a ``partition_by``
        table is rewritten WITH ``.partitionBy`` so the hive layout (and
        downstream partition pruning) survives compaction.  The rewrite
        goes to a side directory first and swaps in only after success;
        the swap renames the live table aside before promoting the
        rewrite, so every crash point leaves either the original or the
        verified rewrite on disk (the residual ``__old``/``__compacting``
        dir is cleaned up by the next compact).  That two-rename seam is
        what a Delta/Iceberg deployment replaces with OPTIMIZE.

        ``zorder_by=(a, b)`` is the real ``OPTIMIZE ... ZORDER BY``
        (reference table property ``pipelines.autoOptimize.zOrderCols``,
        zetadex-transactions-helius-pipeline.py:285): both columns are
        min/max-scaled to 16 bits (one cheap stats aggregate), Morton-
        interleaved (`operators/reshape.morton_code_sql`), and the rewrite
        range-partitions + sorts on the code — every output file covers a
        small RECTANGLE of the (a, b) space instead of a thin full-width
        stripe, so parquet row-group/file min-max pruning works for
        filters on EITHER column.  2-4 numeric columns (cast
        dates/timestamps to epoch first; bit width per dimension shrinks
        as 62//n); mutually exclusive with ``sort_by``.  NULLs in any
        column sort into the leading files.
        """
        import math
        import shutil

        from pyspark.sql import functions as F

        from zeta_etl_spark.operators.reshape import morton_code_sql_n

        if zorder_by and sort_by:
            raise ValueError(
                f"compact({name!r}): sort_by and zorder_by are mutually "
                "exclusive (both dictate the intra-file order)"
            )
        if zorder_by and not 2 <= len(zorder_by) <= 4:
            raise ValueError(
                f"compact({name!r}): zorder_by takes 2-4 columns (beyond 4 "
                "the interleave gives <16 bits per dimension and clustering "
                "quality degrades below what plain sorting provides)"
            )
        node = self.nodes[name]
        if node.extra.get("incremental"):
            raise ValueError(
                f"compact({name!r}): incremental tables are streaming "
                "sinks (_spark_metadata log); a batch rewrite would orphan "
                "the log — stop the stream and migrate instead"
            )
        path = self.path(name)
        df = spark.read.parquet(path)
        if zorder_by:
            zcols = list(zorder_by)
            aggs = [F.count(F.lit(1)).alias("n")]
            for j, c in enumerate(zcols):
                aggs.append(F.min(F.col(c).cast("double")).alias(f"mn{j}"))
                aggs.append(F.max(F.col(c).cast("double")).alias(f"mx{j}"))
            st = df.agg(*aggs).first()
            rows = st["n"] or 0
            n_files = max(1, math.ceil(rows / target_rows_per_file))
            zbits = min(16, 62 // len(zcols))
            top = float(2**zbits - 1)

            def _scaled(col: str, mn, mx) -> str:
                if mn is None or mx is None or mx == mn:
                    return "0"
                return (
                    f"cast(floor((cast({col} as double) - {mn!r}) / "
                    f"{mx - mn!r} * {top!r}) as bigint)"
                )

            code = morton_code_sql_n(
                [
                    _scaled(c, st[f"mn{j}"], st[f"mx{j}"])
                    for j, c in enumerate(zcols)
                ],
                zbits,
            )
            keys = [*node.partition_by, "__zcode"]
            out = (
                df.withColumn("__zcode", F.expr(code))
                .repartitionByRange(n_files, *[F.col(k) for k in keys])
                .sortWithinPartitions(*keys)
                .drop("__zcode")
            )
        elif node.partition_by:
            # repartition(n, *cols) alone would hash each partition VALUE
            # to ONE task — a hot value's 50M rows become one giant file
            # and target_rows_per_file is ignored (review finding).  Salt
            # within each value, with a PER-VALUE salt count (a global
            # count derived from the hottest value would scatter every
            # small value into that many tiny files — second review
            # finding): value holding k×target rows spreads over ~k
            # tasks, a value under target keeps salt 0 and lands in one
            # file.  One stats scan yields both the total and the join
            # side; AQE broadcasts the per-value counts when small.
            from pyspark.sql import functions as F

            cols = list(node.partition_by)
            counts = df.groupBy(*cols).agg(F.count("*").alias("_cnt"))
            per_val_files = F.greatest(
                F.lit(1),
                F.ceil(F.col("_cnt") / F.lit(target_rows_per_file)).cast(
                    "int"
                ),
            )
            stats = counts.agg(
                F.sum("_cnt").alias("rows"),
                F.sum(per_val_files).alias("n_tasks"),
            ).first()
            rows = stats["rows"] or 0
            n_files = int(stats["n_tasks"] or 1)
            out = (
                df.join(counts, cols)
                .withColumn(
                    "_compact_salt",
                    F.pmod(
                        F.hash(F.monotonically_increasing_id()),
                        per_val_files,
                    ),
                )
                .repartition(n_files, *cols, "_compact_salt")
                .drop("_compact_salt", "_cnt")
            )
        else:
            rows = df.count()
            n_files = max(1, math.ceil(rows / target_rows_per_file))
            out = df.repartition(n_files)
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)
        if os.path.islink(path):
            # generation-layout table (atomic overwrite writer): publish the
            # rewrite as the next sealed generation and swap the pointer —
            # fully atomic, no no-live-copy window at all
            gen_root, _ = self._gen_prepare(path)
            tmp = self._stage_path(gen_root)
        else:
            tmp = path + "__compacting"
            old = path + "__old"
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
        try:
            writer = out.write.mode("overwrite")
            if node.partition_by:
                writer = writer.partitionBy(*node.partition_by)
            writer.parquet(tmp)
            # verify the rewrite before touching the live table — an
            # explicit raise, not assert, so python -O cannot strip the
            # safety gate
            rewritten = spark.read.parquet(tmp).count()
            if rewritten != rows:
                raise RuntimeError(
                    f"compact({name!r}): rewrite produced {rewritten} rows, "
                    f"expected {rows}; original table left untouched"
                )
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)  # clean own staging
            raise
        if os.path.islink(path):
            self._seal_commit_meta(tmp, "compact")
            self._seal_and_publish(path, gen_root, tmp)
        else:
            # crash-safe swap: live → __old, __compacting → live, drop __old.
            # A crash after the first rename leaves the full original at
            # __old and the verified rewrite at __compacting — recoverable;
            # never a window with NO live copy being the only state.
            os.replace(path, old)
            os.replace(tmp, path)
            shutil.rmtree(old)
        # the pre-compaction DataFrame (and its temp view) points at the
        # deleted part files — drop the memoized frame and re-register the
        # view over the new files so later read()/SQL doesn't hit
        # FileNotFoundException
        if name in self._done:
            df_new = spark.read.parquet(path)
            df_new.createOrReplaceTempView(f"{self.name}__{name}")
            self._done[name] = df_new
        return n_files

    def merge_into(
        self,
        spark: SparkSession,
        name: str,
        source: DataFrame,
        on: Sequence[str],
        when_matched_update: str | dict[str, str] | None = None,
        update_condition: str | None = None,
        when_matched_delete: bool = False,
        delete_condition: str | None = None,
        when_not_matched_insert: str | dict[str, str] | None = None,
        insert_condition: str | None = None,
        collect_metrics: bool = True,
        schema_evolution: bool = False,
        null_safe_on: bool = False,
        commit_extra: dict | None = None,
    ) -> dict:
        """Batch ``MERGE INTO`` on a materialized overwrite table — the
        engine's stand-in for Delta's MERGE (the reference's CDC targets are
        Delta tables maintained by apply_changes, zetaflex-pipeline.py:146-151;
        ad-hoc upserts there would be ``MERGE INTO``, unavailable here because
        delta-spark is not installable — re-checked r7).

        Semantics (Delta-shaped):

        - ``on`` — equi-join key columns (present in both target and source).
          NULL keys never match (standard equi-join), so a NULL-keyed source
          row is insert-only.  ``null_safe_on=True`` switches the match to
          ``<=>`` (Delta supports the same in its merge condition) — needed
          when keys are GROUP-BY-derived and NULL is a real group (the IVM
          views in ``plans/ivm.py`` use this).  Note: with null-safe keys a
          NULL-keyed partition tuple still prunes correctly (the touched-
          tuple predicate uses IS NULL).
        - ``when_matched_delete`` (+ optional ``delete_condition``) is
          evaluated FIRST on matched pairs; then ``when_matched_update``
          (``"*"`` = replace row with source columns, or a dict
          ``{target_col: sql_expr}``) gated by ``update_condition``.
          Matched rows claimed by neither clause are copied unchanged.
        - ``when_not_matched_insert`` — ``"*"`` or ``{target_col: sql_expr}``
          (unlisted columns become NULL), gated by ``insert_condition``.
          Without an insert clause unmatched source rows are ignored.
        - Condition / expression SQL references target columns as ``t.col``
          and source columns as ``s.col``.
        - Duplicate ``on``-keys in the SOURCE are an ERROR.  This is
          strictly stronger than Delta's runtime guard (Delta only errors
          when duplicate source rows MATCH a target row; duplicate
          unmatched rows insert twice) — duplicate keys here would make the
          result nondeterministic on the next merge anyway, so they are
          rejected up front.  Note NULL key components compare equal for
          this guard (GROUP BY semantics) even though they never MATCH.

        Scale design: when the table is hive-partitioned and every partition
        column is a join key, only TOUCHED partitions (the source's distinct
        partition tuples) are read and rewritten; every untouched partition
        directory is HARD-LINKED from the previous generation into the new
        one — the parquet-layout analogue of Delta re-listing untouched files
        in the new commit.  Merge cost is then proportional to touched data,
        not table size: a 100 TB day-partitioned table takes an upsert of one
        day at the cost of one day.  (The driver-side ``distinct().collect()``
        of touched tuples is bounded by the touched-partition count, not rows.)
        Otherwise the whole table is read and rewritten (same as Delta when
        files cannot be pruned).

        Atomicity: the merged generation is staged, sealed with a ``merge``
        commit record, and published by the same atomic pointer swap as
        overwrite materialization — a crash at any seam leaves readers on a
        complete snapshot (crash-matrix in tests/test_merge_into.py), and
        ``read_version`` time-travels to the pre-merge generation.
        """
        from functools import reduce

        from pyspark.sql import functions as F

        from zeta_etl_spark.operators.merge_kernel import (
            build_merge_plan,
            reject_duplicate_source_keys,
        )

        node = self.nodes[name]
        if node.kind not in ("table", "cdc") or node.extra.get("incremental"):
            raise ValueError(f"merge_into({name!r}): not a batch table node")
        if node.extra.get("mode", "overwrite") != "overwrite":
            raise ValueError(
                f"merge_into({name!r}): requires the generation layout "
                "(mode='overwrite'); append/dynamic tables are in-place"
            )
        if (
            when_matched_update is None
            and not when_matched_delete
            and when_not_matched_insert is None
        ):
            raise ValueError("merge_into: no WHEN clause given")
        path = self.path(name)
        if not os.path.lexists(path):
            raise ValueError(f"merge_into({name!r}): table not materialized")
        cur = os.path.realpath(path)
        on = list(on)
        pcols = list(node.partition_by)

        target = spark.read.parquet(cur)
        tcols = target.columns
        tfields = {f.name: f.dataType for f in target.schema.fields}

        # Delta's multiple-source-rows-match guard: one aggregate job over
        # the source (usually the small side of a merge).
        reject_duplicate_source_keys(source, on)

        # schema evolution (Delta autoMerge stand-in): source-only columns
        # extend the target schema; pre-existing rows read NULL.  Only the
        # "*" clause forms (the evolved columns' values are unambiguous),
        # and always a FULL rewrite — without a transaction log, hard-linked
        # old-schema partition files cannot serve the widened schema.
        new_cols: list[str] = []
        if schema_evolution:
            new_cols = [c for c in source.columns if c not in tcols]
        if new_cols:
            if when_matched_update not in (None, "*") or (
                when_not_matched_insert not in (None, "*")
            ):
                raise ValueError(
                    "merge_into: schema_evolution supports only '*' "
                    "update/insert clauses (dict clauses make the evolved "
                    "columns' values ambiguous)"
                )
            sfields = {f.name: f.dataType for f in source.schema.fields}
            tfields.update({c: sfields[c] for c in new_cols})

        prunable = (
            bool(pcols) and set(pcols) <= set(on) and not new_cols
        )
        touched: list[tuple] | None = None
        if prunable:
            touched = [
                tuple(r[c] for c in pcols)
                for r in source.select(*pcols).distinct().collect()
            ]
            pred = reduce(
                lambda a, b: a | b,
                [
                    reduce(
                        lambda a, b: a & b,
                        [
                            F.col(c).isNull()
                            if v is None
                            else (F.col(c) == F.lit(v))
                            for c, v in zip(pcols, tup)
                        ],
                    )
                    for tup in touched
                ],
                F.lit(False),
            )
            target = target.where(pred)  # partition-pruned scan

        # the clause matrix (join, gates, output projection) is shared with
        # the native Delta format layer — see operators/merge_kernel.py
        plan = build_merge_plan(
            target,
            source,
            on,
            when_matched_update=when_matched_update,
            update_condition=update_condition,
            when_matched_delete=when_matched_delete,
            delete_condition=delete_condition,
            when_not_matched_insert=when_not_matched_insert,
            insert_condition=insert_condition,
            null_safe_on=null_safe_on,
            new_cols=new_cols,
            tfields=tfields,
        )
        metrics: dict = plan.metrics() if collect_metrics else {}
        merged = plan.merged()
        if node.sort_within_partitions:
            merged = merged.sortWithinPartitions(*node.sort_within_partitions)

        gen_root, _ = self._gen_prepare(path)
        with self._staging(gen_root) as staged:
            writer = merged.write.mode("overwrite")
            if pcols:
                writer = writer.partitionBy(*pcols)
            writer.parquet(staged)
            n_linked = 0
            if prunable:
                n_linked = self._link_untouched_partitions(
                    cur, staged, pcols, touched
                )
            _fault_injection("post_stage")
            self._seal_commit_meta(staged, "merge", **(commit_extra or {}))
            # MERGE is read-modify-write: commit with CAS on the generation
            # the merge READ (`cur`, pinned before the join was planned) —
            # a concurrent commit in between means this result is stale, so
            # the loser aborts (ConcurrentWriteError) instead of silently
            # losing the winner's update
            read_base = os.path.basename(cur)
            read_ver = (
                int(read_base[1:]) if read_base.startswith("v") else None
            )
            nxt = self._seal_and_publish(
                path, gen_root, staged, expect_version=read_ver
            )
        # drop the memoized frame — it pins the pre-merge generation
        if name in self._done:
            df_new = spark.read.parquet(os.path.realpath(path))
            df_new.createOrReplaceTempView(f"{self.name}__{name}")
            self._done[name] = df_new
        metrics.update(
            generation=nxt,
            partition_pruned=prunable,
            touched_partitions=len(touched) if touched is not None else None,
            linked_partitions=n_linked,
            evolved_columns=new_cols,
        )
        return metrics

    @staticmethod
    def _link_untouched_partitions(
        prev_gen: str,
        staged: str,
        pcols: list[str],
        touched: list[tuple],
    ) -> int:
        """Hard-link every partition directory of ``prev_gen`` whose value
        tuple is NOT in ``touched`` into ``staged``.

        Parquet part files are immutable and generation cleanup uses
        ``rmtree`` (unlink), so hard links are safe: vacuuming the old
        generation drops its directory names while the shared inodes live on
        under the new generation.  Comparison happens on UNESCAPED values
        (hive dirs %-escape specials; ``__HIVE_DEFAULT_PARTITION__`` is the
        NULL sentinel) so we never have to reproduce Spark's exact escaping —
        a parse failure raises rather than risking double data.
        """
        from urllib.parse import unquote

        def canon(v) -> str | None:
            if v is None:
                return None
            if isinstance(v, bool):
                return "true" if v else "false"
            return str(v)

        touched_keys = {tuple(canon(v) for v in tup) for tup in touched}

        def parse_seg(seg: str, col: str) -> str | None:
            pre = f"{col}="
            if not seg.startswith(pre):
                raise ValueError(
                    f"unexpected dir {seg!r} in partitioned table (wanted "
                    f"{col}=...)"
                )
            raw = seg[len(pre):]
            if raw == "__HIVE_DEFAULT_PARTITION__":
                return None
            return unquote(raw)

        n_linked = 0

        def link_tree(src: str, dst: str) -> None:
            os.makedirs(dst, exist_ok=True)
            for entry in os.listdir(src):
                s, d = os.path.join(src, entry), os.path.join(dst, entry)
                if os.path.isdir(s):
                    link_tree(s, d)
                else:
                    os.link(s, d)

        def rec(cur_dir: str, vals: tuple, depth: int) -> None:
            nonlocal n_linked
            if depth == len(pcols):
                key = tuple(canon(v) for v in vals)
                if key in touched_keys:
                    return
                rel = os.path.relpath(cur_dir, prev_gen)
                dst = os.path.join(staged, rel)
                if os.path.exists(dst):
                    raise RuntimeError(
                        f"merge link target already staged: {rel} — partition "
                        "classification bug, aborting before double data"
                    )
                link_tree(cur_dir, dst)
                n_linked += 1
                return
            for entry in sorted(os.listdir(cur_dir)):
                full = os.path.join(cur_dir, entry)
                if not os.path.isdir(full):
                    continue  # _SUCCESS / _commit.json at the root level
                v = parse_seg(entry, pcols[depth])
                rec(full, vals + (v,), depth + 1)

        rec(prev_gen, (), 0)
        return n_linked

    def vacuum(self, name: str | None = None) -> list[str]:
        """Remove orphan maintenance directories — the engine's VACUUM
        stand-in.  Crash-safe operations (``compact``) stage their work in
        ``{table}__compacting`` / ``{table}__old`` side dirs; a crash can
        strand those, and they are dead weight once the live table is
        intact.  That precondition is ENFORCED, not assumed: after a crash
        in compact's swap window the live dir may be missing and the side
        dirs hold the ONLY copies of the data — vacuuming then would be
        permanent data loss, so vacuum refuses with recovery instructions
        instead (found by review before it could bite).  Scoped to one
        node or the whole pipeline; returns the removed paths.  Never
        touches live tables, checkpoints, or streaming ``_spark_metadata``.
        """
        import shutil

        import re

        names = [name] if name else list(self.nodes)
        removed = []
        for n in names:
            if n not in self.nodes:
                raise KeyError(f"unknown node {n!r} in pipeline {self.name}")
            sides = [
                self.path(n) + suffix
                for suffix in ("__compacting", "__old")
                if os.path.exists(self.path(n) + suffix)
            ]
            if sides and not os.path.exists(self.path(n)):
                raise RuntimeError(
                    f"vacuum({n!r}): live table missing but maintenance "
                    f"dirs exist ({sides}) — a compaction crashed "
                    "mid-swap and these are the only copies of the data. "
                    f"Recover first: os.replace('{self.path(n)}__old', "
                    f"'{self.path(n)}') to restore the original (or "
                    "promote __compacting, the verified rewrite), THEN "
                    "vacuum."
                )
            for side in sides:
                shutil.rmtree(side)
                removed.append(side)
            # generation-layout tables (atomic overwrite writer): heal a
            # crash between seal and publish (pointer missing → re-link the
            # newest sealed generation — never data loss, the generations
            # ARE the data), then drop staging debris and generations
            # beyond the keep-one-prior retention window
            gen_root = self.path(n) + "__gen"
            if os.path.isdir(gen_root):
                gens = sorted(
                    d
                    for d in os.listdir(gen_root)
                    if re.fullmatch(r"v\d{6}", d)
                )
                if gens and not os.path.lexists(self.path(n)):
                    self._swap_pointer(
                        self.path(n), os.path.join(gen_root, gens[-1])
                    )
                for d in os.listdir(gen_root):
                    full = os.path.join(gen_root, d)
                    # explicit VACUUM removes ALL staging debris (even a
                    # live writer's — same contract as Delta VACUUM with
                    # writers in flight: don't)
                    if (
                        d.endswith("__staging")
                        or "__staging_" in d
                        or d.startswith("_ptr__")
                    ):
                        if os.path.islink(full) or os.path.isfile(full):
                            os.remove(full)
                        else:
                            shutil.rmtree(full)
                        removed.append(full)
                if gens:
                    current = int(gens[-1][1:])
                    for d in gens:
                        if int(d[1:]) < current - self.retain_generations:
                            full = os.path.join(gen_root, d)
                            shutil.rmtree(full)
                            removed.append(full)
        return removed

    def describe(self, spark: SparkSession | None = None) -> list[dict]:
        """Node inventory with materialization stats — the engine's
        DESCRIBE/lineage-listing surface (DLT renders the same from its
        graph UI).  Per node: declaration metadata plus, when the node is
        materialized on disk, file count and bytes (footer-free walk; row
        counts are deliberately NOT read here — a listing must stay
        cheap)."""
        out = []
        for n, node in self.nodes.items():
            path = self.path(n)
            n_bytes = n_files = 0
            materialized = node.kind != "view" and os.path.exists(path)
            if materialized:
                for root, _dirs, files in os.walk(path):
                    for f in files:
                        if f.startswith((".", "_")):
                            continue
                        n_files += 1
                        n_bytes += os.path.getsize(os.path.join(root, f))
            out.append(
                {
                    "name": n,
                    "kind": node.kind,
                    "quality": node.quality,
                    "mode": node.extra.get("mode", "overwrite")
                    if node.kind in ("table", "cdc")
                    else None,
                    "incremental": bool(node.extra.get("incremental")),
                    "partition_by": list(node.partition_by),
                    "comment": node.comment,
                    "materialized": materialized,
                    "files": n_files,
                    "bytes": n_bytes,
                }
            )
        return out

    def read_stream(self, name: str) -> DataFrame:
        """Incremental dependency edge (mirrors dlt.read_stream): inside an
        ``incremental=True`` node this returns a streaming scan of the
        upstream node's materialized parquet; inside a batch node it degrades
        to a full re-read (the reference's own fallback — SURVEY §2.9 T9)."""
        upstream = self._materialize(name)
        if not self._streaming_ctx:
            return upstream
        spark = self._spark
        return (
            spark.readStream.schema(upstream.schema)
            .parquet(self.path(name))
        )

    def run(
        self, spark: SparkSession, targets: Sequence[str] | None = None
    ) -> dict[str, DataFrame]:
        """Execute the DAG (all nodes or the closure of ``targets``).

        Nodes maintained by external writers (clone_table targets,
        result-cache entries, merge-upsert state, IVM views — registered
        with ``extra["external_writer"]``) are EXCLUDED from the default
        all-nodes run: their sentinel fns exist only to hold table layout
        metadata, and materializing one through run() is an error.  Name
        one explicitly in ``targets`` to get that error on purpose."""
        self._spark = spark
        self._done = {}
        self._running = set()
        out: dict[str, DataFrame] = {}
        default = [
            n
            for n, node in self.nodes.items()
            if not (node.extra or {}).get("external_writer")
        ]
        for name in targets or default:
            out[name] = self._materialize(name)
        return out

    def _materialize(self, name: str) -> DataFrame:
        if name in self._done:
            return self._done[name]
        if name not in self.nodes:
            raise KeyError(f"unknown node {name!r} in pipeline {self.name}")
        if name in self._running:
            raise ValueError(f"dependency cycle through node {name!r}")
        self._running.add(name)
        node = self.nodes[name]
        spark = self._spark
        assert spark is not None, "call run() first"
        try:
            if node.kind == "cdc":
                src = self._materialize(node.source)
                deletes = node.extra.get("apply_as_deletes")
                if deletes:
                    from zeta_etl_spark.operators.cdc import (
                        latest_by_keys_with_deletes,
                    )

                    df = latest_by_keys_with_deletes(
                        src, node.keys, node.sequence_by, deletes
                    )
                else:
                    df = latest_by_keys(src, node.keys, node.sequence_by)
            elif node.kind == "table" and node.extra.get("incremental"):
                return self._materialize_incremental(node)
            else:
                df = node.fn(self)
            obs = None
            if node.expectations:
                if node.kind in ("table", "cdc") and all(
                    action == "warn"
                    for _c, action in node.expectations.values()
                ):
                    # warn-only expectations piggyback on the
                    # materialization pass via df.observe — zero extra
                    # scans (the separate counting aggregate below is only
                    # needed when a drop/fail must act BEFORE the write)
                    from pyspark.sql import Observation
                    from pyspark.sql import functions as F

                    obs = Observation(f"dq_{node.name}")
                    df = df.observe(
                        obs,
                        *[
                            F.count(F.when(~F.expr(cond), F.lit(1))).alias(
                                ename
                            )
                            for ename, (cond, _a) in node.expectations.items()
                        ],
                    )
                else:
                    df = self._apply_expectations(node, df)
            if node.kind in ("table", "cdc"):
                mode = node.extra.get("mode", "overwrite")
                if node.sort_within_partitions:
                    df = df.sortWithinPartitions(*node.sort_within_partitions)
                if mode == "overwrite_partitions":
                    # dynamic partition overwrite: replace only the
                    # partitions present in df, keep the rest — idempotent
                    # under re-runs of the same increment partition
                    prev = spark.conf.get(
                        "spark.sql.sources.partitionOverwriteMode"
                    )
                    spark.conf.set(
                        "spark.sql.sources.partitionOverwriteMode", "dynamic"
                    )
                    try:
                        (
                            df.write.mode("overwrite")
                            .partitionBy(*node.partition_by)
                            .parquet(self.path(name))
                        )
                    finally:
                        spark.conf.set(
                            "spark.sql.sources.partitionOverwriteMode", prev
                        )
                elif mode == "overwrite":
                    # two-phase commit: staged generation + atomic pointer
                    # swap — readers never see a torn table (VERDICT r6
                    # next-3; the Delta-ACID stand-in)
                    self._write_overwrite_atomic(node, df)
                else:
                    writer = df.write.mode(mode)
                    if node.partition_by:
                        writer = writer.partitionBy(*node.partition_by)
                    writer.parquet(self.path(name))
                # explicit schema: an empty node (0-row day, empty source)
                # writes no part files and schema inference would fail.
                # realpath: for pointer-layout tables the memoized frame and
                # temp view pin the RESOLVED generation dir — a later
                # publish cannot tear an in-flight plan (snapshot
                # isolation, one generation of retention); for in-place
                # layouts realpath is the path itself
                df = spark.read.schema(df.schema).parquet(
            os.path.realpath(self.path(name))
                )
                if node.extra.get("publish_delta"):
                    from zeta_etl_spark.sinks.delta_log import write_delta

                    write_delta(
                        df,
                        self.delta_path(name),
                        mode="overwrite",
                        partition_by=node.partition_by,
                        checkpoint_interval=self.log_checkpoint_every,
                    )
                if obs is not None:
                    counts = obs.get  # filled by the write action above
                    self.expectation_metrics[node.name] = {
                        ename: {
                            "failed": counts[ename],
                            "action": "warn",
                            "condition": cond,
                        }
                        for ename, (cond, _a) in node.expectations.items()
                    }
            df.createOrReplaceTempView(f"{self.name}__{name}")
            self._done[name] = df
            return df
        finally:
            self._running.discard(name)

    # --- two-phase-commit overwrite materialization -----------------------

    def _gen_prepare(self, path: str) -> tuple[str, int]:
        """Ensure the generation root exists, heal crash debris, and return
        ``(gen_root, advisory_next_generation_number)``.

        Multi-writer safe (r8): staging dirs are writer-private
        (``__staging_{pid}_{uuid}``) and healing removes only debris whose
        owning PROCESS is dead — a live concurrent writer's in-flight work
        is never touched.  The returned generation number is ADVISORY (for
        metrics/debug): the authoritative number is claimed atomically
        inside :meth:`_seal_and_publish`'s commit critical section.
        Cross-host writers would need lease files instead of pid liveness —
        that is the seam a shared-object-store deployment replaces with a
        Delta/Iceberg transaction log."""
        import re
        import shutil

        gen_root = path + "__gen"
        os.makedirs(gen_root, exist_ok=True)
        entries = os.listdir(gen_root)
        for d in entries:
            heal = False
            if d.startswith("_ptr__"):
                heal = True  # tmp pointer links: re-created under the lock
            elif d.endswith("__staging"):
                heal = True  # legacy pre-r8 staging name: no owner encoded
            elif "__staging_" in d:
                m = re.search(r"__staging_(\d+)_", d)
                heal = m is not None and not _pid_alive(int(m.group(1)))
            if heal:
                full = os.path.join(gen_root, d)
                if os.path.islink(full) or os.path.isfile(full):
                    os.remove(full)
                else:
                    shutil.rmtree(full, ignore_errors=True)
        gens = sorted(
            d for d in os.listdir(gen_root) if re.fullmatch(r"v\d{6}", d)
        )
        # heal a crash between generation-seal and pointer-publish (or a
        # one-time legacy migration interrupted mid-swap): generations exist
        # but no live pointer — restore the pointer to the newest sealed
        # generation so readers come back without manual recovery
        if gens and not os.path.lexists(path):
            self._swap_pointer(path, os.path.join(gen_root, gens[-1]))
        nxt = (int(gens[-1][1:]) + 1) if gens else 1
        # one-time migration: adopt a pre-existing REAL directory (legacy
        # in-place layout) as a sealed prior generation.  The rename leaves
        # a brief no-live-path window — migration only; every subsequent
        # overwrite is fully atomic (and _gen_prepare heals a crash inside
        # the window by re-linking the adopted generation, above)
        if os.path.isdir(path) and not os.path.islink(path):
            os.replace(path, os.path.join(gen_root, f"v{nxt:06d}"))
            self._swap_pointer(path, os.path.join(gen_root, f"v{nxt:06d}"))
            nxt += 1
        return gen_root, nxt

    @staticmethod
    def _stage_path(gen_root: str) -> str:
        """Writer-private staging dir: pid (liveness-checked by healing) +
        uuid (several stagings per process)."""
        import uuid

        return os.path.join(
            gen_root, f"__staging_{os.getpid()}_{uuid.uuid4().hex[:8]}"
        )

    @staticmethod
    @_contextmanager
    def _staging(gen_root: str):
        """Yield a writer-private staging path; on ANY in-process failure
        remove it (a failed writer cleans its own debris — pid-liveness
        healing only covers true process death).  On success the dir has
        been renamed away by the seal, so the cleanup is a no-op."""
        import shutil

        staged = Pipeline._stage_path(gen_root)
        try:
            yield staged
        except BaseException:
            shutil.rmtree(staged, ignore_errors=True)
            raise

    @staticmethod
    def _live_version(path: str) -> int | None:
        """Version the live pointer currently serves, or None if absent /
        not a sealed generation."""
        import re

        if not os.path.lexists(path):
            return None
        base = os.path.basename(os.path.realpath(path))
        return int(base[1:]) if re.fullmatch(r"v\d{6}", base) else None

    def _seal_and_publish(
        self,
        path: str,
        gen_root: str,
        staged: str,
        expect_version: int | None = None,
    ) -> int:
        """Commit critical section — the optimistic-concurrency analogue of
        Delta's log-entry CAS.  The expensive data write into ``staged``
        happened OUTSIDE any lock; this section is metadata-only:

        1. take an exclusive flock on ``{gen_root}/_commit.lock`` (released
           automatically if the process dies mid-commit);
        2. if ``expect_version`` is given (read-modify-write commits: MERGE,
           IVM sync), verify the live pointer still serves that version —
           otherwise remove the staged dir and raise
           :class:`ConcurrentWriteError` (the loser aborts cleanly, the
           winner's publish is untouched);
        3. claim the next generation number from the CURRENT listing and
           seal with one rename — number claims cannot collide because they
           happen under the lock;
        4. swap the pointer (ours is necessarily the newest seal) and
           vacuum strictly-older-than-retention generations.

        Blind overwrites (no ``expect_version``) serialize on the same lock
        with last-writer-wins pointer semantics — both publishes remain on
        disk as history inside the retention window."""
        import fcntl
        import re
        import shutil

        lock_path = os.path.join(gen_root, "_commit.lock")
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            if expect_version is not None:
                live = self._live_version(path)
                if live != expect_version:
                    shutil.rmtree(staged, ignore_errors=True)
                    raise ConcurrentWriteError(
                        f"{path}: expected to commit over v{expect_version:06d} "
                        f"but the live table is now "
                        f"{'v%06d' % live if live is not None else 'absent'} — "
                        "another writer committed first; re-read the current "
                        "snapshot and retry the merge"
                    )
            gens = [
                int(d[1:])
                for d in os.listdir(gen_root)
                if re.fullmatch(r"v\d{6}", d)
            ]
            nxt = (max(gens) + 1) if gens else 1
            committed = os.path.join(gen_root, f"v{nxt:06d}")
            os.replace(staged, committed)  # phase 1: generation sealed
            _fault_injection("post_seal")
            self._swap_pointer(path, committed)  # phase 2: atomic publish
            _fault_injection("post_publish")
            self._retain_generations(gen_root, nxt)
            _fault_injection("post_retain")
            # phase 3: durable commit log — outlives vacuumed generations
            # (Delta's _delta_log).  A crash between publish and this append
            # leaves a gap that the NEXT writer's append backfills.
            self._log_append(gen_root, nxt, committed)
        return nxt

    # --- durable commit log (checkpointed) ---------------------------------

    @staticmethod
    def _log_dir(gen_root: str) -> str:
        return os.path.join(gen_root, "_log")

    @classmethod
    def _log_read_raw(cls, gen_root: str) -> tuple[list[dict], int]:
        """Load the full logged history: latest checkpoint entries + tail
        entry files after it.  Returns (entries ascending, version of the
        latest checkpoint or 0).  Cost: one checkpoint file + the tail —
        never O(all commits ever)."""
        import json
        import re

        log_dir = cls._log_dir(gen_root)
        if not os.path.isdir(log_dir):
            return [], 0
        names = os.listdir(log_dir)
        ckpts = sorted(
            int(m.group(1))
            for n in names
            if (m := re.fullmatch(r"_checkpoint_(\d{6})\.json", n))
        )
        entries: list[dict] = []
        ckpt_ver = 0
        if ckpts:
            ckpt_ver = ckpts[-1]
            with open(
                os.path.join(log_dir, f"_checkpoint_{ckpt_ver:06d}.json")
            ) as fh:
                entries = json.load(fh)["entries"]
        tail_vers = sorted(
            int(m.group(1))
            for n in names
            if (m := re.fullmatch(r"(\d{6})\.json", n))
            and int(m.group(1)) > ckpt_ver
        )
        for v in tail_vers:
            with open(os.path.join(log_dir, f"{v:06d}.json")) as fh:
                entries.append(json.load(fh))
        return entries, ckpt_ver

    def _log_append(self, gen_root: str, version: int, committed: str) -> None:
        """Append this commit's log entry (called INSIDE the commit lock),
        backfilling entries for any sealed generation a crashed writer
        published but never logged, then checkpoint + compact the tail when
        the cadence hits."""
        import json
        import re
        import time

        log_dir = self._log_dir(gen_root)
        os.makedirs(log_dir, exist_ok=True)
        entries, ckpt_ver = self._log_read_raw(gen_root)
        logged = {e["version"] for e in entries}

        def entry_for(v: int) -> dict:
            gen_dir = os.path.join(gen_root, f"v{v:06d}")
            meta_path = os.path.join(gen_dir, "_commit.json")
            meta = {"operation": "unknown"}
            if os.path.exists(meta_path):
                with open(meta_path) as fh:
                    meta = json.load(fh)
            n_files = n_bytes = 0
            for root, _dirs, files in os.walk(gen_dir):
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
            return {
                "version": v,
                "logged_at": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
                "files": n_files,
                "bytes": n_bytes,
                **meta,
            }

        # backfill: sealed-but-unlogged generations from crashed writers
        # (only ones still on disk — a vacuumed unlogged gen is gone for
        # good, the same data loss window Delta closes by writing the log
        # entry BEFORE the commit is visible; our pointer swap IS the
        # visibility point, so the log trails it by design)
        on_disk = sorted(
            int(d[1:])
            for d in os.listdir(gen_root)
            if re.fullmatch(r"v\d{6}", d)
        )
        for v in on_disk:
            if v not in logged and v != version:
                entries.append(entry_for(v))
        entries.append(entry_for(version))
        entries.sort(key=lambda e: e["version"])
        tmp = os.path.join(log_dir, f"_tmp_{version:06d}.json")
        if version % self.log_checkpoint_every == 0:
            # fold everything into one checkpoint, then compact: delete
            # consumed entry files and superseded checkpoints
            with open(tmp, "w") as fh:
                json.dump({"entries": entries}, fh)
            os.replace(
                tmp, os.path.join(log_dir, f"_checkpoint_{version:06d}.json")
            )
            for n in os.listdir(log_dir):
                m = re.fullmatch(r"(\d{6})\.json", n)
                if m and int(m.group(1)) <= version:
                    os.remove(os.path.join(log_dir, n))
                mc = re.fullmatch(r"_checkpoint_(\d{6})\.json", n)
                if mc and int(mc.group(1)) < version:
                    os.remove(os.path.join(log_dir, n))
        else:
            new = [e for e in entries if e["version"] not in logged]
            for e in new:
                with open(tmp, "w") as fh:
                    json.dump(e, fh)
                os.replace(
                    tmp, os.path.join(log_dir, f"{e['version']:06d}.json")
                )

    def commit_log(self, name: str) -> list[dict]:
        """Full durable commit history of an overwrite table, oldest first —
        the ``DESCRIBE HISTORY`` that SURVIVES vacuum (:meth:`history` walks
        retained generation dirs, so its window is ``retain_generations``;
        this reads the checkpointed log).  Each entry carries
        ``retained``/``is_current`` so callers can tell which versions
        :meth:`read_version` can still serve."""
        path = self.path(name)
        gen_root = path + "__gen"
        entries, _ = self._log_read_raw(gen_root)
        retained = set(self.table_versions(name))
        current = self._live_version(path)
        return [
            {
                **e,
                "retained": e["version"] in retained,
                "is_current": e["version"] == current,
            }
            for e in entries
        ]

    def _swap_pointer(self, path: str, committed: str) -> None:
        """Atomically point ``path`` (a symlink) at the committed generation
        dir.  ``os.replace`` of a symlink is atomic on POSIX: a concurrent
        reader resolves either the old or the new generation, never a
        partial directory."""
        tmp_link = os.path.join(
            os.path.dirname(committed), f"_ptr__{os.path.basename(committed)}"
        )
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(os.path.abspath(committed), tmp_link)
        os.replace(tmp_link, path)

    def _retain_generations(self, gen_root: str, current: int) -> None:
        """Keep the published generation plus ``retain_generations`` prior
        ones (a reader whose plan pinned the previous generation's file
        listing mid-publish must be able to finish, and
        :meth:`read_version` time-travels within this window — the Delta
        VACUUM-retention seam); drop older."""
        import re
        import shutil

        for d in os.listdir(gen_root):
            # drop strictly-older-than-retention only — never a generation
            # NEWER than `current` (defense in depth for the multi-writer
            # protocol; under the commit lock `current` is always the max)
            if (
                re.fullmatch(r"v\d{6}", d)
                and int(d[1:]) < current - self.retain_generations
            ):
                shutil.rmtree(os.path.join(gen_root, d), ignore_errors=True)

    def table_versions(self, name: str) -> list[int]:
        """Sealed generation numbers currently on disk for an overwrite
        table, ascending (empty for in-place-layout tables)."""
        import re

        gen_root = self.path(name) + "__gen"
        if not os.path.isdir(gen_root):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(gen_root)
            if re.fullmatch(r"v\d{6}", d)
        )

    def read_version(
        self, spark: SparkSession, name: str, version: int
    ) -> DataFrame:
        """Time-travel read of a sealed generation — the stand-in for
        Delta's ``VERSION AS OF`` (the reference's tables get this from the
        Delta log; here each retained generation IS a full snapshot).  The
        window is bounded by ``retain_generations``; a vacuumed version
        raises with the available range."""
        gens = self.table_versions(name)
        if version not in gens:
            raise ValueError(
                f"read_version({name!r}, {version}): generation not on "
                f"disk (available: {gens}); it predates the "
                f"retain_generations={self.retain_generations} window"
            )
        return spark.read.parquet(self.generation_dir(name, version))

    def read_as_of(
        self, spark: SparkSession, name: str, timestamp: str
    ) -> DataFrame:
        """``TIMESTAMP AS OF`` time travel — the timestamp sibling of
        :meth:`read_version` (Delta resolves a timestamp against its log;
        here against each retained generation's ``_commit.json``).

        Resolution is Delta's rule: the LATEST retained generation whose
        ``committed_at`` is <= the requested timestamp (ties within the
        1-second commit-stamp granularity resolve to the highest
        generation number — the later commit).  A timestamp earlier than
        the oldest retained commit raises with the available range, as
        does one on a table with no stamped generations.

        ``timestamp`` is an ISO-8601 UTC string (``YYYY-MM-DDTHH:MM:SSZ``
        or any prefix-comparable form; a trailing ``Z`` is normalized).
        """
        ts = timestamp.strip().replace(" ", "T")
        if not ts.endswith("Z"):
            ts += "Z"
        candidates: list[tuple[str, int]] = []
        stamps: list[str] = []
        for h in self.history(name):
            at = h.get("committed_at")
            if at is None:
                continue
            stamps.append(at)
            if at <= ts:
                candidates.append((at, h["version"]))
        if not candidates:
            raise ValueError(
                f"read_as_of({name!r}, {timestamp!r}): no retained "
                f"generation committed at or before that time "
                f"(available commit stamps: {sorted(stamps)}); earlier "
                "history was vacuumed or never existed"
            )
        version = max(candidates)[1]
        return self.read_version(spark, name, version)

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        """Snapshot-isolated read of a materialized table: resolves the
        generation pointer ONCE, so the returned frame keeps reading its
        complete snapshot even if publishes happen while the plan runs
        (protected for ``retain_generations`` further publishes).

        This is the reader contract for pointer-layout tables — plans built
        directly on the un-resolved ``self.path(name)`` re-resolve the
        symlink on every file access, so a long-running plan can straddle a
        concurrent publish and hit vanished part files.  ``read()`` inside
        a pipeline run and the registered temp views already follow this
        contract; use this for ad-hoc external readers."""
        return spark.read.parquet(os.path.realpath(self.path(name)))

    def history(self, name: str) -> list[dict]:
        """Per-generation commit metadata for an overwrite table, oldest
        first — the DESCRIBE HISTORY stand-in (Delta reads this from its
        log; here each sealed generation carries a ``_commit.json`` written
        at seal time).  Generations sealed before this feature report
        ``operation: "unknown"`` from their on-disk footprint."""
        import json

        out = []
        gen_root = self.path(name) + "__gen"
        current = None
        if os.path.islink(self.path(name)):
            current = os.path.basename(os.readlink(self.path(name)))
        for v in self.table_versions(name):
            gen_dir = os.path.join(gen_root, f"v{v:06d}")
            meta_path = os.path.join(gen_dir, "_commit.json")
            if os.path.exists(meta_path):
                with open(meta_path) as fh:
                    meta = json.load(fh)
            else:
                meta = {"operation": "unknown"}
            n_files = n_bytes = 0
            for root, _dirs, files in os.walk(gen_dir):
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
            out.append(
                {
                    "version": v,
                    "is_current": f"v{v:06d}" == current,
                    "files": n_files,
                    "bytes": n_bytes,
                    **meta,
                }
            )
        return out

    def restore(self, spark: SparkSession, name: str, version: int) -> dict:
        """``RESTORE TABLE ... TO VERSION AS OF`` — roll an overwrite table
        back to a retained generation by publishing a NEW generation with the
        old content (Delta's RESTORE is likewise a new commit referencing the
        old files, so history moves forward and the restore itself can be
        time-traveled past).

        The restored generation HARD-LINKS every data file of the source
        generation — a restore is metadata-cost only, never a data copy —
        and is sealed with a ``restore`` commit record carrying the source
        version.  The same atomic stage→seal→publish protocol as every
        other writer applies: a crash at any seam leaves readers on a
        complete snapshot.
        """
        node = self.nodes[name]
        if node.extra.get("mode", "overwrite") != "overwrite":
            raise ValueError(
                f"restore({name!r}): requires the generation layout "
                "(mode='overwrite')"
            )
        gens = self.table_versions(name)
        if version not in gens:
            raise ValueError(
                f"restore({name!r}, {version}): generation not on disk "
                f"(available: {gens}); it predates the "
                f"retain_generations={self.retain_generations} window"
            )
        nxt = self._publish_linked_generation(
            name, version, "restore", restored_from=version
        )
        if name in self._done:
            path = self.path(name)
            df_new = spark.read.parquet(os.path.realpath(path))
            df_new.createOrReplaceTempView(f"{self.name}__{name}")
            self._done[name] = df_new
        return {"generation": nxt, "restored_from": version}

    @staticmethod
    def _link_tree(s: str, d: str) -> None:
        """Hard-link every data file of a sealed generation into ``d``
        (``_commit.json`` excluded — the destination seals its own)."""
        os.makedirs(d, exist_ok=True)
        for entry in os.listdir(s):
            sp, dp = os.path.join(s, entry), os.path.join(d, entry)
            if os.path.isdir(sp):
                Pipeline._link_tree(sp, dp)
            elif entry != "_commit.json":  # gets a fresh record
                os.link(sp, dp)

    def _publish_linked_generation(
        self, name: str, src_version: int, operation: str, **extra
    ) -> int:
        """Publish a NEW generation whose data files are hard links of
        ``src_version``'s (metadata-cost only), sealed with a fresh commit
        record.  Shared by ``restore`` and the IVM no-op version stamp
        (plans/ivm.py) — any 'same data, new commit metadata' publish."""
        path = self.path(name)
        gen_root, _ = self._gen_prepare(path)
        src = os.path.join(gen_root, f"v{src_version:06d}")

        with self._staging(gen_root) as staged:
            self._link_tree(src, staged)
            _fault_injection("post_stage")
            self._seal_commit_meta(staged, operation, **extra)
            return self._seal_and_publish(path, gen_root, staged)

    def clone_table(
        self,
        src: str,
        dst: str,
        version: int | None = None,
        partition_by: Sequence[str] = (),
    ) -> dict:
        """SHALLOW CLONE: publish ``dst`` as a generation whose data files
        are hard links of ``src``'s committed generation — zero data copy,
        metadata cost only (Delta's ``CREATE TABLE ... SHALLOW CLONE``;
        the reference's dev/test-from-prod workflow on Delta tables).

        ``version`` clones a retained historical generation (time-travel
        clone); default is the live pointer.  The clone is an independent
        table afterwards: it evolves, compacts, and vacuums on its own,
        and hard links mean neither table's retention pass can corrupt the
        other — unlink only drops a reference, never shared bytes.  The
        clone's commit record carries ``clone_source``/
        ``clone_source_version`` provenance for lineage audits.
        """
        if src not in self.nodes:
            raise KeyError(f"clone_table: unknown source table {src!r}")
        gens = self.table_versions(src)
        if not gens:
            raise ValueError(
                f"clone_table({src!r}): source has no committed generations"
            )
        if version is None:
            version = self.live_version(src)
        if version not in gens:
            raise ValueError(
                f"clone_table({src!r}, version={version}): generation not "
                f"on disk (available: {gens}); it predates the "
                f"retain_generations={self.retain_generations} window"
            )
        # the clone's on-disk layout IS the source generation's (hard
        # links) — its declared partition_by must match, or a later
        # regular overwrite of the clone would silently change layout
        # (ADVICE r8).  Default to the source's declaration; raise on an
        # explicit conflict rather than ignore it.
        src_layout = tuple(self.nodes[src].partition_by)
        if partition_by and tuple(partition_by) != src_layout:
            raise ValueError(
                f"clone_table({src!r} -> {dst!r}): partition_by="
                f"{tuple(partition_by)} conflicts with the source's hive "
                f"layout {src_layout} — a shallow clone hard-links the "
                "source's files, so the clone's layout is the source's; "
                "re-layout with a regular partitioned write instead"
            )
        if dst not in self.nodes:

            def _node(pl):  # materialized only through clone_table
                raise RuntimeError(
                    f"table {dst!r} is a clone — rewrite it via clone_table "
                    "or regular writers, not run()"
                )

            self.table(name=dst, partition_by=src_layout)(_node)
            self.nodes[dst].extra["external_writer"] = True
        elif tuple(self.nodes[dst].partition_by) != src_layout:
            raise ValueError(
                f"clone_table({src!r} -> {dst!r}): existing destination "
                f"declares partition_by={tuple(self.nodes[dst].partition_by)}"
                f" but the cloned generation's layout is {src_layout}"
            )
        src_gen = self.generation_dir(src, version)
        dst_path = self.path(dst)
        gen_root, _ = self._gen_prepare(dst_path)
        with self._staging(gen_root) as staged:
            self._link_tree(src_gen, staged)
            _fault_injection("post_stage")
            self._seal_commit_meta(
                staged,
                "clone",
                clone_source=src,
                clone_source_version=version,
            )
            new_gen = self._seal_and_publish(dst_path, gen_root, staged)
        return {
            "generation": new_gen,
            "clone_source": src,
            "clone_source_version": version,
        }

    def table_changes(
        self,
        spark: SparkSession,
        name: str,
        from_version: int,
        to_version: int,
        keys: Sequence[str],
        check_unique: bool = True,
    ) -> DataFrame:
        """Row-level change feed between two retained generations — the
        stand-in for Delta's ``table_changes(...)`` CDF read (the reference
        consumes CDF implicitly through DLT's apply_changes flows).  Delta
        derives changes from per-commit file actions; without a transaction
        log the diff is computed relationally: a key-keyed full outer join
        of the two snapshots, emitting

        - ``insert`` rows (key only in ``to_version``),
        - ``delete`` rows (key only in ``from_version``, with the OLD image),
        - ``update_preimage`` + ``update_postimage`` row PAIRS for keys whose
          non-key columns differ (null-safe comparison).

        Columns present in only one generation (merge schema evolution)
        read NULL on the other side.  ``keys`` must uniquely identify rows
        in both snapshots (checked with one aggregate per side unless
        ``check_unique=False``); change feeds over non-keyed tables are not
        expressible relationally.  Scale shape: one shuffle per side on the
        key columns; identical rows are dropped before the union, so the
        output is proportional to the CHANGE volume, not the table.
        """
        from functools import reduce

        from pyspark.sql import functions as F

        keys = list(keys)
        old = self.read_version(spark, name, from_version)
        new = self.read_version(spark, name, to_version)
        all_cols = list(old.columns) + [
            c for c in new.columns if c not in old.columns
        ]
        if not set(keys) <= set(all_cols):
            raise ValueError(f"table_changes: keys {keys} not in {all_cols}")

        def widen(df: DataFrame) -> DataFrame:
            missing = [c for c in all_cols if c not in df.columns]
            for c in missing:
                other = new if c in new.columns else old
                dt = dict(other.dtypes)[c]
                df = df.withColumn(c, F.lit(None).cast(dt))
            return df.select(*all_cols)

        old, new = widen(old), widen(new)
        if check_unique:
            for side, df in (("from", old), ("to", new)):
                if not (
                    df.groupBy(*keys)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .where(F.col("__n") > 1)
                    .isEmpty()
                ):
                    raise ValueError(
                        f"table_changes({name!r}): keys {keys} are not "
                        f"unique in the {side}-version snapshot — the "
                        "relational change feed is undefined"
                    )
        o = old.select(F.struct(*all_cols).alias("o"))
        n = new.select(F.struct(*all_cols).alias("n"))
        joined = o.join(
            n,
            reduce(
                lambda a, b: a & b,
                [o["o"][k].eqNullSafe(n["n"][k]) for k in keys],
            ),
            "full_outer",
        )
        value_cols = [c for c in all_cols if c not in keys]
        changed = (
            reduce(
                lambda a, b: a | b,
                [
                    ~F.col("o")[c].eqNullSafe(F.col("n")[c])
                    for c in value_cols
                ],
                F.lit(False),
            )
            if value_cols
            else F.lit(False)
        )

        tagged = joined.withColumn(
            "__emit",
            F.when(F.col("o").isNull(), F.lit("n:insert"))
            .when(F.col("n").isNull(), F.lit("o:delete"))
            .when(changed, F.lit("update"))
            .otherwise(F.lit("same")),
        )
        pre = tagged.where(F.col("__emit") == "update").select(
            *[F.col("o")[c].alias(c) for c in all_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = tagged.where(F.col("__emit") == "update").select(
            *[F.col("n")[c].alias(c) for c in all_cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        ins = tagged.where(F.col("__emit") == "n:insert").select(
            *[F.col("n")[c].alias(c) for c in all_cols],
            F.lit("insert").alias("_change_type"),
        )
        del_ = tagged.where(F.col("__emit") == "o:delete").select(
            *[F.col("o")[c].alias(c) for c in all_cols],
            F.lit("delete").alias("_change_type"),
        )
        return (
            ins.unionByName(del_)
            .unionByName(pre)
            .unionByName(post)
            .withColumn("_from_version", F.lit(from_version).cast("int"))
            .withColumn("_to_version", F.lit(to_version).cast("int"))
        )

    def _seal_commit_meta(
        self, staged: str, operation: str, **extra
    ) -> None:
        """Stamp the staged generation with commit metadata BEFORE the seal
        rename, so a sealed generation always carries its record."""
        import json
        import time

        with open(os.path.join(staged, "_commit.json"), "w") as fh:
            json.dump(
                {
                    "operation": operation,
                    "pipeline": self.name,
                    "committed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    **extra,
                },
                fh,
            )

    def _write_overwrite_atomic(
        self, node: Node, df: DataFrame, commit_extra: dict | None = None
    ) -> None:
        """Two-phase-commit overwrite: stage the full write into a fresh
        generation dir, seal it with one rename, then atomically swap the
        table pointer (a symlink) onto it.

        This is the parquet stand-in for Delta's ACID commit (the reference
        leans on Delta table semantics,
        zetadex-transactions-helius-pipeline.py:286-291) — delta-spark is
        not installable in this environment (re-checked r7), so atomicity
        comes from the filesystem: readers of ``self.path(name)`` resolve a
        symlink that only ever points at a COMPLETE generation.  Crash
        points (each exercised by tests/test_pipeline_acid.py):

        - during/after staged write → debris healed next run; live untouched
        - after generation seal, before pointer swap → live untouched;
          healed (re-pointed) next run
        - after pointer swap → new data fully visible

        Append / dynamic-partition-overwrite / streaming nodes keep their
        in-place layouts: their idempotence comes from batch-id partition
        replacement and checkpointed exactly-once sinks instead."""
        path = self.path(node.name)
        self._check_schema_mode(node, df)
        extra = dict(commit_extra or {})
        if (node.extra or {}).get("schema_mode", "none") != "none":
            # the governed schema is the one the WRITER declared — file
            # re-inference fails on empty generations and value-types hive
            # partition dirs (see _check_schema_mode)
            extra["schema"] = {
                f.name: f.dataType.simpleString() for f in df.schema.fields
            }
        gen_root, _ = self._gen_prepare(path)
        with self._staging(gen_root) as staged:
            writer = df.write.mode("overwrite")
            if node.partition_by:
                writer = writer.partitionBy(*node.partition_by)
            writer.parquet(staged)
            _fault_injection("post_stage")
            self._seal_commit_meta(staged, "overwrite", **extra)
            self._seal_and_publish(path, gen_root, staged)

    def _check_schema_mode(self, node: Node, df: DataFrame) -> None:
        """Delta-style schema governance on publish (schema_mode=):

        - ``enforce``: the write's (name → type) set must EQUAL the live
          generation's — a silently dropped, added, or retyped column is
          an upstream bug, not an evolution (Delta's default enforcement);
        - ``merge``: every existing column must survive with its type; new
          columns may be ADDED (Delta's mergeSchema);
        - ``none`` (default): current behavior, the write defines the
          schema.

        Comparison ignores nullability (writers legitimately tighten it)
        and column order (parquet reads are by name)."""
        mode = node.extra.get("schema_mode", "none") if node.extra else "none"
        if mode == "none":
            return
        path = self.path(node.name)
        if not os.path.lexists(path):
            return  # first publish defines the schema
        # compare against the schema RECORDED at the previous publish (the
        # commit record), not a re-inference from files: file inference
        # fails on a legitimately empty (0-part-file) generation and types
        # hive partition directories by VALUE (a string band '1' reads
        # back as int), both of which would spuriously reject identical
        # rewrites.  Generations sealed before this feature lack the
        # record → that publish defines the schema going forward.
        prev = self._live_commit_meta(node.name).get("schema")
        if prev is None:
            return
        new = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        missing = sorted(set(prev) - set(new))
        added = sorted(set(new) - set(prev))
        retyped = sorted(
            c for c in set(prev) & set(new) if prev[c] != new[c]
        )
        problems = []
        if missing:
            problems.append(f"drops columns {missing}")
        if retyped:
            problems.append(
                "retypes "
                + ", ".join(f"{c}: {prev[c]} -> {new[c]}" for c in retyped)
            )
        if added and mode == "enforce":
            problems.append(f"adds columns {added}")
        if problems:
            raise ValueError(
                f"schema_mode={mode!r} rejected the write to "
                f"{node.name!r}: " + "; ".join(problems) + " — pass "
                "schema_mode='merge' for additive evolution, or rewrite "
                "the table deliberately with schema_mode='none'"
            )

    def _live_commit_meta(self, name: str) -> dict:
        """Commit record of the generation the live pointer serves
        (empty dict when unreadable)."""
        try:
            ver = self.live_version(name)
        except ValueError:
            return {}
        return self.commit_meta_at(name, ver)

    def generation_dir(self, name: str, version: int) -> str:
        """Directory of one sealed generation of an overwrite table — the
        target the live pointer resolves to while it serves ``version``."""
        return os.path.join(self.path(name) + "__gen", f"v{version:06d}")

    def commit_meta_at(self, name: str, version: int) -> dict:
        """Commit record of an explicit generation (empty dict when the
        generation has no readable ``_commit.json``).  This is the ONE
        place the commit-record path layout is known; ivm.py and
        result_cache.py delegate here (ADVICE r8: three drift-prone
        copies of the generation-resolution logic)."""
        import json as _json

        p = os.path.join(self.generation_dir(name, version), "_commit.json")
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return _json.load(fh)

    def live_version(self, name: str) -> int:
        """Generation the live pointer serves (vNNNNNN → int), with the
        corrupt/missing-pointer guard (an unresolved pointer realpaths to
        the table path itself and int('events') is opaque)."""
        import re

        p = self.path(name)
        if not os.path.lexists(p):
            raise ValueError(
                f"table {name!r} is not materialized — no committed "
                f"pointer at {p}"
            )
        base = os.path.basename(os.path.realpath(p))
        if not re.fullmatch(r"v\d{6}", base):
            raise ValueError(
                f"table {name!r} pointer resolves to {base!r}, not a "
                "committed vNNNNNN generation — never published or the "
                "pointer is corrupt"
            )
        return int(base[1:])

    def _apply_expectations(self, node: Node, df: DataFrame) -> DataFrame:
        """Evaluate data-quality expectations (dlt.expect* parity).

        One aggregate pass counts all violations; ``drop`` filters failing
        rows, ``fail`` raises if any violation exists, ``warn`` records only.
        """
        from pyspark.sql import functions as F

        counts = df.agg(
            *[
                F.count(F.when(~F.expr(cond), F.lit(1))).alias(name)
                for name, (cond, _action) in node.expectations.items()
            ]
        ).first()
        metrics = {}
        for name, (cond, action) in node.expectations.items():
            failed = counts[name]
            metrics[name] = {"failed": failed, "action": action, "condition": cond}
            if action == "fail" and failed:
                raise ValueError(
                    f"expectation {name!r} failed for {failed} rows on node "
                    f"{node.name!r}: {cond}"
                )
            if action == "drop":
                df = df.filter(F.expr(cond))
        self.expectation_metrics[node.name] = metrics
        return df

    def _materialize_incremental(self, node: Node) -> DataFrame:
        """Run an incremental node via Structured Streaming (availableNow):
        only new upstream files since the last run are processed, state is
        checkpointed under ``{base}/_checkpoints/{name}``.

        Expectations run here too (ADVICE r1): ``drop`` filters inside the
        streaming plan; ``warn``/``fail`` count violations on the materialized
        output after the update (streaming plans can't side-count without a
        second sink).  T9 is enforced as code, not convention: a window
        function inside an incremental plan fails fast with an engine error
        instead of Spark's obscure unsupported-operation trace."""
        import re

        from pyspark.sql import functions as F

        spark = self._spark
        # save/restore: materializing an incremental upstream from inside
        # another incremental node's fn must not clear the caller's context
        t9_error = ValueError(
            f"node {node.name!r} is incremental=True but its plan contains "
            "window functions (rank/lag/rolling frames). Window functions "
            "require a full partition view and cannot run incrementally — "
            "declare the node with incremental=False (T9: the reference "
            "computes rolling/rank tables as batch gold for the same reason)"
        )
        prev_ctx = self._streaming_ctx
        self._streaming_ctx = True
        try:
            # T9: window functions ⇒ batch node (SURVEY §2.9).  Spark's own
            # analyzer rejects some shapes eagerly (NON_TIME_WINDOW_NOT_
            # SUPPORTED_IN_STREAMING) — translate that to the engine rule;
            # for shapes analysis lets through, match the `Window` logical
            # OPERATOR (event-time groupBy windows are a `window` expression
            # inside Aggregate and stay legal).
            try:
                stream_df = node.fn(self)
                plan = stream_df._jdf.queryExecution().analyzed().toString()
            except Exception as e:  # noqa: BLE001 — re-raised unless T9
                if "NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING" in str(e):
                    raise t9_error from e
                raise
            if re.search(r"(?m)^[\s:+\-~]*Window\b", plan):
                raise t9_error
        finally:
            self._streaming_ctx = prev_ctx
        drops = {
            name: cond
            for name, (cond, action) in node.expectations.items()
            if action == "drop"
        }
        for cond in drops.values():
            stream_df = stream_df.filter(F.expr(cond))
        ckpt = os.path.join(self.base_path, "_checkpoints", node.name)
        writer = (
            stream_df.writeStream.format("parquet")
            .option("path", self.path(node.name))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
        )
        if node.partition_by:
            writer = writer.partitionBy(*node.partition_by)
        writer.start().awaitTermination()
        df = spark.read.schema(stream_df.schema).parquet(self.path(node.name))
        if node.expectations:
            counts = df.agg(
                *[
                    F.count(F.when(~F.expr(cond), F.lit(1))).alias(name)
                    for name, (cond, _a) in node.expectations.items()
                ]
            ).first()
            metrics = {}
            for name, (cond, action) in node.expectations.items():
                failed = counts[name]
                if action == "drop":
                    # Drops were enforced in-stream above, so the
                    # post-materialization count is always 0 here.  Record
                    # that honestly instead of a misleading failed=0 (the
                    # batch path counts before dropping; streaming cannot
                    # without a second pass over the un-filtered stream).
                    metrics[name] = {
                        "failed": None, "action": action, "condition": cond,
                        "note": "enforced in-stream; not counted on "
                                "incremental nodes",
                    }
                    continue
                metrics[name] = {
                    "failed": failed, "action": action, "condition": cond,
                }
                if action == "fail" and failed:
                    raise ValueError(
                        f"expectation {name!r} failed for {failed} rows on "
                        f"incremental node {node.name!r}: {cond}. NOTE: the "
                        f"streaming write and checkpoint already committed, so "
                        f"the violating rows are durably published at "
                        f"{self.path(node.name)!r}; to reprocess, delete that "
                        f"path AND the checkpoint dir "
                        f"{os.path.join(self.base_path, '_checkpoints', node.name)!r}, "
                        f"then rerun (the reference's expect_or_fail fails "
                        f"before publish; parquet sinks cannot)."
                    )
            self.expectation_metrics[node.name] = metrics
        df.createOrReplaceTempView(f"{self.name}__{node.name}")
        self._done[node.name] = df
        return df
