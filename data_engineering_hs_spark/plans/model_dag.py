"""dbt-style model DAG runner (SURVEY.md §2.1 S28-S29, §3.2).

The reference's magic_shop dbt project compiles source()/ref() Jinja
into a DAG raw → stg_* → {dim,fct} and materializes each node as a
table/view/incremental in ClickHouse, then runs schema tests
(magic_shop/models/*, dbt_project.yml:30-36).

Engine equivalent: a registry of named model functions
(resolver: name -> DataFrame). Each model declares deps by asking the
runner for them (`ctx.ref(name)`); the runner toposorts, executes
each model once, registers it as a temp view (S28 temp-table staging
analog), optionally materializes to parquet, and runs the attached
quality checks (quality.assertions), so a failing check fails `run()`
the way `dbt build` stops on a failing test.

Incremental materialization mirrors fct_orders.sql:9-32
(delete+insert on unique_key within a lookback window): the runner
exposes `ctx.is_incremental`, the model applies its own lookback
predicate (see magic_shop.fct_orders's
`order_ts >= now - INTERVAL 30 DAYS`), and
`_materialize_incremental` implements delete+insert as key-dedup
partition overwrite — only touched partitions rewrite (dynamic
partitionOverwriteMode), which is the scalable MERGE emulation.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_hs_spark.sources.parquet import remove_partition_dirs


_MATERIALIZATIONS = ("view", "table", "incremental")


@dataclass
class Model:
    name: str
    fn: Callable[["ModelContext"], DataFrame]
    materialization: str = "view"  # view | table | incremental
    unique_key: str | None = None
    partition_by: str | None = None  # required for incremental
    checks: list[Callable[[DataFrame], None]] = field(default_factory=list)


class ModelContext:
    """What a model function sees: ref()/source() + incremental state."""

    def __init__(self, runner: "ModelRunner", model: Model):
        self._runner = runner
        self._model = model
        self.spark = runner.spark

    def ref(self, name: str) -> DataFrame:
        return self._runner._resolve(name)

    def source(self, name: str) -> DataFrame:
        return self._runner.sources[name]

    @property
    def is_incremental(self) -> bool:
        return (
            self._model.materialization == "incremental"
            and self._runner._target_exists(self._model)
        )


class ModelRunner:
    def __init__(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame],
        warehouse_dir: str | None = None,
    ):
        from data_engineering_hs_spark.sources.parquet import _local_path

        if warehouse_dir and _local_path(warehouse_dir) != warehouse_dir:
            # the materialization probes are driver-local os.path; on
            # a remote URI they report every target as absent, which
            # silently degrades incremental models to the FIRST-RUN
            # path — a full overwrite with just the increment, wiping
            # the history the delete+insert exists to preserve. Loud
            # beats that; remote warehouses need a Hadoop-FS probe or
            # a transactional table format.
            raise ValueError(
                f"ModelRunner requires a driver-local warehouse_dir "
                f"(got {warehouse_dir!r}): target-exists probes are "
                "os.path-based, and a remote URI would silently "
                "rebuild incremental models from scratch each run"
            )
        self.spark = spark
        self.sources = sources
        self.warehouse_dir = warehouse_dir
        self.models: dict[str, Model] = {}
        self._built: dict[str, DataFrame] = {}
        self._building: set[str] = set()

    # -- registration ------------------------------------------------------

    def model(
        self,
        name: str,
        materialization: str = "view",
        unique_key: str | None = None,
        partition_by: str | None = None,
        checks: Sequence[Callable[[DataFrame], None]] = (),
    ):
        """Decorator: @runner.model('stg_orders', materialization='table')."""

        if materialization not in _MATERIALIZATIONS:
            # any other spelling would build as a view and write
            # nothing to the warehouse, silently
            raise ValueError(
                f"model {name!r}: materialization must be one of "
                f"{', '.join(_MATERIALIZATIONS)} (got {materialization!r})"
            )
        if materialization == "incremental" and not (unique_key and partition_by):
            raise ValueError(
                f"incremental model {name!r} needs unique_key and "
                f"partition_by (got unique_key={unique_key!r}, "
                f"partition_by={partition_by!r}): delete+insert keys on "
                "the one and overwrites partitions of the other"
            )

        def deco(fn: Callable[[ModelContext], DataFrame]):
            if name in self.models:
                # dbt errors on duplicate model names too: a copy-paste
                # slip would otherwise silently REPLACE the first
                # definition (and drop its checks) with no trace
                raise ValueError(
                    f"model {name!r} is already registered; model names "
                    "must be unique within a runner"
                )
            self.models[name] = Model(
                name, fn, materialization, unique_key, partition_by, list(checks)
            )
            return fn

        return deco

    # -- resolution (ref() pulls deps; cycle-safe) -------------------------

    def _resolve(self, name: str) -> DataFrame:
        if name in self._built:
            return self._built[name]
        if name in self._building:
            raise ValueError(f"ref cycle at {name}")
        if name not in self.models:
            raise KeyError(f"unknown model {name}")
        self._building.add(name)
        try:
            df = self._run_one(self.models[name])
        finally:
            self._building.discard(name)
        self._built[name] = df
        return df

    def _target_path(self, m: Model) -> str:
        if not self.warehouse_dir:
            raise ValueError(f"model {m.name!r}: materializing needs a warehouse_dir")
        return os.path.join(self.warehouse_dir, m.name)

    def _target_exists(self, m: Model) -> bool:
        return bool(self.warehouse_dir) and os.path.exists(self._target_path(m))

    def _run_one(self, m: Model) -> DataFrame:
        ctx = ModelContext(self, m)
        df = m.fn(ctx)
        if m.materialization == "table" and self.warehouse_dir:
            df.write.mode("overwrite").parquet(self._target_path(m))
            df = self.spark.read.parquet(self._target_path(m))
        elif m.materialization == "incremental" and self.warehouse_dir:
            df = self._materialize_incremental(m, df)
        df.createOrReplaceTempView(m.name)
        for check in m.checks:
            check(df)
        return df

    def _materialize_incremental(self, m: Model, fresh: DataFrame) -> DataFrame:
        """delete+insert on unique_key (fct_orders incremental_strategy):
        partitions containing refreshed keys are rewritten with
        old-rows-minus-refreshed-keys ∪ fresh rows; untouched
        partitions never rewrite (dynamic overwrite).

        CRASH CONTRACT: the dynamic overwrite and the emptied-
        partition removal below are two steps; a crash between them
        leaves moved keys present in BOTH their old (ghost) and new
        partitions. That state is healed by RERUNNING THE SAME
        INCREMENT (the ghost partition re-enters `touched` via
        old_parts and `emptied` removes it) — the run raised, so the
        operator reruns it, same as any failed dbt run. Do NOT skip
        to the next increment after a failure: one that no longer
        carries the moved keys leaves the ghost rows in place
        permanently."""
        if not (m.unique_key and m.partition_by):
            raise ValueError(
                f"incremental model {m.name!r} needs unique_key and partition_by"
            )
        path = self._target_path(m)
        if not os.path.exists(path):
            fresh.write.partitionBy(m.partition_by).mode("overwrite").parquet(path)
            return self.spark.read.parquet(path)
        existing = self.spark.read.parquet(path)
        # `fresh` is the model's whole plan (typically a multi-source
        # join pipeline) and is referenced by old_parts, touched, the
        # kept anti-join, the emptied-partition probe AND the final
        # write — without a checkpoint it re-evaluates per reference
        # across the two jobs below. LAZY: materializes at the first
        # action (the emptied collect), reused by the write.
        fresh = fresh.localCheckpoint(eager=False)
        from data_engineering_hs_spark.quality.profiling import schema_drift

        drift = schema_drift(existing.schema, fresh.schema)
        if drift:
            # mergeSchema would silently absorb this; an incremental
            # model's contract is the EXISTING table — surface drift
            # as a hard failure with the structural diff attached.
            raise ValueError(f"schema drift on incremental {m.name}: {drift}")
        # Touched partitions = partitions the fresh rows land in PLUS
        # partitions where refreshed keys currently live — a key whose
        # partition value changed (e.g. corrected order_ts) must be
        # deleted from its old partition, not just inserted anew.
        old_parts = (
            existing.join(
                fresh.select(m.unique_key).distinct(), m.unique_key, "left_semi"
            )
            .select(m.partition_by)
            .distinct()
        )
        # All partition-value joins below are NULL-SAFE: the NULL
        # partition (__HIVE_DEFAULT_PARTITION__ on disk) is a real
        # partition, and plain equi-joins never match NULL — a kept
        # semi-join would drop its untouched rows on rewrite, and the
        # emptied anti-join would list it as emptied even when the
        # rewrite just repopulated it (deleting fresh data).
        touched = (
            fresh.select(m.partition_by)
            .distinct()
            .union(old_parts)
            .distinct()
            .select(F.col(m.partition_by).alias("__touched_part"))
        )
        part_match = F.col(m.partition_by).eqNullSafe(F.col("__touched_part"))
        kept = (
            existing.join(F.broadcast(touched), part_match, "left_semi")
            .join(fresh.select(m.unique_key), m.unique_key, "left_anti")
        )
        out = kept.unionByName(fresh.select(*kept.columns))
        # Dynamic overwrite rewrites only partitions PRESENT in the
        # output: a touched partition whose rows ALL moved elsewhere
        # (e.g. the only order in a month got its ts corrected) has
        # zero output rows, so the stale directory would survive as a
        # ghost copy of the moved keys. Compute those emptied
        # partitions BEFORE the write (touched is increment-sized, so
        # the collect is driver-safe) and delete them after.
        emptied = [
            r[0]
            for r in touched.join(
                out.select(m.partition_by).distinct(),
                part_match,
                "left_anti",
            ).collect()
        ]
        # per-write option, NOT spark.conf.set: a session-global flip
        # would silently change every later partitioned overwrite
        out.write.partitionBy(m.partition_by).mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(path)
        # resolve the ON-DISK names (percent-escaped values, NULL as
        # __HIVE_DEFAULT_PARTITION__) — a hand-built f"{col}={v}"
        # missed exactly those, leaving ghost partitions behind
        remove_partition_dirs(self.spark, path, m.partition_by, emptied)
        return self.spark.read.parquet(path)

    # -- runs --------------------------------------------------------------

    def run(self, select: str | Sequence[str] | None = None) -> dict[str, DataFrame]:
        """`dbt run`: build the selected models (default: all) in
        dependency order (ref() recursion is the toposort), gating each
        on its checks. An unknown name raises before any model
        builds."""
        self._built.clear()
        names = [select] if isinstance(select, str) else list(select or self.models)
        for name in names:
            if name not in self.models:
                raise KeyError(f"unknown model {name}")
        return {n: self._resolve(n) for n in self.models if n in names}
