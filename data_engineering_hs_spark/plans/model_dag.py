"""dbt-style model DAG runner (SURVEY.md §2.1 S28-S29, §3.2).

The reference's magic_shop dbt project compiles source()/ref() Jinja
into a DAG raw → stg_* → {dim,fct} and materializes each node as a
table/view/incremental in ClickHouse, then runs schema tests
(magic_shop/models/*, dbt_project.yml:30-36).

Engine equivalent: a registry of named model functions
(resolver: name -> DataFrame). Each model declares deps by asking the
runner for them (`ctx.ref(name)`); the runner toposorts, executes
each model once, registers it as a temp view (S28 temp-table staging
analog), optionally materializes to parquet, and runs attached
quality checks (quality.assertions) like `dbt test`.

Incremental materialization mirrors fct_orders.sql:9-32
(delete+insert on unique_key within a lookback window): the runner
exposes `ctx.is_incremental` / `ctx.existing()`, the model applies
its own lookback predicate (see magic_shop.fct_orders's
`order_ts >= now - INTERVAL 30 DAYS`), and
`materialize_incremental` implements delete+insert as key-dedup
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

    def existing(self) -> DataFrame:
        return self.spark.read.parquet(self._runner._target_path(self._model))


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
        assert self.warehouse_dir, "warehouse_dir required for table models"
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
        assert m.unique_key and m.partition_by, "incremental needs key+partition"
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

    # -- graph / selectors -------------------------------------------------

    def graph(self) -> dict[str, set[str]]:
        """model -> direct ref() parents, discovered by a recording
        dry-run. Model fns only BUILD DataFrames (lazy plans — no
        Spark actions), so executing each once with a recording
        context is cheap and needs no static dep declarations —
        the same way dbt compiles Jinja to learn the graph."""
        parents: dict[str, set[str]] = {name: set() for name in self.models}
        built: dict[str, DataFrame] = {}
        building: set[str] = set()
        runner = self

        class _Recorder(ModelContext):
            def __init__(self, model: Model):
                super().__init__(runner, model)
                self._name = model.name

            def ref(self, name: str) -> DataFrame:  # noqa: D102
                parents[self._name].add(name)
                return dry(name)

        def dry(name: str) -> DataFrame:
            if name in built:
                return built[name]
            if name in building:
                raise ValueError(f"ref cycle at {name}")
            if name not in self.models:
                raise KeyError(f"unknown model {name}")
            building.add(name)
            try:
                df = self.models[name].fn(_Recorder(self.models[name]))
            finally:
                building.discard(name)
            built[name] = df
            return df

        for name in self.models:
            dry(name)
        return parents

    def select_models(self, selectors: str | Sequence[str]) -> list[str]:
        """dbt-style selection: `name` (the model), `+name` (model and
        all ancestors), `name+` (model and all descendants), `+name+`
        (both). Returns registration order, which run() resolves
        dependency-first via ref() recursion anyway."""
        if isinstance(selectors, str):
            selectors = [selectors]
        # Plain names need no graph — only '+' selectors traverse it,
        # so one unbuildable model elsewhere can't break a selective
        # run of an unrelated healthy model.
        if not any("+" in sel for sel in selectors):
            for sel in selectors:
                if sel not in self.models:
                    raise KeyError(f"unknown model {sel}")
            return [n for n in self.models if n in set(selectors)]
        parents = self.graph()
        children: dict[str, set[str]] = {n: set() for n in self.models}
        for child, ps in parents.items():
            for p in ps:
                children[p].add(child)

        def closure(start: str, edges: dict[str, set[str]]) -> set[str]:
            out, stack = set(), [start]
            while stack:
                n = stack.pop()
                if n in out:
                    continue
                out.add(n)
                stack.extend(edges[n])
            return out

        chosen: set[str] = set()
        for sel in selectors:
            up = sel.startswith("+")
            down = sel.endswith("+")
            name = sel.strip("+")
            if name not in self.models:
                raise KeyError(f"unknown model {name}")
            chosen.add(name)
            if up:
                chosen |= closure(name, parents)
            if down:
                chosen |= closure(name, children)
        return [n for n in self.models if n in chosen]

    def lineage(self) -> str:
        """`dbt docs`-style lineage dump: one line per model with
        materialization, direct parents, and check count."""
        parents = self.graph()
        lines = []
        for name, m in self.models.items():
            deps = ", ".join(sorted(parents[name])) or "(sources only)"
            extras = ""
            if m.materialization == "incremental":
                extras = f" key={m.unique_key} partition={m.partition_by}"
            lines.append(
                f"{name} [{m.materialization}{extras}] <- {deps}"
                + (f" ({len(m.checks)} checks)" if m.checks else "")
            )
        return "\n".join(lines)

    # -- runs --------------------------------------------------------------

    def run(self, select: str | Sequence[str] | None = None) -> dict[str, DataFrame]:
        """`dbt run`: build selected models (default: all) in dependency
        order (ref() recursion is the toposort). `select` accepts
        dbt-style selectors (`+name`, `name+`) or plain names."""
        self._built.clear()
        names = self.select_models(select) if select else list(self.models)
        out = {}
        for name in names:
            out[name] = self._resolve(name)
        return out

    def test(self) -> list[str]:
        """`dbt test`: re-run every built model's checks, collecting
        failure messages instead of raising. Deliberately a SECOND
        pass over the current warehouse state (dbt's own `run` then
        `test` shape): run() already gates each materialization —
        raising on the first failing check — so what test() adds is
        the post-hoc audit that catches external mutation of
        materialized tables between run and test (the built frames of
        table/incremental models re-read their parquet on use)."""
        failures = []
        for name, m in self.models.items():
            df = self._built.get(name)
            if df is None:
                continue
            for check in m.checks:
                try:
                    check(df)
                except AssertionError as e:
                    failures.append(f"{name}: {e}")
        return failures

    def publish_run(self, root: str, select=None) -> int:
        """Blue/green release of a DAG run: build the selection, write
        EVERY output as one snapshot version, flip the marker
        atomically (sources.publish protocol). Readers never see a
        half-updated set of models — the multi-table consistency dbt
        leaves to warehouse transactions.

        A selector rebuilds only the selected models, but the
        committed snapshot must not SHRINK: tables published before
        and not selected now are carried forward from the current
        version into the new one, so `read_published` keeps resolving
        them. (Carrying forward re-writes the data — versions share
        nothing by design; a manifest layer would turn this into a
        metadata-only reference at lakehouse scale.)"""
        from data_engineering_hs_spark.sources.publish import (
            current_version,
            publish,
        )

        out = dict(self.run(select))
        if select is not None:
            prev = current_version(root)
            if prev is not None:
                prev_dir = os.path.join(root, f"v={prev}")
                for t in sorted(os.listdir(prev_dir)):
                    if t not in out and os.path.isdir(
                        os.path.join(prev_dir, t)
                    ):
                        out[t] = self.spark.read.parquet(
                            os.path.join(prev_dir, t)
                        )
        return publish(out, root)

    # -- declarative config / docs ----------------------------------------

    def apply_schema_config(self, config) -> int:
        """Attach schema.yml-declared column tests to registered models.

        `config` is a parsed dbt schema.yml dict or a path to one
        (magic_shop/models/schema.yml: models[].columns[].tests with
        not_null / unique / accepted_values{values}; the starter
        project's `data_tests:` spelling is accepted too). Returns the
        number of checks attached. Unknown models raise — a typo'd
        schema.yml silently testing nothing is the dbt failure mode
        this avoids; unknown test names raise for the same reason.
        """
        from data_engineering_hs_spark.quality.assertions import (
            expect_accepted_values,
            expect_not_null,
            expect_unique,
        )

        if isinstance(config, (str, os.PathLike)):
            import yaml

            with open(config) as f:
                config = yaml.safe_load(f)

        def make_check(test, model: str, col: str):
            if test == "not_null":
                return lambda df: expect_not_null(df, col, table=model)
            if test == "unique":
                return lambda df: expect_unique(df, col, table=model)
            if isinstance(test, dict) and "accepted_values" in test:
                vals = list(test["accepted_values"]["values"])
                return lambda df: expect_accepted_values(
                    df, col, vals, table=model
                )
            if isinstance(test, dict) and "freshness" in test:
                # dbt source-freshness parity: explicit as_of keeps
                # the check reproducible per run
                cfg = test["freshness"]

                def check_fresh(df, _col=col, _model=model, _cfg=cfg):
                    from data_engineering_hs_spark.quality.profiling import (
                        freshness,
                    )

                    row = freshness(
                        df,
                        _col,
                        as_of=_cfg["as_of"],
                        warn_after_hours=int(_cfg.get("warn_after_hours", 24)),
                        error_after_hours=int(_cfg.get("error_after_hours", 168)),
                    ).first()
                    if row.status == "error":
                        raise AssertionError(
                            f"freshness error on {_model}.{_col}: newest "
                            f"{row.max_ts} lags as_of by {row.lag_seconds}s"
                        )

                return check_fresh
            raise ValueError(f"unknown test {test!r} on {model}.{col}")

        attached = 0
        for entry in config.get("models", []):
            name = entry["name"]
            if name not in self.models:
                raise KeyError(f"schema config for unknown model {name}")
            for coldef in entry.get("columns", []):
                col = coldef["name"]
                tests = coldef.get("tests", coldef.get("data_tests", []))
                for t in tests:
                    self.models[name].checks.append(make_check(t, name, col))
                    attached += 1
        return attached

    def export_docs(self, out_dir: str) -> dict[str, str]:
        """`dbt docs generate` analog: write manifest.json (machine),
        catalog.json (per-model column schemas — dbt's second docs
        artifact), and lineage.txt (human) into out_dir; returns the
        paths. catalog covers the models built in this runner's last
        run (dbt's catalog likewise reflects warehouse state, not
        declarations)."""
        import json

        os.makedirs(out_dir, exist_ok=True)
        paths = {
            "manifest": os.path.join(out_dir, "manifest.json"),
            "catalog": os.path.join(out_dir, "catalog.json"),
            "lineage": os.path.join(out_dir, "lineage.txt"),
        }
        with open(paths["manifest"], "w") as f:
            json.dump(self.manifest(), f, indent=2, sort_keys=True)
        with open(paths["catalog"], "w") as f:
            json.dump(self.catalog(), f, indent=2, sort_keys=True)
        with open(paths["lineage"], "w") as f:
            f.write(self.lineage() + "\n")
        return paths

    def catalog(self) -> dict:
        """dbt catalog.json analog: per BUILT model, ordered column
        name → Spark SQL type (from the analyzed plan's schema — no
        job runs)."""
        return {
            "models": {
                name: {
                    "columns": {
                        f.name: f.dataType.simpleString()
                        for f in df.schema.fields
                    }
                }
                for name, df in self._built.items()
            }
        }

    def manifest(self) -> dict:
        """`dbt docs`-style machine-readable artifact: per model, its
        materialization, direct parents, and check count — the JSON
        twin of lineage(). json.dump(runner.manifest(), ...) is the
        docs-export path."""
        parents = self.graph()
        return {
            "models": {
                name: {
                    "materialization": m.materialization,
                    "unique_key": m.unique_key,
                    "partition_by": m.partition_by,
                    "depends_on": sorted(parents[name]),
                    "checks": len(m.checks),
                }
                for name, m in self.models.items()
            }
        }
