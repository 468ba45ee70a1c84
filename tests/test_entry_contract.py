"""__spark_entry__ contract pins: ordering, completeness, hygiene."""

from __future__ import annotations

import __spark_entry__ as E
from data_engineering_hs_spark.queries import REGISTRY


def test_queries_is_complete_permutation():
    names = list(E.queries())
    assert sorted(names) == sorted(REGISTRY)
    assert set(E.oracle_sql()) == {
        n for n, q in REGISTRY.items() if q.oracle is not None
    }


def test_never_driver_verified_queries_come_first():
    names = list(E.queries())
    seen_verified = False
    for n in names:
        if n in E._R01_VERIFIED:
            seen_verified = True
        else:
            assert not seen_verified, f"unverified {n} after a verified entry"


def test_measured_table_has_no_stale_names():
    assert set(E._MEASURED_SEC) <= set(REGISTRY)


def test_import_does_not_enable_table_cache():
    # the cache must switch on only when a driver callable RUNS —
    # an import-time enable leaks InMemoryRelations into every later
    # test module and breaks the parquet plan-shape assertions
    from data_engineering_hs_spark import catalog

    assert not catalog._TABLE_CACHE_ENABLED


def test_oracle_hash_sidecar_certifies_current_text():
    # ORACLE_HASHES.json certifies (query, oracle-text) pairs: a name
    # counts driver-verified only when its stamped hash matches the
    # CURRENT oracle text — the durable invariant. (The r9 version of
    # this test also pinned the round-8 archaeology's 17 stale names
    # as unverified; the r9 driver re-checked them green and the r10
    # round-opening stamp certified them, so that snapshot assertion
    # retired. The mismatch→recheck mechanism itself is exercised
    # dynamically by test_oracle_hash_mismatch_forces_recheck.)
    import json
    import os

    here = os.path.dirname(os.path.abspath(E.__file__))
    stamped = json.load(open(os.path.join(here, "ORACLE_HASHES.json")))
    for name in E._R01_VERIFIED:
        assert stamped[name] == E._oracle_hash(name)
    # and the sidecar holds no dead names (stamp-script pruning)
    assert set(stamped) <= set(REGISTRY)


def test_oracle_hash_mismatch_forces_recheck(monkeypatch):
    # Flip one stamped hash and re-derive: that name must drop out.
    victim = sorted(E._R01_VERIFIED)[0]
    import json
    import os

    here = os.path.dirname(os.path.abspath(E.__file__))
    path = os.path.join(here, "ORACLE_HASHES.json")
    side = json.load(open(path))
    real = E._driver_verified()
    assert victim in real
    side[victim] = "0" * 64
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        # point the loader at a copy with the poisoned entry
        for f in os.listdir(here):
            if f.startswith("CORRECTNESS_r") and f.endswith(".json"):
                os.symlink(os.path.join(here, f), os.path.join(td, f))
        json.dump(side, open(os.path.join(td, "ORACLE_HASHES.json"), "w"))
        monkeypatch.setattr(
            os.path, "dirname", lambda p, _d=os.path.dirname: td
            if p == os.path.abspath(E.__file__)
            else _d(p),
        )
        assert victim not in E._driver_verified()


def test_stamp_script_only_trusts_the_newest_round(tmp_path):
    # The stamp script must (a) stamp current hashes ONLY for clean
    # rows in the NEWEST CORRECTNESS file, (b) leave entries for
    # older-round greens untouched (their rows certified older oracle
    # text), (c) skip mismatched rows, and (d) keep a no_oracle row
    # flagged when the registry now has an oracle for it.
    import json
    import os
    import subprocess
    import sys

    here = os.path.dirname(os.path.abspath(E.__file__))
    os.symlink(
        os.path.join(here, "data_engineering_hs_spark"),
        tmp_path / "data_engineering_hs_spark",
    )
    for f in ("__spark_entry__.py", "scripts_stamp_oracle_hashes.py"):
        os.symlink(os.path.join(here, f), tmp_path / f)
    good = E._oracle_hash("a_mode")
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a_having": {"err": None, "rows_match": True, "schema_match": True,
                     "hash_match": True},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "a_mode": {"err": None, "rows_match": True, "schema_match": True,
                   "hash_match": True},
        "a_group_count": {"err": None, "rows_match": True,
                          "schema_match": True, "hash_match": False},
        "t_langid": {"err": "no_oracle"},
    }))
    (tmp_path / "ORACLE_HASHES.json").write_text(json.dumps({
        "a_having": "OLD_HASH_FROM_R01",
        "t_langid": None,
    }))
    out = subprocess.run(
        [sys.executable, "scripts_stamp_oracle_hashes.py"],
        cwd=tmp_path, capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr
    assert "CORRECTNESS_r02" in out.stdout
    side = json.loads((tmp_path / "ORACLE_HASHES.json").read_text())
    assert side["a_mode"] == good                      # (a) newest clean row
    assert side["a_having"] == "OLD_HASH_FROM_R01"     # (b) older round kept
    assert "a_group_count" not in side                 # (c) mismatch skipped
    assert side["t_langid"] is None                    # (d) stays flagged


def _env_keys_read(tree) -> set[str]:
    # os.environ.get(K, ...), os.getenv(K, ...) and os.environ[K]; a
    # key that is not a string literal is reported as "<dynamic>"
    import ast

    keys = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args and ast.unparse(
            node.func
        ) in ("os.environ.get", "os.getenv"):
            key = node.args[0]
        elif isinstance(node, ast.Subscript) and (
            ast.unparse(node.value) == "os.environ"
        ):
            key = node.slice
        else:
            continue
        keys.add(key.value if isinstance(key, ast.Constant) else "<dynamic>")
    return keys


def test_package_reads_only_deployment_env_vars():
    # The engine's env surface is deployment settings only; A/B
    # comparisons run two commits (scripts_ab.py), not in-process
    # switches.
    import ast
    import os

    import data_engineering_hs_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    keys = set()
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    keys |= _env_keys_read(ast.parse(fh.read()))
    assert keys == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


# Package modules that no registry query, __spark_entry__, bench.py or
# perfbench script imports. Each maps to a SURVEY §2 reference unit
# (lab06 avro/kafka, lab01 csv, lab05 jdbc, lab02 json, orders_server
# rest, magic_shop, revenue_analysis); plans.inspect waits on ROADMAP
# item 1.
REFERENCE_MODULES = {
    "sources.avro",
    "sources.csv",
    "sources.jdbc",
    "sources.json",
    "sources.kafka",
    "sources.rest",
    "plans.magic_shop",
    "plans.revenue",
    "plans.inspect",
}

# Public package names that no non-test file references, each with its
# reason: the SURVEY §2 reference row it implements (its row id first),
# or the one ROADMAP item that retires it (plan_summary, item 1). A
# registry query restating the operation inline counts as no caller.
TEST_ONLY_API = {
    "functions.scalar.full_name": "F2/F4: dim_customers.sql:9",
    "functions.scalar.ilike": "F6/P9: lab03/sql/script1.sql:6,36",
    "functions.scalar.split_packed_list": "F7: lab01/tasks.ipynb:1 items column",
    "functions.scalar.to_log_timestamp": "F16: lab02/tasks.ipynb:189",
    "functions.scalar.time_of_day_between": "P6: lab03/sql/script1.sql:17-18",
    "functions.scalar.epoch_millis_to_ts": "F15: async_data_gen.py:53-54",
    "functions.scalar.ts_to_epoch_millis": "F15: async_data_gen.py:53-54",
    "functions.scalar.to_money": "F20: stg_orders.sql:9",
    "functions.scalar.outstanding": "P13/F20: fct_orders.sql:43-44",
    "functions.scalar.json_get": "F22: revenue_analysis/main.ipynb cell 83febe4b",
    "functions.scalar.json_decode": "S16: spark_kafka_foreachbatch.py:69",
    "plans.inspect.plan_summary": "pending item 1: profile() replaces it",
    "plans.magic_shop.build_runner": "S29: magic_shop dbt model DAG",
    "plans.revenue.load_inputs": "S5: revenue_analysis/main.ipynb:153-160",
    "plans.revenue.daily_kpis": "A4/W1: revenue_analysis/main.ipynb:264-287",
    "plans.revenue.write_and_prune": "S8/S9: revenue_analysis/main.ipynb:298",
    "sources.avro.decode_record": "S15: spark_kafka_foreachbatch.py:51-75",
    "sources.avro.write_container": "S13: avro_test.ipynb:51",
    "sources.avro.read_avro": "S13: avro_test.ipynb:10-23",
    "sources.avro.decode_avro_column": "S15: spark_kafka_foreachbatch.py:51-75",
    "sources.csv.read_headerless": "S1: lab01/tasks.ipynb:293",
    "sources.csv.read_with_header": "S2/S4: spark.ipynb:205-208",
    "sources.csv.read_with_quarantine": "S22: fuel_ingest_dag.py:130-134",
    "sources.csv.write_csv": "S2: lab01/tasks.ipynb cell 8586febd",
    "sources.jdbc.foreach_batch_jdbc_upsert": "S21: fuel_ingest_dag.py:169-182",
    "sources.jdbc.read_jdbc_table": "S21: fuel_ingest_dag.py:169-182",
    "sources.json.read_document_array": "S6: lab02/tasks.ipynb:160-166",
    "sources.kafka.kafka_connector_available": "S14: spark_kafka_foreachbatch.py:31-37",
    "sources.kafka.kafka_stream_reader": "S14: spark_kafka_foreachbatch.py:31-37",
    "sources.parquet.read_pruned": "S9: revenue_analysis/main.ipynb cell cf747d35",
    "sources.rest.fetch_ids": "S24: client_async.py:89-131",
    "sources.rest.flatten_orders": "S25: client_async.py:32-42",
    "sources.upsert.read_watermark": "S23: fuel_ingest_dag.py:199-206",
    "sources.upsert.commit_watermark": "S23: fuel_ingest_dag.py:199-206",
    "streaming.kv.ttl_filter": "S26: coffee_shop/main.ipynb:96-106",
    "streaming.pipelines.kafka_shaped_ingest": (
        "S14/S19: spark_kafka_foreachbatch.py:79-98"
    ),
    "streaming.pipelines.file_watch_ingest": "S20: fuel_ingest_dag.py:92-111",
    "streaming.pipelines.dedup_within_watermark": "T8: fuel_ingest_dag.py:1-4,175",
}


def _census_files():
    """(package module paths by dotted name, the entry scripts, the
    root scripts) — the AST inputs of the caller census."""
    import os

    here = os.path.dirname(os.path.abspath(E.__file__))
    modules = {}
    for d, _, files in os.walk(os.path.join(here, "data_engineering_hs_spark")):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, f[:-3]), here)
                name = rel.replace(os.sep, ".").removesuffix(".__init__")
                modules[name] = os.path.join(d, f)
    bench_dir = os.path.join(here, "perfbench")
    entries = [os.path.join(here, f) for f in ("__spark_entry__.py", "bench.py")]
    entries += [
        os.path.join(bench_dir, f)
        for f in sorted(os.listdir(bench_dir))
        if f.endswith(".py") and not f.startswith("test_")
    ]
    scripts = [os.path.join(here, f) for f in os.listdir(here) if f.endswith(".py")]
    return modules, entries, scripts


def _parse(path):
    import ast

    with open(path) as fh:
        return ast.parse(fh.read())


def _package_imports(path, modules) -> set[str]:
    # imported package modules, anywhere in the file (function-local
    # imports included); a dotted string naming a module counts, since
    # perfbench resolves its timing wrappers with importlib
    import ast

    out = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names = [node.value]
        else:
            continue
        for name in names:
            parts = name.split(".")
            out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return out & set(modules)


def test_every_module_is_reached_or_a_reference_unit():
    modules, entries, _ = _census_files()
    todo = set().union(*(_package_imports(p, modules) for p in entries))
    reached = set()
    while todo:
        m = todo.pop()
        reached.add(m)
        todo |= _package_imports(modules[m], modules) - reached
    assert {m.partition(".")[2] for m in set(modules) - reached} == (
        REFERENCE_MODULES
    )


def _resolved_refs(path, own, modules) -> set[tuple[str, str]]:
    """(module, name) pairs the file at ``path`` references, each
    resolved to the module it names: ``from m import n``, ``X.n`` with
    ``X`` bound to module ``m`` by an import, a bare ``n`` inside the
    file's own module ``own``, and perfbench's ``("m", "n")`` wrapper
    tuples. A same-spelled name elsewhere does not count."""
    import ast

    tree = _parse(path)
    bound: dict[str, set[str]] = {}  # local name -> modules it may be
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:  # import a.b.c as X: X is a.b.c
                    bound.setdefault(a.asname, set()).add(a.name)
                else:  # import a.b.c: a is a, reached through a.b.c.n
                    root = a.name.split(".")[0]
                    bound.setdefault(root, set()).add(root)
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if full in modules:
                    bound.setdefault(a.asname or a.name, set()).add(full)
                else:
                    refs.add((node.module, a.name))
        elif isinstance(node, ast.Tuple) and len(node.elts) >= 2 and all(
            isinstance(e, ast.Constant) and isinstance(e.value, str)
            for e in node.elts[:2]
        ):
            refs.add((node.elts[0].value, node.elts[1].value))
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and own:
            refs.add((own, node.id))
        elif isinstance(node, ast.Attribute):
            chain, v = [], node.value
            while isinstance(v, ast.Attribute):
                chain.insert(0, v.attr)
                v = v.value
            if isinstance(v, ast.Name):
                for m in bound.get(v.id, ()):
                    refs.add((".".join([m, *chain]), node.attr))
    return refs


def test_every_public_name_has_a_non_test_caller_or_a_reason():
    import ast

    modules, entries, scripts = _census_files()
    referenced = set()
    for name, path in modules.items():
        referenced |= _resolved_refs(path, name, modules)
    for path in set(entries) | set(scripts):
        referenced |= _resolved_refs(path, None, modules)
    # a package module re-exporting a name (``from m import n`` at its
    # top level) passes the reference on to the defining module
    reexports = {
        (name, a.asname or a.name): (node.module, a.name)
        for name, path in modules.items()
        for node in _parse(path).body
        if isinstance(node, ast.ImportFrom) and node.module
        for a in node.names
    }
    for ref in list(referenced):
        while ref in reexports and reexports[ref] not in referenced:
            ref = reexports[ref]
            referenced.add(ref)
    uncalled = set()
    for name, path in modules.items():
        for node in _parse(path).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and (name, node.name) not in referenced
                # registered queries are reached through REGISTRY
                and not any(
                    isinstance(d, ast.Call) and ast.unparse(d.func) == "register"
                    for d in node.decorator_list
                )
            ):
                uncalled.add(f"{name.partition('.')[2]}.{node.name}")
    assert uncalled == set(TEST_ONLY_API)


def _typed_method_refs(path, modules) -> set[tuple[str, str, str]]:
    """(module, class, attribute) for every ``x.attr`` in the file at
    ``path`` whose receiver ``x`` is known to hold an instance of a
    package class: in its function scope or an enclosing one, ``x`` is
    assigned from the class's constructor or is a parameter annotated
    with the class. An untyped receiver with a same-spelled attribute
    (``spark.catalog``) does not count, and neither does a reference
    inside the class's own body."""
    import ast

    tree = _parse(path)
    classes = {}  # local name -> (module, name) it was imported as
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in modules:
            for a in node.names:
                classes[a.asname or a.name] = (node.module, a.name)
    own = next((m for m, p in modules.items() if p == path), None)
    for node in tree.body:
        if own and isinstance(node, ast.ClassDef):
            classes[node.name] = (own, node.name)

    def cls_of(expr):
        if isinstance(expr, ast.Constant) and isinstance(expr.value, str):
            return classes.get(expr.value)  # a quoted annotation
        return classes.get(getattr(expr, "id", None))

    def own_nodes(scope):  # the scope's nodes, nested scopes excluded
        todo = list(ast.iter_child_nodes(scope))
        while todo:
            n = todo.pop()
            yield n
            if not isinstance(n, (ast.FunctionDef, ast.Lambda, ast.ClassDef)):
                todo.extend(ast.iter_child_nodes(n))

    refs = set()

    def visit(scope, env, inside):
        env = dict(env)
        if isinstance(scope, (ast.FunctionDef, ast.Lambda)):
            a = scope.args
            for p in a.posonlyargs + a.args + a.kwonlyargs:
                env.pop(p.arg, None)
                if p.annotation is not None and cls_of(p.annotation):
                    env[p.arg] = cls_of(p.annotation)
        for n in own_nodes(scope):
            if isinstance(n, ast.Assign) and isinstance(n.value, ast.Call):
                for t in n.targets:
                    if isinstance(t, ast.Name) and cls_of(n.value.func):
                        env[t.id] = cls_of(n.value.func)
        for n in own_nodes(scope):
            if isinstance(n, (ast.FunctionDef, ast.Lambda)):
                visit(n, env, inside)
            elif isinstance(n, ast.ClassDef):
                visit(n, env, inside or (own, n.name))
            elif (
                isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and env.get(n.value.id, inside) != inside
            ):
                refs.add((*env[n.value.id], n.attr))

    visit(tree, {}, None)
    return refs


def test_method_census_counts_only_typed_receivers(tmp_path):
    import textwrap

    src = tmp_path / "caller.py"
    src.write_text(textwrap.dedent("""
        from data_engineering_hs_spark.plans.model_dag import (
            ModelContext, ModelRunner,
        )

        def build(spark, ctx: ModelContext):
            spark.catalog.listTables()
            runner = ModelRunner(spark, {})
            ctx.ref("a")

            def later():
                return runner.run()

            return later

        def untyped(runner):
            return runner.model
    """))
    modules, _, _ = _census_files()
    assert _typed_method_refs(str(src), modules) == {
        ("data_engineering_hs_spark.plans.model_dag", "ModelContext", "ref"),
        ("data_engineering_hs_spark.plans.model_dag", "ModelRunner", "run"),
    }


def test_every_public_method_has_a_non_test_caller():
    # the name census above, one level down: a public method of a
    # package class is reached when non-test code calls it on a typed
    # receiver, or when a reached or private method of its own class
    # calls it through self
    import ast

    modules, entries, scripts = _census_files()
    refs = set()
    for path in set(modules.values()) | set(entries) | set(scripts):
        refs |= _typed_method_refs(path, modules)
    uncalled = set()
    for name, path in modules.items():
        for cls in _parse(path).body:
            if not isinstance(cls, ast.ClassDef) or cls.name.startswith("_"):
                continue
            methods = {
                m.name: m for m in cls.body if isinstance(m, ast.FunctionDef)
            }
            reached = {
                m
                for m in methods
                if m.startswith("_") or (name, cls.name, m) in refs
            }
            todo = list(reached)
            while todo:
                for n in ast.walk(methods[todo.pop()]):
                    if (
                        isinstance(n, ast.Attribute)
                        and isinstance(n.value, ast.Name)
                        and n.value.id == "self"
                        and n.attr in set(methods) - reached
                    ):
                        reached.add(n.attr)
                        todo.append(n.attr)
            uncalled |= {f"{cls.name}.{m}" for m in set(methods) - reached}
    assert sorted(uncalled) == []


# Mode parameters (default None or a bool; in operators.similarity any
# literal default) of public package functions that no non-test call
# sets, each with the reason it stays. Every other such parameter was
# retired to its default.
UNSET_MODE_PARAMS = {
    "catalog.enable_table_cache(enabled)": (
        "False switches the cache off again and unpersists its frames"
    ),
    "operators.asof.asof_join(ts_tiebreak)": (
        "orders equal-timestamp right rows; None leaves the winner to the engine"
    ),
    "operators.cdc.snapshot_diff(compare_cols)": (
        "restricts the update test to named columns; None compares all"
    ),
    "operators.geo.radius_join(cell_deg)": (
        "grid cell size; None derives it from the radius"
    ),
    "operators.relational.mode_of(tiebreak_asc)": (
        "A8: tie order of the most common value (lab01/tasks.ipynb:588)"
    ),
    "operators.scale.write_bucketed(sort_cols)": (
        "SORTED BY of the bucket spec; None writes unsorted buckets"
    ),
    "operators.similarity.embedding_near_dups(dim)": (
        "width the plane dots unroll over at plan-build time; 0 raises"
    ),
    "operators.similarity.embedding_near_dups(max_bucket_size)": (
        "member cap of a hot bucket; pairs past it are marked truncated"
    ),
    "operators.similarity.embedding_near_dups(n_planes)": (
        "2^n_planes buckets: fewer planes put more vectors in one bucket"
    ),
    "operators.similarity.lsh_topk(dim)": (
        "width the plane dots unroll over at plan-build time; 0 raises"
    ),
    "operators.similarity.lsh_topk(n_planes)": (
        "2^n_planes buckets: trades candidates per probe against recall"
    ),
    "operators.similarity.semdedup(max_cluster_size)": (
        "comparison pool cap of a cluster; its rows are marked truncated"
    ),
    "session.get_spark(master)": (
        "deployment setting: spark-submit or the driver supplies it"
    ),
    "sources.jdbc.jdbc_upsert_batch(staging_table)": (
        "names the MERGE staging table; None uses <table>_stage"
    ),
    "sources.json.read_jsonl(keep_corrupt)": (
        "S5: PERMISSIVE corrupt-record capture (the quarantine read)"
    ),
    "streaming.kv.stateful_counter(ttl_ms)": (
        "S26: Redis EXPIRE; None keeps a key's count forever"
    ),
    "streaming.pipelines.streaming_dedup_ingest(available_now)": (
        "False runs the stream continuously, the production trigger"
    ),
}


def test_every_mode_parameter_is_set_by_a_non_test_caller_or_a_reason():
    # a None/bool default that only tests override is a code path no
    # query, tool or benchmark runs: retire it or say why it stays. In
    # operators.similarity every literal default counts: a column name
    # or PQ geometry no caller sets is a fixed part of the input
    import ast

    modules, entries, scripts = _census_files()
    calls: dict[str, list] = {}
    for path in set(modules.values()) | set(entries) | set(scripts):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                f = node.func
                callee = getattr(f, "id", None) or getattr(f, "attr", None)
                calls.setdefault(callee, []).append(node)
    unset = set()
    for name, path in modules.items():
        for fn in _parse(path).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            sites = calls.get(fn.name, [])
            a = fn.args
            pos = [p.arg for p in a.posonlyargs + a.args]
            params = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            params += [
                (p.arg, d)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            literal = (str, int, float) if name.endswith(".similarity") else bool
            for param, default in params:
                if not (
                    isinstance(default, ast.Constant)
                    and (default.value is None or isinstance(default.value, literal))
                ):
                    continue
                i = pos.index(param) if param in pos else None
                if sites and not any(
                    any(k.arg in (param, None) for k in c.keywords)
                    or (i is not None and len(c.args) > i)
                    or any(isinstance(x, ast.Starred) for x in c.args)
                    for c in sites
                ):
                    unset.add(f"{name.partition('.')[2]}.{fn.name}({param})")
    assert unset == set(UNSET_MODE_PARAMS)


def test_every_test_only_reason_cites_a_reference_row():
    # a name with no caller stays only as a SURVEY §2 reference unit
    # (its row id first) or for the one ROADMAP item 1 retirement; a
    # bare "pending" entry cannot come back
    import re

    bad = {
        name: why
        for name, why in TEST_ONLY_API.items()
        if not re.match(r"^([A-Z]+\d+|pending item 1\b)", why)
    }
    assert bad == {}


def _functions_holding(pred) -> set[str]:
    """``module.function`` of the innermost function around every
    package AST node that ``pred`` accepts (``module.None`` at module
    level)."""
    import ast

    modules, _, _ = _census_files()
    out = set()

    def visit(node, mod, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if pred(child):
                out.add(f"{mod.partition('.')[2]}.{inner}")
            visit(child, mod, inner)

    for name, path in modules.items():
        visit(_parse(path), name, None)
    return out


def test_every_streaming_sink_shares_one_micro_batch_protocol():
    # one checkpointed foreachBatch start, one availableNow memory
    # drain and one batch-partition commit: a sink that writes the
    # protocol out again fails here
    import ast

    def callee(node):
        f = node.func
        return getattr(f, "attr", None) or getattr(f, "id", None)

    def dynamic_write(n):
        return (
            isinstance(n, ast.Call)
            and callee(n) == "write_partitioned"
            and (
                len(n.args) > 4
                or any(
                    k.arg == "dynamic"
                    and not (isinstance(k.value, ast.Constant) and not k.value.value)
                    for k in n.keywords
                )
            )
        )

    assert _functions_holding(
        lambda n: isinstance(n, ast.Call) and callee(n) == "foreachBatch"
    ) == {"streaming.pipelines._start"}
    assert _functions_holding(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "writeStream"
    ) == {"streaming.pipelines._start", "streaming.pipelines.run_to_memory"}
    assert _functions_holding(dynamic_write) == {
        "streaming.pipelines._overwrite_batch"
    }


def test_every_near_dup_generator_shares_one_candidate_path():
    # one capped-bucket pair step, one array-side pair generator, one
    # pair-dedup tail, one planted-duplicate audit and one IVF coarse
    # quantizer: a generator, audit or quantizer that writes the step
    # out again fails here. incremental_minhash_lsh keeps its
    # own store-side cap because a lone store member still pairs with
    # a new doc (no size > 1 filter there). A member-array cap sets
    # truncated from size(...); semdedup's window-count cluster cap is
    # a different step and is not counted.
    import ast

    def callee(node):
        f = node.func
        return getattr(f, "attr", None) or getattr(f, "id", None)

    def call_with_first_arg(n, name, arg):
        return (
            isinstance(n, ast.Call)
            and callee(n) == name
            and bool(n.args)
            and isinstance(n.args[0], ast.Constant)
            and n.args[0].value == arg
        )

    def array_cap(n):
        return call_with_first_arg(n, "withColumn", "truncated") and any(
            isinstance(c, ast.Call) and callee(c) == "size"
            for c in ast.walk(n.args[1])
        )

    def slice_in_flatten(n):
        return (
            isinstance(n, ast.Call)
            and callee(n) == "flatten"
            and any(
                isinstance(c, ast.Call) and callee(c) == "slice"
                for c in ast.walk(n)
            )
        )

    assert _functions_holding(array_cap) == {
        "operators.dedup._bucket_pairs",
        "operators.dedup.incremental_minhash_lsh",
    }
    assert _functions_holding(slice_in_flatten) == {
        "operators.dedup._array_pairs"
    }
    assert _functions_holding(
        lambda n: call_with_first_arg(n, "max", "truncated")
    ) == {"operators.dedup._distinct_pairs"}
    assert _functions_holding(
        lambda n: call_with_first_arg(n, "alias", "complete_ok")
    ) == {"queries.llm._planted_audit"}
    # one IVF coarse quantizer: ivf_topk, ivf_adc_topk and the cell
    # stores assign through _assign_cells (ivf_topk and ivf_adc_topk
    # used to rank their own copies); assign_nearest_centroid is
    # semdedup's per-row cluster assignment, with its two-level mode
    assert _functions_holding(
        lambda n: isinstance(n, ast.Call) and callee(n) == "_nearest_topn"
    ) == {
        "operators.similarity._assign_cells",
        "operators.similarity.assign_nearest_centroid",
    }
