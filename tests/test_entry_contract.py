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
    "sources.avro.read_container_bytes": "S13: avro_test.ipynb:74",
    "sources.avro.read_avro": "S13: avro_test.ipynb:10-23",
    "sources.avro.decode_avro_column": "S15: spark_kafka_foreachbatch.py:51-75",
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
    "streaming.pipelines.run_to_memory": "S18: socket_streaming.py:19",
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


def test_every_public_name_has_a_non_test_caller_or_a_reason():
    import ast

    modules, entries, scripts = _census_files()
    referenced = set()
    for path in set(modules.values()) | set(entries) | set(scripts):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias):
                referenced.add(node.name.rsplit(".", 1)[-1])
    uncalled = set()
    for name, path in modules.items():
        for node in _parse(path).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and node.name not in referenced
                # registered queries are reached through REGISTRY
                and not any(
                    isinstance(d, ast.Call) and ast.unparse(d.func) == "register"
                    for d in node.decorator_list
                )
            ):
                uncalled.add(f"{name.partition('.')[2]}.{node.name}")
    assert uncalled == set(TEST_ONLY_API)


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
