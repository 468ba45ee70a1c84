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
