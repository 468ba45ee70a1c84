"""Seeded input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng(seed)`` with the
schema and value domains of the engine's TPC-H-style test tables
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), written as one single-row-group parquet file
each, so the engine sees the same physical layout it is tested on.
The ingest workload adds a resend-heavy document drop directory and
seeded changeset files for an orders-derived table.

Outputs are cached under ``<root>/.bench_cache/<key>`` where the key
hashes this file's own source (the generator version), the seed and
the scale, so a rerun with the same seed reuses the files and any edit
to the generator invalidates them.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64

# Row counts at scale factor 1; documents and embeddings do not grow
# linearly with sf in the engine's test data, so they are set apart.
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
CACHE_KEEP = 6
FILE_EPOCH_S = 1_700_000_000  # modification times of the stream source files


def _generator_version() -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(micros.astype("int64") + epoch, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str, mtime_s: int | None = None) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    if mtime_s is not None:
        # a file stream source reads files in modification-time order;
        # files written within one clock tick would be read in listing
        # order, and changesets must apply in sequence
        os.utime(path, (mtime_s, mtime_s))


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos : pos + ln]))
        pos += ln
    return out


def documents(rng, n: int) -> pa.Table:
    """Random 10-100 word texts; 5% are near-duplicates (an earlier
    text with a ``dup`` token spliced in) and 0.2% exact resends, so
    the LSH and dedup queries have real work."""
    texts = _texts(rng, n)
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts[i] = " ".join(words)
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def base_tables(rng, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    n = {k: max(1, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    nc, ns, npart, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"],
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
        }
    )
    day_us = 86_400 * 1_000_000
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _ts(
                dt.datetime(1995, 1, 1), rng.integers(0, 2405, no) * day_us
            ),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(
                dt.datetime(1995, 1, 2), rng.integers(0, 2499, nl) * day_us
            ),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(
                dt.datetime(2024, 1, 1),
                np.sort(rng.integers(0, 30 * day_us, ne)),
            ),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(40.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return t


def ingest_inputs(
    rng, out: str, docs: pa.Table, orders: pa.Table, n_files: int,
    rows_per_file: int, resend: float, n_changesets: int, change_rows: int,
) -> dict:
    """Document drops and changesets for the ingest workload.

    Drops: ``n_files`` files of ``rows_per_file`` rows. A ``resend``
    share of each file re-sends the text of an earlier row under a new
    id (exact duplicates the dedup must drop); the rest are base
    documents tagged with their copy number, so they are new content.

    Changesets: ``n_changesets`` files over an orders-derived table of
    ``o_orderkey, o_custkey, o_orderstatus, o_totalprice``. Each row
    is an insert, update or delete with a global ``seq``; keys repeat
    within and across files, so the last op per key decides."""
    base_texts = docs.column("text").to_pylist()
    drops = os.path.join(out, "drops")
    os.makedirs(drops)
    fresh: list[str] = []
    doc_id = 0
    for f in range(n_files):
        ids, texts = [], []
        for _ in range(rows_per_file):
            if fresh and rng.random() < resend:
                text = fresh[int(rng.integers(0, len(fresh)))]
            else:
                k = len(fresh)
                text = f"{base_texts[k % len(base_texts)]} copy{k // len(base_texts)}"
                fresh.append(text)
            ids.append(doc_id)
            texts.append(text)
            doc_id += 1
        _write(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
            os.path.join(drops, f"part-{f:05d}.parquet"),
            FILE_EPOCH_S + f,
        )
    n_base = min(orders.num_rows, 20_000)
    base = orders.slice(0, n_base).select(
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    )
    cdc_base = os.path.join(out, "cdc_base")
    os.makedirs(cdc_base)
    _write(base, os.path.join(cdc_base, "part-00000.parquet"))
    changes = os.path.join(out, "changes")
    os.makedirs(changes)
    seq = 0
    for f in range(n_changesets):
        keys = rng.integers(0, int(n_base * 1.1), change_rows)
        ops = rng.choice(["insert", "update", "delete"], change_rows, p=[0.2, 0.6, 0.2])
        _write(
            pa.table(
                {
                    "o_orderkey": pa.array(keys, pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, 1000, change_rows), pa.int64()),
                    "o_orderstatus": rng.choice(["F", "O", "P"], change_rows),
                    "o_totalprice": _money(rng, 1000, 500000, change_rows),
                    "op": ops,
                    "seq": pa.array(np.arange(seq, seq + change_rows), pa.int64()),
                }
            ),
            os.path.join(changes, f"part-{f:05d}.parquet"),
            FILE_EPOCH_S + f,
        )
        seq += change_rows
    return {"source_rows": n_files * rows_per_file, "change_rows": seq}


def generate(root: str, seed: int, spec: dict) -> tuple[str, dict]:
    """Build (or reuse) the inputs for ``spec`` and ``seed`` under
    ``root/.bench_cache``. Returns (dataset dir, info) where info
    holds the dataset hash, row counts and the build time
    (0 on a cache hit)."""
    key_src = json.dumps(
        {"gen": _generator_version(), "seed": seed, "spec": spec}, sort_keys=True
    )
    key = hashlib.sha256(key_src.encode()).hexdigest()[:20]
    cache = os.path.join(root, ".bench_cache")
    out = os.path.join(cache, key)
    meta_path = os.path.join(out, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            info = json.load(fh)
        info["datagen_s"] = 0.0
        os.utime(out)
        return out, info
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    tables = base_tables(rng, spec["sf"], spec["docs"], spec["vecs"])
    rows = {}
    for name, table in tables.items():
        _write(table, os.path.join(tmp, f"{name}.parquet"))
        rows[name] = table.num_rows
    ingest = spec.get("ingest")
    extra = {}
    if ingest:
        extra = ingest_inputs(
            rng, tmp, tables["documents"], tables["orders"], **ingest
        )
    _check_counts(tmp, rows, extra)
    info = {"dataset_hash": key, "rows": rows, **extra}
    with open(os.path.join(tmp, "_meta.json"), "w") as fh:
        json.dump(info, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _evict(cache)
    info["datagen_s"] = time.perf_counter() - t0
    return out, info


def _check_counts(out: str, rows: dict, extra: dict) -> None:
    """DuckDB must count the rows the generator meant to write."""
    import duckdb

    want = {f"{out}/{name}.parquet": n for name, n in rows.items()}
    if extra:
        want[f"{out}/drops/*.parquet"] = extra["source_rows"]
        want[f"{out}/changes/*.parquet"] = extra["change_rows"]
    with duckdb.connect() as con:
        for path, n in want.items():
            got = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
            if got != n:
                raise RuntimeError(f"{path}: DuckDB counts {got} rows, generated {n}")


def _evict(cache: str) -> None:
    """Keep the CACHE_KEEP most recently used datasets."""
    entries = [
        os.path.join(cache, d)
        for d in os.listdir(cache)
        if os.path.isdir(os.path.join(cache, d)) and not d.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
