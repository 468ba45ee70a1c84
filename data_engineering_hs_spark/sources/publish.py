"""Versioned multi-table publish: poor-man's snapshot isolation on a
plain filesystem — the pattern a pipeline uses to expose a CONSISTENT
set of output tables without a lakehouse transaction log.

Layout:
    root/v=1/<table>/...parquet
    root/v=2/<table>/...parquet
    root/_LATEST            (one line: the committed version number)

Writers stage a complete new version directory, then flip `_LATEST`
with one atomic rename — readers that resolve the marker before the
flip keep reading the old, still-complete version; readers after see
the whole new set. A crash mid-publish leaves a stale marker and an
orphan version directory: invisible to readers, reclaimed by vacuum.
This is the same commit protocol as Iceberg's version-hint file,
minus the manifest layer (file-level pruning stays parquet-native).

At scale the marker flip is O(1) regardless of table count/size, and
versions share nothing, so publish cost is the data write alone.

DRIVER-LOCAL root ONLY: the commit point is a POSIX os.replace and
the probes are os.path — no object-store/HDFS URI supports either
(same restriction as sources.parquet's swap protocol; remote
publishing needs a transactional table format or a rename-capable
HDFS client).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_MARKER = "_LATEST"
_COMMITTED = "_COMMITTED"


def _require_local_root(root: str, op: str) -> None:
    """Reject URI roots up front: every probe here is os.path and the
    commit point is os.replace, so on 's3a://…' os.makedirs would
    CREATE a literal local directory named 's3a:/…' and the publish
    would 'succeed' invisibly to every remote reader — the silent
    wrongness the docstring's driver-local restriction exists to
    prevent (same guard as streaming_cdc_apply / ModelRunner)."""
    from data_engineering_hs_spark.sources.parquet import _local_path

    if _local_path(root) != root:
        raise ValueError(
            f"{op} requires a driver-local root (got {root!r}): the "
            "marker flip is a POSIX os.replace and the probes are "
            "os.path, which URIs (s3a/hdfs/abfs — and file://, pass "
            "the plain path) don't support; remote publishing needs a "
            "transactional table format"
        )


def _versions(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        if d.startswith("v=") and d[2:].isdigit():
            out.append(int(d[2:]))
    return sorted(out)


def current_version(root: str) -> int | None:
    """The committed version per the marker, or None before the first
    publish. Orphan version dirs (crash leftovers) are ignored."""
    try:
        with open(os.path.join(root, _MARKER)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def publish(tables: dict[str, DataFrame], root: str) -> int:
    """Write every table of the new snapshot, then commit atomically.

    Returns the published version number. The marker flip (tmp file +
    os.replace) is the ONLY commit point: every table of version N is
    fully on disk before any reader can resolve N.

    Concurrent publishers are detected, not merged: the version
    directory is claimed with an exclusive mkdir, so two writers that
    race to the same next version get DISTINCT versions instead of
    interleaving their tables into one corrupted "committed"
    snapshot; the later marker flip wins (possibly pointing at the
    lower version number if that writer finished last — still a
    complete, consistent snapshot), and the other COMMITTED version
    stays time-travel readable.

    Each version carries its own `_COMMITTED` marker, written after
    every table and before the `_LATEST` flip. That is what separates
    a complete snapshot from a crashed half-write: without it, a
    crashed orphan below a LATER committed version would silently
    become "readable" torn time-travel data.
    """
    _require_local_root(root, "publish")
    os.makedirs(root, exist_ok=True)
    seen = _versions(root)
    version = (max(seen) + 1) if seen else 1
    while True:
        vdir = os.path.join(root, f"v={version}")
        try:
            # exclusive claim — the atomic "allocate a version" step
            os.makedirs(vdir, exist_ok=False)
            break
        except FileExistsError:
            version += 1
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(vdir, name))
    with open(os.path.join(vdir, _COMMITTED), "w") as f:
        f.write("ok")
    tmp = os.path.join(root, _MARKER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(root, _MARKER))
    return version


def _is_committed(root: str, v: int) -> bool:
    return os.path.exists(os.path.join(root, f"v={v}", _COMMITTED))


def read_published(
    spark: SparkSession, root: str, table: str, version: int | None = None
) -> DataFrame:
    """Read `table` at the committed snapshot version, or TIME-TRAVEL
    to any explicitly COMMITTED `version` (its _COMMITTED marker
    proves the snapshot finished; crashed half-writes never carry
    one, whatever their version number — so neither an orphan below
    the marker nor a concurrent publisher's higher complete version
    is misclassified)."""
    _require_local_root(root, "read_published")
    committed = current_version(root)
    if committed is None:
        raise FileNotFoundError(f"nothing published under {root}")
    v = committed if version is None else version
    vdir = os.path.join(root, f"v={v}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"version {v} is missing (vacuumed or never published)"
        )
    if not _is_committed(root, v):
        raise ValueError(
            f"version {v} was never committed (crashed or in-flight "
            "publish) — only committed snapshots are readable"
        )
    path = os.path.join(vdir, table)
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"version {v} of {table} is missing (vacuumed or never "
            f"published)"
        )
    return spark.read.parquet(path)


def vacuum(root: str, keep: int = 2) -> list[int]:
    """Drop all but the newest `keep` COMMITTED versions, plus every
    uncommitted version (crashed publishes, whatever their number —
    the _COMMITTED marker, not position relative to _LATEST, is what
    distinguishes them). Never touches the marker's version.
    Returns the removed version numbers.

    Run in the maintenance window only: an uncommitted version is
    indistinguishable from a publish IN FLIGHT, so a concurrent
    vacuum could tear it down mid-stage — the same single-writer
    caveat as compact_parquet's swap."""
    _require_local_root(root, "vacuum")
    committed = current_version(root)
    if committed is None:
        return []
    removed = []
    live = [v for v in _versions(root) if _is_committed(root, v)]
    doomed = set(live[:-keep]) if keep > 0 else set(live[:-1])
    doomed |= {v for v in _versions(root) if not _is_committed(root, v)}
    doomed.discard(committed)
    for v in sorted(doomed):
        shutil.rmtree(os.path.join(root, f"v={v}"), ignore_errors=True)
        removed.append(v)
    return removed
