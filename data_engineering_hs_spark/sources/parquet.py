"""Parquet sinks/sources (SURVEY.md §2.1 S8-S12).

Partitioned overwrite + pruned reads are the storage backbone:
`df.write.partitionBy("date").parquet(...)` (revenue_analysis/
main.ipynb:298) and filter-on-partition-column reads that Catalyst
prunes to single directories (cell cf747d35). Snappy is Spark's
default codec, matching generate_fuel_exports.py:202.

Scale: dynamic partition overwrite replaces only touched partitions
(the incremental materialization primitive used by plans.model_dag).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    dynamic: bool = False,
) -> None:
    """S8: partitioned parquet write; dynamic=True overwrites only the
    partitions present in df (incremental delete+insert semantics)."""
    w = df.write.mode(mode)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy(*partition_cols).parquet(path)


def read_pruned(
    spark: SparkSession, path: str, **partition_filters
) -> DataFrame:
    """S9: read the dataset root and filter on partition columns —
    Catalyst prunes to the matching directories (verified by
    PartitionFilters in the scan node, see tests)."""
    df = spark.read.parquet(path)
    for col, val in partition_filters.items():
        df = df.filter(df[col] == val)
    return df


def _local_path(path: str) -> str | None:
    """Driver-local filesystem path for a store `path`, or None for
    remote URIs (s3a://, hdfs://, …) — the ONE URI resolver of the
    store lifecycle. Spark's writers accept ``file://`` URIs but plain
    open()/os.path do NOT parse them, so the scheme is stripped;
    schemeless paths return unchanged."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme == "":
        return path
    if parsed.scheme == "file":
        return parsed.path or "/"
    return None


def _require_local_swap_path(path: str, op: str) -> None:
    """The rename-aside swap (swap_in/recover_swap) is POSIX os.replace
    and the file listings are os.listdir — reject URI paths up front
    instead of dying mid-protocol with a confusing FileNotFoundError
    after work was already done."""
    if _local_path(path) != path:
        raise ValueError(
            f"{op} requires a driver-local path (got {path!r}): the "
            "crash-safe swap is POSIX renames, which URIs (s3a/hdfs/"
            "abfs — and file://, pass the plain path) don't support; "
            "compact remote tables with a transactional format's "
            "OPTIMIZE"
        )


NORM_META = "_norm_meta.json"
STORE_META = "_store_meta.json"


def read_sidecar(path: str, name: str) -> dict | None:
    """The JSON sidecar `name` (NORM_META, STORE_META) beside a
    store's data, or None when the store has none — a missing file,
    or a remote URI, where sidecars degrade to the documented caller
    contract. Other read errors propagate: an unreadable stamp must
    not silently disable the check it carries."""
    import json
    import os

    local = _local_path(path)
    if local is None:
        return None
    try:
        with open(os.path.join(local, name)) as fh:
            return json.load(fh)
    except (FileNotFoundError, NotADirectoryError):
        return None


def write_sidecar(path: str, name: str, meta: dict) -> None:
    """Write a JSON sidecar beside a store's data (leading underscore
    ⇒ invisible to the parquet scan and carried by staged_rewrite).
    Skipped for remote URIs; on a driver-local path — including a
    ``file://`` URI — an OSError (missing dir, permissions, disk
    full) PROPAGATES: swallowing it would silently disable the guard
    the sidecar carries."""
    import json
    import os

    local = _local_path(path)
    if local is None:
        return
    with open(os.path.join(local, name), "w") as fh:
        json.dump(meta, fh, indent=0, sort_keys=True)


class ConcurrentWriterError(RuntimeError):
    """Another process/thread holds the writer lease on this store.

    The path-based persistent stores (the ingest store and its
    compaction, the cell store) are SINGLE-WRITER: the r16 race
    probe showed two barrier-released appends of a 100-row increment
    leave 197 rows — duplicates from the double-commit AND rows LOST
    outright, because both jobs share `path/_temporary` and one
    FileOutputCommitter's cleanup deletes the other's in-flight task
    files. Serialize your writers; this error is the loud form of
    that contract."""


LEASE_SUFFIX = ".__lease"


def _lease_file(path: str) -> str | None:
    """Sibling lease file for a store path (survives the rename-aside
    swap, which renames the store DIRECTORY), or None for remote URIs
    where POSIX flock doesn't exist — there the single-writer
    contract is documented-only (a transactional table format or
    S3 conditional puts are the real mechanism at that layer)."""
    local = _local_path(path)
    return None if local is None else local.rstrip("/") + LEASE_SUFFIX


def store_writer_lease(path: str, op: str):
    """Exclusive writer lease for a path-based store — the
    enforcement half of the single-writer contract (the staged-
    snapshot checks in swap_in remain as a tripwire against writers
    that bypass the mutators).

    POSIX `flock(LOCK_EX | LOCK_NB)` on a sibling `<path>.__lease`
    file: kernel-owned, so a crashed writer's lease releases the
    moment its process dies — no stale-TTL takeover logic, no
    leftover lock to clean up. flock conflicts between two open file
    descriptions even within one process, so two threads of one
    driver are serialized the same as two drivers. A held lease makes
    the SECOND writer raise ConcurrentWriterError immediately
    (fail-loud, not queue: the blocked writer's increment would
    otherwise commit after an arbitrarily long silent wait, and for
    compaction-vs-append the right answer is 'retry after the
    maintenance window', a caller decision).

    Remote store URIs (s3a://, hdfs://) yield WITHOUT enforcement —
    flock has no remote analog; the contract there is documented on
    every mutator. Context manager; the lease file itself is
    leading-punctuation-named so every data-file listing
    (snapshot_data_files, the parquet scan) already ignores it."""
    import contextlib
    import fcntl
    import json
    import os
    import time

    @contextlib.contextmanager
    def _lease():
        lf = _lease_file(path)
        if lf is None:
            yield
            return
        parent = os.path.dirname(os.path.abspath(lf))
        os.makedirs(parent, exist_ok=True)
        fd = os.open(lf, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                try:
                    holder = os.pread(fd, 4096, 0).decode(
                        "utf-8", "replace"
                    )
                except OSError:
                    holder = "<unreadable>"
                raise ConcurrentWriterError(
                    f"{op}: another writer holds the lease on "
                    f"{path} (holder: {holder or '<unknown>'}). The "
                    "path-based stores are single-writer — racing "
                    "appends double-commit AND lose in-flight task "
                    "files (shared _temporary); an append racing a "
                    "compaction strands its batch. Retry after the "
                    "current writer finishes."
                ) from None
            os.ftruncate(fd, 0)
            os.pwrite(
                fd,
                json.dumps(
                    {"op": op, "pid": os.getpid(),
                     "acquired_at": time.time()}
                ).encode(),
                0,
            )
            yield
        finally:
            os.close(fd)  # closes the description → releases the lock

    return _lease()


# Test seam for the pre-swap tripwire: called (with the store path)
# just before the concurrent-writer check so a test can deterministically
# inject a "commit" into the race window. Never set in production.
_pre_swap_test_hook = None

# Second seam: called (with the store path) inside swap_in BEFORE the
# park rename — i.e. AFTER check_no_concurrent_writer passed — so a
# test can inject a commit into the residual window the pre-check
# cannot see and prove the post-park verification trips on it.
_post_check_test_hook = None


def snapshot_data_files(path: str) -> frozenset:
    """Relative paths of every data file under `path` — the staging
    snapshot for the pre-swap concurrent-writer tripwire. Part-file
    names are unique per Spark write (UUIDs), so ANY concurrent
    commit — new partition or append into an existing one — changes
    this set."""
    import os

    norm = path.rstrip("/")
    out = set()
    for root, _dirs, files in os.walk(norm):
        rel = os.path.relpath(root, norm)
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.add(os.path.join(rel, f))
    return frozenset(out)


def check_no_concurrent_writer(
    path: str, staged: frozenset, op: str, tmp: str | None = None
) -> None:
    """Abort the swap if the live store changed since the staging
    read. The compaction family documents 'never concurrent with an
    active trigger's commit', but without this check a batch committed
    between the staging read and the rename SILENTLY VANISHES in the
    swap — the one data-loss shape the rename-aside protocol cannot
    see on its own. Cheap (one os.walk) relative to the rewrite it
    guards. On trip: the staged tmp copy is deleted and the live
    store is left untouched."""
    import shutil

    if _pre_swap_test_hook is not None:
        _pre_swap_test_hook(path)
    now = snapshot_data_files(path)
    if now != staged:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
        added = sorted(now - staged)[:5]
        removed = sorted(staged - now)[:5]
        raise RuntimeError(
            f"{op}: {path} changed between the staging read and the "
            f"swap (files added: {added}, removed: {removed}) — a "
            "concurrent writer committed mid-compaction and its data "
            "would have vanished in the swap. Aborted; the live store "
            "is untouched and the staged copy was discarded. Run "
            f"{op} between triggers / in a maintenance window."
        )


def staged_rewrite(
    path: str, op: str, write, staged: frozenset, suffix: str = "__compact"
) -> None:
    """Rewrite a driver-local store through the rename-aside swap —
    the ONE staged-rewrite path every store mutator that replaces a
    whole directory goes through. In order:

    1. `staged` is the caller's snapshot_data_files listing of the
       live store, taken BEFORE its read (and before any plan made
       from it), so a commit landing after it is seen by the checks
       below, never silently missing from the rewrite;
    2. ``write(tmp)``: the caller reads the store and writes the new
       version to ``<path>.<suffix>``;
    3. copy every ``_*.json`` sidecar (normalization stamp, store
       meta) into tmp — they are invisible to the parquet scan, so
       the swap would otherwise DROP them and a stamped store would
       silently degrade to the unstamped-legacy contract;
    4. check_no_concurrent_writer (pre-swap tripwire);
    5. swap_in(staged=…) (post-park verification, crash-safe renames;
       recover_swap finishes any crash point).

    The caller rejects URI paths up front (_require_local_swap_path)
    and holds the store lease where its contract calls for one."""
    import os
    import shutil

    norm = path.rstrip("/")
    tmp = norm + "." + suffix
    write(tmp)
    for f in os.listdir(norm):
        if f.startswith("_") and f.endswith(".json"):
            shutil.copyfile(os.path.join(norm, f), os.path.join(tmp, f))
    check_no_concurrent_writer(norm, staged, op, tmp)
    swap_in(tmp, norm, staged=staged, op=op)


def swap_in(
    tmp: str, path: str, staged: frozenset | None = None, op: str = "swap_in"
) -> None:
    """Commit a fully-written `tmp` dataset to `path` via the
    rename-aside protocol (the ONE shared implementation — the
    ordering is crash-sensitive and `recover_swap` assumes exactly
    these states): park the current dataset at `.__old`, rename tmp
    in, drop the parked copy. Every crash point leaves a complete
    dataset at a name recover_swap knows how to finish from.
    DRIVER-LOCAL paths only (POSIX os.replace) — callers that accept
    user paths reject URIs up front (_require_local_swap_path). Called
    only through staged_rewrite.

    `staged` (the snapshot_data_files set the rewrite was staged
    from) closes the concurrent-writer race the PRE-swap check
    (check_no_concurrent_writer) can only narrow: after the park
    rename freezes the live store, the parked copy is re-verified
    against `staged`. A writer that committed in the check→rename
    window is now visible in the parked set — the swap ROLLS BACK
    (original restored, late batch included, staged tmp discarded)
    and raises. A writer that instead recreates `path` after the park
    makes the second rename fail ENOTEMPTY with both datasets intact.
    Either way a late commit can no longer vanish silently — it
    aborts loudly with the store recoverable.

    CONCURRENT-READER VISIBILITY (r15, documented limitation): the
    single-writer guarantees above protect WRITERS only. A reader
    whose job spans the swap lists files per partition as it goes, so
    it can observe old files for partitions read before the rename
    and new files after — a mixed old/new view, or
    FileNotFoundException if a listed old file is deleted mid-scan.
    This is inherent to directory-rename swaps on a plain filesystem
    (no snapshot isolation without a table format); run the swap
    family in a maintenance window or behind an external
    reader-drain, same as any non-transactional lakehouse compaction.
    """
    import os
    import shutil

    norm = path.rstrip("/")
    old = norm + ".__old"
    if _post_check_test_hook is not None:
        _post_check_test_hook(norm)
    shutil.rmtree(old, ignore_errors=True)
    os.replace(norm, old)
    if staged is not None:
        parked = snapshot_data_files(old)
        if parked != staged:
            os.replace(old, norm)  # ENOTEMPTY here ⇒ both dirs kept
            shutil.rmtree(tmp, ignore_errors=True)
            added = sorted(parked - staged)[:5]
            removed = sorted(staged - parked)[:5]
            raise RuntimeError(
                f"{op}: {path} changed between the staging read and "
                f"the swap (files added: {added}, removed: {removed}) "
                "— a concurrent writer committed inside the swap "
                "window and its data would have vanished. Rolled "
                "back: the live store is restored (late batch "
                "included) and the staged copy was discarded. Run "
                f"{op} between triggers / in a maintenance window."
            )
    os.replace(tmp, norm)
    shutil.rmtree(old)


def recover_swap(path: str, tmp_suffixes: tuple[str, ...] = ("__compact", "__merge")) -> str:
    """Recovery for the rename-aside swap protocol (staged_rewrite:
    `__compact` for the compaction family, `__merge` for
    streaming.pipelines.streaming_cdc_apply).

    Crash states and actions (every state holds ≥1 COMPLETE dataset):
    - `path` present → swap finished (or never started): delete any
      leftover `.__old`/tmp dirs, return "intact".
    - `path` missing, tmp present WITH Spark's _SUCCESS marker → the
      crash hit between the two renames; the tmp copy is the complete
      NEW version: finish the swap, drop `.__old`, return
      "completed_swap".
    - `path` missing, only `.__old` present (or tmp incomplete) →
      crash hit mid-write or before the second rename with a torn tmp:
      restore the original, drop the torn tmp, return "rolled_back".
    """
    import os
    import shutil

    _require_local_swap_path(path, "recover_swap")
    # SINGLE-WRITER (enforced, r16): recovery racing a live writer
    # would finish/roll back a swap under its feet — take the lease.
    with store_writer_lease(path, "recover_swap"):
        norm = path.rstrip("/")
        old = norm + ".__old"
        tmps = [norm + "." + s for s in tmp_suffixes]
        if os.path.exists(norm):
            shutil.rmtree(old, ignore_errors=True)
            for t in tmps:
                shutil.rmtree(t, ignore_errors=True)
            return "intact"
        complete = [
            t for t in tmps if os.path.exists(os.path.join(t, "_SUCCESS"))
        ]
        if complete:
            os.replace(complete[0], norm)
            shutil.rmtree(old, ignore_errors=True)
            for t in tmps:
                shutil.rmtree(t, ignore_errors=True)
            return "completed_swap"
        if os.path.exists(old):
            os.replace(old, norm)
            for t in tmps:
                shutil.rmtree(t, ignore_errors=True)
            return "rolled_back"
        raise FileNotFoundError(f"no recoverable dataset for {path}")


def remove_partition_dirs(
    spark: SparkSession, path: str, partition_col: str, values: "list"
) -> int:
    """Delete the on-disk directories of the given partition VALUES,
    resolving Spark's physical names: special chars (: / % = #) are
    percent-escaped and NULL is spelled __HIVE_DEFAULT_PARTITION__,
    so a hand-built f"{col}={v}" path misses exactly the values that
    get escaped. Listing and deletion go through SPARK'S filesystem
    (not os.listdir), so a caller that pairs this with a dynamic
    partition overwrite works on any URI instead of succeeding the
    rewrite and then dying on a driver-local listing.
    Returns the number of directories removed."""
    from urllib.parse import unquote

    if not values:
        return 0
    gone_strs = {str(v) for v in values if v is not None}
    gone_null = any(v is None for v in values)
    prefix = f"{partition_col}="
    removed = 0
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        d = st.getPath().getName()
        if not d.startswith(prefix):
            continue
        raw = d[len(prefix):]
        if (raw == "__HIVE_DEFAULT_PARTITION__" and gone_null) or (
            raw != "__HIVE_DEFAULT_PARTITION__" and unquote(raw) in gone_strs
        ):
            fs.delete(st.getPath(), True)
            removed += 1
    return removed
