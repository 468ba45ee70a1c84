"""Streaming pipelines.

Reference shapes re-expressed on Structured Streaming:

- word_count: socket word count, complete-mode stateful agg
  (lab06-avro-streaming/socket_streaming.py:11-19). The source is a
  parameter so tests drive it from a file/rate source; production
  passes readStream.format("socket").
- kafka_shaped_ingest: decode binary event records, flatten, carry
  source metadata, sink via foreachBatch to parquet partitioned by
  batch_id with checkpoint (spark_kafka_foreachbatch.py:31-98).
  The Kafka topic is replaced by any streaming DataFrame with a
  binary `value` column — file-based in tests, format("kafka") in
  production (identical downstream plan).
- file_watch_ingest: directory-watch incremental ETL with idempotent
  upsert + quarantine (lab05 fuel_ingest_dag.py) — the streaming file
  source's offset log subsumes the filename watermark.
- watermarked event-time ops (§2.9 gap): tumbling/sliding windows,
  session windows, dropDuplicatesWithinWatermark.

Every checkpointed sink is one micro-batch protocol with one
implementation per step: _start owns the foreachBatch start (its
availableNow trigger drains a bounded source to completion, so tests
run synchronously), _refuse_batch_regression refuses a wiped
checkpoint before a batch writes, and _overwrite_batch commits the
batch's own partition by dynamic overwrite (replay idempotency).
run_to_memory is the one availableNow drain into a memory table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def word_count(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """T5: running word counts (complete-mode stateful groupBy).
    socket_streaming.py:17-18 parity: split on spaces, explode, count."""
    words = lines.select(
        F.explode(F.split(F.col(value_col), " ")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count("*").alias("n"))


def enrich_batch(batch: DataFrame, batch_id: int) -> DataFrame:
    """T7: per-record ingest enrichment — lit(batch_id) +
    current_timestamp (spark_kafka_foreachbatch.py:80-81)."""
    return batch.withColumn("batch_id", F.lit(batch_id)).withColumn(
        "ingest_ts", F.current_timestamp()
    )


def _refuse_batch_regression(spark, path: str, batch_id: int, what: str) -> None:
    """Refuse a stream whose batch ids regressed below the sink's
    committed partitions — the wiped-checkpoint state. These sinks
    dynamically overwrite ``batch_id=N`` partitions for replay
    idempotency, so a restart-at-0 against a retained directory would
    DELETE old batches' rows one partition at a time (and, for an
    append-shaped sink, a fresh checkpoint replaying the whole source
    into batch 0 leaves batches 1..N behind as duplicates — also
    wrong). A legitimate crash-replay only re-runs the LAST batch, so
    max(on-disk batch_id) <= incoming is the invariant. A
    run-namespaced sink passes its run's directory
    (``path/run=<ns>``), which scopes the check to that checkpoint's
    run: a fresh checkpoint DIR is a new namespace and sails through.
    One driver-side Hadoop-FS listing per batch (any URI)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return
    max_batch = None
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            try:
                max_batch = max(
                    max_batch if max_batch is not None else -(2**62),
                    int(name.split("=", 1)[1]),
                )
            except ValueError:
                pass
    if max_batch is not None and max_batch > batch_id:
        raise RuntimeError(
            f"{what} at {path} already holds batch_id={max_batch} but "
            f"the stream is (re)starting at batch {batch_id}: the "
            "checkpoint was reset (its contents wiped in place) while "
            "the sink was retained. Proceeding would overwrite earlier "
            "batches' partitions (deleting their rows). Restart into a "
            "FRESH sink directory (a run-namespaced sink only needs a "
            "fresh checkpoint directory: it writes under a new run), "
            "or delete checkpoint and sink together."
        )


def _overwrite_batch(
    df: DataFrame, path: str, batch_id: int, run_ns: str | None = None
) -> None:
    """Commit one micro-batch: stamp ``[run,] batch_id`` and
    dynamically overwrite exactly that partition. A replay after a
    mid-write failure (checkpoint not yet committed) rewrites the
    partition instead of appending duplicates — the idempotent half
    of every sink (T8), the parquet analog of ON CONFLICT DO NOTHING.
    ``write_partitioned`` is imported per call so a caller that
    replaces the module attribute (perfbench's trace wrappers) sees
    every write."""
    from data_engineering_hs_spark.sources.parquet import write_partitioned

    cols = ["batch_id"]
    if run_ns is not None:
        df = df.withColumn("run", F.lit(run_ns))
        cols = ["run", "batch_id"]
    write_partitioned(
        df.withColumn("batch_id", F.lit(batch_id)),
        path,
        cols,
        mode="overwrite",
        dynamic=True,
    )


def _start(
    stream: DataFrame,
    checkpoint_dir: str,
    write_batch,
    available_now: bool,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start the checkpointed foreachBatch sink: a periodic trigger
    when ``processing_time`` is given, else an availableNow drain of
    what the source holds, else Spark's default trigger."""
    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def kafka_shaped_ingest(
    stream: DataFrame,
    decode,  # DataFrame -> DataFrame adding a struct col `data`
    sink_dir: str,
    checkpoint_dir: str,
    carry_cols: tuple[str, ...] = (),
    available_now: bool = True,
    processing_time: str | None = None,
) -> StreamingQuery:
    """S14-S19: decode → flatten data.* (+ carried source metadata) →
    foreachBatch append parquet partitioned by batch_id, checkpointed.

    `decode` is sources.avro.decode_avro_column (or from_json) bound
    to the payload schema; `stream` is any streaming DF with a binary
    `value` column (Kafka in prod: .format("kafka") with
    maxOffsetsPerTrigger for T1 batch sizing). `processing_time`
    (e.g. "5 seconds") selects a periodic trigger for long-running
    deployments (T9); tests default to availableNow drain.
    """
    decoded = decode(stream)
    flat = decoded.select(*carry_cols, "data.*")
    clash = {"batch_id", "ingest_ts"} & set(flat.columns)
    if clash:
        # enrich_batch stamps these via withColumn, silently replacing
        # same-named payload fields in the sink; columns are static at
        # definition time, so fail before the stream ever starts
        raise ValueError(
            f"kafka_shaped_ingest reserves column names {sorted(clash)} "
            "for batch enrichment; rename them in the decoded payload"
        )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        _refuse_batch_regression(
            batch.sparkSession, sink_dir, batch_id, "kafka_shaped_ingest sink"
        )
        _overwrite_batch(enrich_batch(batch, batch_id), sink_dir, batch_id)

    return _start(
        flat, checkpoint_dir, write_batch, available_now, processing_time
    )


def file_watch_ingest(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...],
    quarantine_dir: str | None = None,
    valid_predicate=None,
    available_now: bool = True,
) -> StreamingQuery:
    """S20-S23: incremental file ingest with idempotent keyed upsert.

    The streaming file source + checkpoint replaces lab05's filename
    watermark; per batch: split valid/invalid rows (quarantine —
    fuel_ingest_dag.py:130-134 _bad analog), dedup on keys, anti-join
    against the target (ON CONFLICT DO NOTHING), append.

    valid_predicate REQUIRES quarantine_dir: a predicate without a
    quarantine would silently drop the failing rows — the exact
    never-lose-bad-rows contract this sink exists for. Filter-only
    ingest is spelled `stream.filter(...)` by the caller, visibly.
    """
    from data_engineering_hs_spark.sources.upsert import upsert_parquet

    if valid_predicate is not None and quarantine_dir is None:
        raise ValueError(
            "valid_predicate without quarantine_dir would silently "
            "DROP failing rows — pass quarantine_dir, or filter the "
            "stream yourself if dropping is genuinely intended"
        )
    if quarantine_dir is not None and "batch_id" in stream.columns:
        # the quarantine stamps batch_id as its partition column,
        # silently replacing a same-named data column
        raise ValueError(
            "file_watch_ingest reserves the column name 'batch_id' "
            "for quarantine partitioning; rename it in the stream"
        )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        good = batch
        if valid_predicate is not None:
            # NULL-safe split: `pred` and `~pred` both drop NULL rows
            # (e.g. `col > 0` on a null column), which would silently
            # lose data in a pipeline whose quarantine exists to keep
            # bad rows. eqNullSafe routes every row to exactly one sink.
            good = batch.filter(valid_predicate.eqNullSafe(True))
            bad = batch.filter(~valid_predicate.eqNullSafe(True))
            # batch_id-partitioned dynamic overwrite, not append:
            # a replayed batch rewrites ITS OWN partition instead of
            # duplicating quarantine rows (good rows need no batch
            # guard: upsert_parquet is anti-join append,
            # batch-id-independent)
            _refuse_batch_regression(
                spark, quarantine_dir, batch_id, "file_watch_ingest quarantine"
            )
            _overwrite_batch(bad, quarantine_dir, batch_id)
        upsert_parquet(spark, target_dir, good, list(keys))

    return _start(stream, checkpoint_dir, write_batch, available_now)


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """§2.9 gap: event-time tumbling window with watermark — late rows
    beyond the watermark drop; append-mode emits finalized windows.
    `value_col` names the summed measure (parameterized like the
    rest of the signature; streams without one should pass a literal
    column or a different measure, not be forced to carry `value`)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum(value_col).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n",
            "total_value",
        )
    )


def sessionized_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """§2.9 gap: session windows (gap-based) per key."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """§2.9 gap: bounded-state streaming dedup."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join (§2.9-adjacent capability).

    Both sides carry watermarks so the join state is bounded: a right
    row is retained only until `watermark` past its event time, and
    the time-range condition (right within [left - max_lag, left])
    lets Spark evict matched/expired state. The canonical
    click-to-impression attribution shape.

    how="left_outer" additionally emits unmatched left rows with a
    null right side — but only once the watermark has passed the
    row's join window (Spark must be SURE no match can still arrive),
    so outer results surface a trigger later than inner ones. The
    time-range bound is REQUIRED for outer joins: without it the
    unmatched state could never be declared final.
    """
    from data_engineering_hs_spark.operators.cdc import _qcol

    # _qcol backtick-quotes the column segment: a raw f-string would
    # mis-parse a dotted column name as a nested-field path (the
    # generic-entry-point hazard operators/cdc.py documents)
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (_qcol("l", on) == _qcol("r", on))
        & (_qcol("r", right_ts) <= _qcol("l", left_ts))
        & (
            _qcol("r", right_ts)
            >= _qcol("l", left_ts) - F.expr(f"INTERVAL {max_lag}")
        )
    )
    # drop the duplicate right-side key so downstream selects are
    # unambiguous (USING-style output)
    return l.join(r, cond, how).drop(_qcol("r", on))


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drain a bounded streaming DF into an in-memory table and return
    (query, table_df) — the synchronous test/drive harness."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q, df.sparkSession.sql(f"SELECT * FROM {name}")


def streaming_dedup_ingest(
    stream: DataFrame,
    store_path: str,
    sink_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming corpus ingestion with cross-batch exact dedup: each
    micro-batch's survivors (operators.dedup.incremental_exact_dedup
    against the persistent fingerprint store) append to the corpus;
    their fingerprints commit to the store.

    Effectively-exactly-once without a transactional store — BOTH
    writes are per-batch-partition dynamic overwrites whose inputs are
    independent of any partial commit of this batch:
      1. the store read EXCLUDES this batch_id's own partition, so
         survivors compute identically on a replay even when a crash
         left a PARTIAL fingerprint commit behind (a blind append
         store had a real hole here: FileOutputCommitter moves task
         files into place sequentially, so a crash mid job-commit
         leaves SOME of the batch's prints visible; a replay reading
         them would shrink the survivor set and the corpus overwrite
         would then DELETE already-ingested rows — permanently, since
         their prints stayed in the store);
      2. survivors overwrite their batch_id corpus partition;
      3. fingerprints overwrite their batch_id store partition.
    Every crash point replays to the identical end state. Store AND
    sink are partitioned ``run=<ns>/batch_id=N/`` where <ns> is
    derived from the CHECKPOINT DIR (stable across restarts of the
    same checkpoint; fresh for a fresh checkpoint): batch ids restart
    at 0 after a checkpoint wipe, and a single-level batch_id layout
    then overwrote OLD batches' partitions one by one — deleting
    committed fingerprints (documents re-admitted later) and corpus
    rows. Namespacing makes a fresh-checkpoint rerun write beside the
    old run instead of over it (the full-source-replay recovery stays
    test-pinned: replayed docs dedup against the old run's prints and
    the corpus keeps every old partition), while a WIPED-IN-PLACE
    checkpoint (same dir, so same namespace, restarting at 0 against
    retained higher batches) is refused by _refuse_batch_regression on
    the run's directory.
    This is the streaming twin of the reference DAG's
    filename-watermark + ON CONFLICT load.
    """
    run_ns = _run_namespace(checkpoint_dir)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        _dedup_ingest_batch(
            batch, batch_id, store_path, sink_dir, text_col, id_col,
            run_ns=run_ns,
        )

    return _start(stream, checkpoint_dir, write_batch, available_now)


def _run_namespace(checkpoint_dir: str) -> str:
    """Stable run namespace for streaming_dedup_ingest's store/sink
    partitions, derived from the checkpoint dir: restarts of the same
    checkpoint (the crash-recovery path, where the replay-independence
    exclusion must keep matching the prior commit's partition) get the
    SAME namespace; a fresh checkpoint dir gets a fresh one, so its
    batch-0 restart writes beside earlier runs instead of over them.
    Caveat: a checkpoint MOVED to a new path changes namespace, which
    re-exposes a torn last-batch commit of the old run as ordinary
    store content — recover crashed checkpoints in place.

    The dir is NORMALIZED before hashing — trailing slashes stripped
    always, and schemeless (driver-local) paths made absolute — so the
    same checkpoint respelled across restarts ('ckpt' vs 'ckpt/' vs an
    equivalent relative path) keeps its namespace instead of silently
    bypassing the wiped-in-place guard and re-exposing the moved-
    checkpoint hazard on a mere respelling. URI checkpoints (s3a://,
    hdfs://) are hashed scheme-and-all after the slash strip: there is
    no meaningful 'relative' spelling to collapse, and mangling the
    authority would collide distinct stores."""
    import hashlib
    import os

    from data_engineering_hs_spark.sources.parquet import _local_path

    norm = checkpoint_dir.rstrip("/") or "/"
    if _local_path(norm) == norm:  # schemeless
        norm = os.path.abspath(norm)
    return hashlib.md5(norm.encode()).hexdigest()[:10]


def compact_ingest_store(spark, path: str) -> dict:
    """Collapse a run-namespaced ingest dataset
    (``path/run=<ns>/batch_id=N/`` — streaming_dedup_ingest's
    fingerprint store or corpus sink) into few partitions: every batch
    partition EXCEPT each run's maximum, and any earlier
    ``run=compacted`` one, merges into ``run=compacted/batch_id=-1``;
    each run's max-batch partition stays in place, as one file.

    Why: the run-namespaced layout accretes one partition per batch
    forever — at one batch per trigger that is thousands of small
    partitions/files within days, and every batch re-lists them.
    Content is unchanged — same rows, no distinct — so cross-run
    dedup results are identical before and after.

    Why each run's MAX batch stays in place: two safety invariants
    live on it. (1) Replay-independence — a crashed stream replays
    exactly its LAST batch, and _dedup_ingest_batch excludes
    run=<ns>/batch_id=<last> from the store it dedups against; fold a
    possibly-torn last commit into the consolidated partition and the
    replay would anti-join against its own partial fingerprints,
    silently dropping rows. (2) The wiped-checkpoint guard compares
    the incoming batch id against max(batch_id) under the run's
    directory — merging the max away would let a wiped-in-place
    restart sail through. Earlier batches of a live run are safe to
    merge mid-stream: only the last batch can ever replay. The
    relabeled rows can never collide with a real run (namespaces are
    hex digests; 'compacted' is reserved).

    The plan is read off ONE listing (partition values live in the
    directory names, never in the files), which is also the swap
    tripwire's baseline — a batch committed after it aborts the swap
    instead of vanishing. A target whose sources are exactly one data
    file (a run's single-file max batch, a lone earlier batch) is
    HARD-LINKED into the staged layout: no Spark job, no bytes
    rewritten. Links cannot cross filesystems; the staged directory is
    the store's sibling, and a link that fails anyway falls back to a
    rewrite. Only multi-file targets are REWRITTEN, each by one task
    into one file. Cost is O(merged files), not O(store); a store
    whose every target is already one file at its own path returns
    untouched, with nothing staged. A data file outside the
    ``run=<ns>/batch_id=<n>/`` layout (a stray root file, a legacy
    single-level ``batch_id=N``) raises ValueError naming it, before
    anything is staged.

    Crash-safe via the shared rename-aside swap (the staged layout's
    ``_SUCCESS`` written last, two POSIX renames, recover_swap
    finishes any crash point) — DRIVER-LOCAL paths only, like every
    swap caller; compact a remote store by rebuilding or a
    transactional format's OPTIMIZE. Run it between triggers or while
    the stream is stopped. A concurrent commit cannot vanish silently
    (r13 pre-check, r14 closure): the file set is re-snapshotted
    before the rename (check_no_concurrent_writer) AND re-verified
    after the park rename freezes the store (swap_in(staged=...)) — a
    commit in either window aborts with RuntimeError and the store
    rolled back intact (late batch included); a writer racing the
    renames themselves fails the swap loudly on ENOTEMPTY with both
    datasets preserved.

    Returns {"files_before", "files_after", "partitions_before",
    "partitions_after"}. Missing path and existing-but-empty store
    are both zero-stat no-ops (pinned in
    tests/test_store_lifecycle_edges.py). Readers spanning the swap
    see old-or-new per partition or a mid-scan FileNotFoundException
    (see sources.parquet.swap_in's CONCURRENT-READER VISIBILITY
    note) — compact between triggers.
    """
    import os
    import shutil

    from data_engineering_hs_spark.sources.parquet import (
        _require_local_swap_path,
        snapshot_data_files,
        staged_rewrite,
        store_writer_lease,
    )

    op = "compact_ingest_store"
    _require_local_swap_path(path, op)
    norm = path.rstrip("/")

    def stats(files: frozenset) -> tuple[int, int]:
        return len(files), len({os.path.dirname(f) for f in files})

    # SINGLE-WRITER (enforced, r16): maintenance on the ingest store
    # takes the store lease — a live trigger's batch commit is NOT
    # leased (failing production batches in favor of maintenance
    # would be backwards), so the staged-snapshot tripwire remains
    # the guard on that side.
    with store_writer_lease(path, op):
        files = snapshot_data_files(norm)
        n_files, n_parts = stats(files)
        out = {
            "files_before": n_files, "files_after": n_files,
            "partitions_before": n_parts, "partitions_after": n_parts,
        }
        plan = _compaction_plan(norm, files)
        if all(
            srcs == [f"{target}/{os.path.basename(srcs[0])}"]
            for target, srcs in plan.items()
        ):
            return out  # identity, or a missing/empty store

        def write(tmp: str) -> None:
            shutil.rmtree(tmp, ignore_errors=True)  # a crashed run's debris
            for target, srcs in plan.items():
                dst = os.path.join(tmp, target)
                os.makedirs(dst)
                if len(srcs) == 1:
                    try:
                        os.link(
                            os.path.join(norm, srcs[0]),
                            os.path.join(dst, os.path.basename(srcs[0])),
                        )
                        continue
                    except OSError:
                        pass
                spark.read.parquet(
                    *(os.path.join(norm, s) for s in srcs)
                ).coalesce(1).write.mode("overwrite").parquet(dst)
                os.remove(os.path.join(dst, "_SUCCESS"))
            # recover_swap reads tmp/_SUCCESS as "complete": last
            open(os.path.join(tmp, "_SUCCESS"), "w").close()

        staged_rewrite(norm, op, write, files)
        out["files_after"], out["partitions_after"] = stats(
            snapshot_data_files(norm)
        )
        return out


def _compaction_plan(norm: str, files: frozenset) -> dict[str, list[str]]:
    """compact_ingest_store's layout from a snapshot_data_files
    listing of the store at `norm`: target partition dir → its source
    files, both relative to the store."""
    import re

    parts = {}
    for f in sorted(files):
        m = re.fullmatch(r"run=([^/]+)/batch_id=(-?\d+)/[^/]+", f)
        if m is None:
            raise ValueError(
                f"compact_ingest_store: {norm}/{f.removeprefix('./')} is "
                "outside the run=<ns>/batch_id=<n>/ layout of an ingest "
                "store; move it out (or rebuild a legacy single-level "
                "batch_id store) before compacting"
            )
        parts.setdefault((m[1], int(m[2])), []).append(f)
    run_max = {}
    for run, batch in parts:
        run_max[run] = max(batch, run_max.get(run, batch))
    plan = {}
    for (run, batch), srcs in parts.items():
        keep = run != "compacted" and batch == run_max[run]
        target = f"run={run}/batch_id={batch}" if keep else "run=compacted/batch_id=-1"
        plan.setdefault(target, []).extend(srcs)
    return plan


def _string_run(df: DataFrame, path: str) -> DataFrame:
    """`df`, a read of the run-namespaced dataset at `path`
    (``run=<ns>/batch_id=N/``), with ``run`` typed as a STRING.
    Partition discovery infers value types, so a dataset whose every
    run namespace is all digits (a hex digest is, about 1 time in
    100) reads ``run`` as a number: the own-partition filter ``run ==
    <ns>`` then fails CAST_INVALID_INPUT on a non-numeric <ns>, and a
    leading-zero namespace loses its zero (``run=0123456789`` reads as
    123456789) — a cast after the read cannot restore it. Re-reading
    with an explicit ``run`` type makes Spark cast the raw directory
    string instead of inferring; a string-typed ``run`` returns as
    is."""
    from pyspark.sql import types as T

    if isinstance(df.schema["run"].dataType, T.StringType):
        return df
    return df.sparkSession.read.schema(
        T.StructType([
            T.StructField("run", T.StringType()) if f.name == "run" else f
            for f in df.schema.fields
        ])
    ).parquet(path)


def _dedup_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    sink_dir: str,
    text_col: str,
    id_col: str,
    run_ns: str = "main",
) -> None:
    """One micro-batch of streaming_dedup_ingest, module-level so the
    crash/replay protocol is directly testable (a foreachBatch closure
    can't be re-invoked by a test). ``run_ns`` is the checkpoint-
    derived namespace (streaming_dedup_ingest always passes it; the
    default only serves direct callers with a single logical run).

    SINK SCHEMA CONTRACT (r15 schema-drift probe): the fingerprint
    STORE is drift-safe by construction (fingerprints are computed
    xxhash64 → always BIGINT), but the corpus SINK carries the
    caller's columns verbatim. A restarted stream whose source schema
    changed (renamed/retyped columns) appends a new run whose files
    mix schemas with earlier runs' — a plain read of the sink then
    samples ONE footer and null-fills or type-errors depending on
    listing order. The engine cannot distinguish legitimate evolution
    (a new optional column, readable with mergeSchema=true) from
    drift, so the contract is the caller's: keep the sink schema
    append-stable, or route an evolved source to a NEW sink dir."""
    from data_engineering_hs_spark.operators.dedup import (
        incremental_exact_dedup,
        read_fingerprint_store,
        stamp_normalization_version,
    )

    spark = batch.sparkSession
    clash = {"run", "batch_id"} & set(batch.columns)
    if clash:
        # the layout stamps these as partition columns via withColumn,
        # which would silently REPLACE the caller's same-named data
        # columns in the sink — rename upstream instead
        raise ValueError(
            f"streaming_dedup_ingest reserves column names "
            f"{sorted(clash)} for its run/batch partitioning; rename "
            "them in the input stream"
        )
    for path, what in ((store_path, "store"), (sink_dir, "sink")):
        _refuse_batch_regression(
            spark, f"{path.rstrip('/')}/run={run_ns}", batch_id,
            f"streaming_dedup_ingest {what}",
        )
    store = read_fingerprint_store(spark, store_path)
    if store is not None:
        store = _string_run(store, store_path)
        # replay-independence: never let this batch's own (possibly
        # partial) prior commit influence its survivor set. Other
        # runs' partitions stay visible — cross-run dedup is the point
        # of retaining the store.
        own = (F.col("run") == run_ns) & (F.col("batch_id") == batch_id)
        store = store.filter(~own).select("fingerprint")
    # Materialize once: both writes below would otherwise re-run
    # the dedup plan (and re-read the store).
    survivors = incremental_exact_dedup(
        batch, store, text_col, id_col
    ).localCheckpoint(eager=True)
    _overwrite_batch(survivors.drop("fingerprint"), sink_dir, batch_id, run_ns)
    stamp_normalization_version(store_path)
    _overwrite_batch(survivors.select("fingerprint"), store_path, batch_id, run_ns)


def streaming_cdc_apply(
    changes_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    keys: list[str],
    available_now: bool = True,
    seq_col: str | None = None,
) -> StreamingQuery:
    """Streaming MERGE: apply a stream of snapshot_diff-shaped
    changesets (insert/update/delete rows with an `op` column) to a
    materialized parquet table — the streaming twin of the reference
    DAG's ON CONFLICT load, with delete support the upsert sink lacks.

    Each micro-batch runs operators.cdc.apply_changeset against the
    current table version and swaps the merged result in with the
    same rename-aside protocol as compact_ingest_store (every crash point
    leaves a complete table at a predictable name). Replay-safe
    WITHOUT a transactional log because apply_changeset is
    idempotent: re-applying a changeset deletes already-absent keys
    (no-op) and re-upserts identical rows — asserted by test.

    apply_changeset assumes AT MOST ONE row per key per batch (the
    snapshot_diff shape). A file source can coalesce several change
    files into one micro-batch, so: pass `seq_col` (a monotonically
    increasing change-sequence column) and the batch reduces to the
    LAST op per key before applying; without one, a batch carrying a
    conflicting key raises instead of silently resurrecting deleted
    rows or duplicating updates.

    `seq_col` orders ops only WITHIN a micro-batch. Across batches,
    the file source's arrival order (file modification time) decides
    which changeset applies first, and files with equal mtimes are
    ordered arbitrarily. A change directory copied without its mtimes
    (`cp -r`) can therefore apply changesets out of order: a cached
    benchmark dataset copied that way failed the ingest workload's
    seed 1 with "cdc table has 14563 rows, expected 14558" on every
    run, while a `cp -a` copy passed. Copy change files only with
    their mtimes preserved.

    At scale the merged rewrite is the standard copy-on-write MERGE
    cost (Delta/Hudi CoW); the anti-join side broadcasts when the
    batch is small. Partition-pruned rewrites (only touched
    partitions) are the compose-with-partitioning upgrade, same
    protocol per partition directory.

    DRIVER-LOCAL table_path ONLY: the swap protocol is POSIX renames
    (os.replace), which no object store or HDFS URI supports — a
    remote path is rejected up front with guidance rather than dying
    on a confusing FileNotFoundError at batch 0 (os.path.exists on
    's3a://…' is always False). Remote tables need a transactional
    format (Delta/Iceberg MERGE) — rename-aside cannot be made safe
    on eventually-consistent stores.
    """
    from pyspark.sql import Window

    from data_engineering_hs_spark.operators.cdc import apply_changeset
    from data_engineering_hs_spark.sources.parquet import (
        _require_local_swap_path,
        recover_swap,
        snapshot_data_files,
        staged_rewrite,
    )

    _require_local_swap_path(table_path, "streaming_cdc_apply")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        norm = table_path.rstrip("/")
        # self-heal a torn swap from a crashed predecessor run —
        # otherwise a crash between the two os.replace calls leaves
        # no directory at table_path and every replay dies on read
        recover_swap(norm, tmp_suffixes=("__merge",))
        b = batch
        if seq_col is not None:
            w = Window.partitionBy(*keys).orderBy(F.desc(seq_col))
            b = (
                b.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            conflict = (
                b.groupBy(*keys)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if conflict:
                raise ValueError(
                    "micro-batch contains multiple ops for key "
                    f"{tuple(conflict[0][k] for k in keys)}; pass "
                    "seq_col so the batch can reduce to the last op "
                    "per key"
                )
        # the sink is single-writer by checkpoint contract, but an
        # out-of-band writer to the same table would vanish in the
        # swap — same writer checks as the compaction family
        staged_rewrite(
            norm,
            "streaming_cdc_apply",
            lambda tmp: apply_changeset(
                spark.read.parquet(norm), b, keys=keys
            ).write.mode("overwrite").parquet(tmp),
            snapshot_data_files(norm),
            suffix="__merge",
        )

    return _start(changes_stream, checkpoint_dir, write_batch, available_now)
