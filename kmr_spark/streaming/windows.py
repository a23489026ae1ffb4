"""Watermarked event-time window operators over an events stream.

Each builder takes a *streaming* DataFrame with the events schema
(event_id, ts, user_id, event_type, value, props) and returns a
transformed streaming DataFrame; `stream_events` builds that input from
the driver testdata parquet so tests can replay the bounded stream with
Trigger.AvailableNow and compare against the batch twins in
kmr_spark.plans.analytics.

Scale notes: state size is bounded by the watermark (late rows beyond
it are dropped and their state evicted); all windows are keyed by
(window x type) or user so state partitions across executors.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kmr_spark.operators.pyworker import skip_unchanged_zip_rereads
from kmr_spark.session import (parquet_part_files, scoped_conf, scratch_dir,
                               sized_shuffle_partitions)

WATERMARK = "1 hour"


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (bounded replay of the stream).

    Testdata generations have stored ``ts`` as TIMESTAMP(NANOS) (read as
    long ns under nanosAsLong) or naive TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ); :func:`parquet_ts_dtype` picks the stream schema
    from one parquet footer (no Spark job: ~1 ms against 0.11-0.15 s
    for a batch ``spark.read.parquet(path).dtypes``), and either form
    normalizes to TimestampType (UTC) before any watermarking — same
    contract as kmr_spark.session.load_tables.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    ts_dt = parquet_ts_dtype(path, infer_ntz=spark.conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true")
    reader = spark.readStream.schema(
        f"event_id long, ts {ts_dt}, user_id long, event_type string, "
        "value double, props string")
    if os.path.isdir(path):
        # Spark-written table: a DIRECTORY of part files — the normal
        # production layout; point the file source straight at it.
        raw = reader.parquet(path)
    else:
        # driver testdata: a single bare file inside sf_dir. The file
        # source wants a directory, so read sf_dir with a leaf-file
        # glob. (pathGlobFilter matches LEAF files only — against a
        # directory table it would match nothing and silently stream
        # zero rows, which is why the isdir branch exists.)
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if ts_dt == "bigint":
        return raw.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


#: footer key under which Spark stores the schema of the files it writes
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def parquet_ts_dtype(path: str, infer_ntz: bool = True) -> str:
    """The type (``DataFrame.dtypes`` spelling) Spark's parquet reader
    gives the ``ts`` column of the table at ``path``, from one footer.

    Spark infers a table's schema from one footer, and a directory
    table's part-files share one schema, so the first leaf part-file
    stands for the table. The mapping is Spark's under nanosAsLong
    (which :func:`stream_events` pins): a schema Spark stored in the
    footer wins; INT96 reads as ``timestamp`` (its Arrow type looks
    naive, so the physical type is checked first); TIMESTAMP(NANOS) as
    ``bigint``; UTC-adjusted MILLIS/MICROS as ``timestamp``; naive
    ones as ``timestamp_ntz``, or ``timestamp`` when
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` (``infer_ntz``) is
    off. Any other ``ts`` type raises ValueError.
    """
    import json

    import pyarrow.parquet as pq

    leaf = path
    if os.path.isdir(path):
        parts = parquet_part_files(path)
        if not parts:
            raise FileNotFoundError(f"no parquet part-file under {path}")
        leaf = parts[0]
    md = pq.read_metadata(leaf)
    stored = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        return StructType.fromJson(json.loads(stored))["ts"].dataType.simpleString()
    col = next(c for c in (md.schema.column(i) for i in range(md.num_columns))
               if c.path == "ts")
    if col.physical_type == "INT96":
        return "timestamp"
    logical = json.loads(col.logical_type.to_json())
    if logical["Type"] != "Timestamp":
        raise ValueError(f"{leaf}: ts is {col.physical_type} "
                         f"{col.logical_type}, not a timestamp")
    if logical["timeUnit"] == "nanoseconds":
        return "bigint"
    return ("timestamp" if logical["isAdjustedToUTC"] or not infer_ntz
            else "timestamp_ntz")


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """1-hour tumbling window counts per event_type, watermarked.

    Streaming twin of plans.analytics.events_tumbling_window — identical
    groupBy(window, type) plan, plus state eviction via the watermark.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes (overlapping aggregates)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "event_type", "n")
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap —
    Spark's native session_window; merges windows as events arrive and
    closes them when the watermark passes the gap."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("t_start"), F.max("ts").alias("t_end"))
        .select("user_id", "n_events", "t_start", "t_end")
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Drop duplicate event_ids within the watermark horizon —
    dropDuplicates on a stream keeps per-key state only until the
    watermark passes, the streaming form of exact dedup."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(["event_id"])


def attribution_join_stream(purchases: DataFrame, clicks: DataFrame,
                            horizon: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: every purchase paired with the same
    user's clicks in the preceding ``horizon`` — streaming attribution.
    Both sides are watermarked, and the time-range predicate bounds how
    long a click is buffered (click state expires once the purchase
    watermark passes its join horizon): state is O(events in horizon)
    per user, not O(stream). Inner join, so a bounded replay emits
    every qualifying pair exactly once regardless of arrival order.
    """
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("p_value")).withWatermark("p_ts", horizon)
    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id")).withWatermark("c_ts", horizon)
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}")),
    )


def attribution_outer_stream(purchases: DataFrame, clicks: DataFrame,
                             horizon: str = "1 hour") -> DataFrame:
    """LEFT OUTER stream-stream join: like
    :func:`attribution_join_stream`, but purchases with NO preceding
    click in the horizon are also emitted (click columns NULL) — the
    rows a real attribution pipeline bills as organic. An unmatched
    purchase flushes once the global watermark passes its join window
    (no future click below ``p_ts`` can arrive), so its state is
    bounded exactly like the inner join's; purchases younger than the
    final watermark stay in state awaiting more data — in a bounded
    replay that tail is deterministic: ``p_ts >= min(max p_ts,
    max c_ts) - horizon`` (both sides' watermarks gate the flush).
    """
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("p_value")).withWatermark("p_ts", horizon)
    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id")).withWatermark("c_ts", horizon)
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}")),
        "leftOuter",
    )


def attribution_full_stream(purchases: DataFrame, clicks: DataFrame,
                            horizon: str = "1 hour") -> DataFrame:
    """FULL OUTER stream-stream join: matched (purchase, click) pairs,
    plus NULL-click rows for purchases no click preceded (organic
    conversions), plus NULL-purchase rows for clicks no purchase
    followed within the horizon (unconverted ad spend) — the complete
    attribution ledger. State eviction is watermark-exact on both
    sides: an unmatched purchase flushes when the watermark passes
    p_ts (no earlier click can still arrive); an unmatched click
    flushes when it passes c_ts + horizon (no qualifying purchase can
    still arrive). In a bounded replay both tails are deterministic:
    p_ts < wm and c_ts < wm - horizon for the final watermark
    wm = min(max p_ts, max c_ts) - horizon."""
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("p_value")).withWatermark("p_ts", horizon)
    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id")).withWatermark("c_ts", horizon)
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}")),
        "fullOuter",
    )


def versioned_merge_stream(events: DataFrame, state_dir: str,
                           checkpoint_dir: str, delta_fn, merge_fn) -> DataFrame:
    """Generic incremental-state maintenance runner: for every
    micro-batch, ``delta_fn(batch_df)`` builds the batch's state delta
    and ``merge_fn(prior_state, delta)`` folds it into the running
    state, which swaps through a versioned subdirectory per batch
    (read-old/write-new/repoint) so a failed batch never corrupts the
    current version; the checkpoint makes replayed batches re-merge
    idempotently onto the pre-batch version. ``merge_fn`` must be
    associative for the final state to equal the batch recompute
    regardless of micro-batch splits — which is what the oracles of
    both users of this runner check.

    Returns the final state as a batch DataFrame.
    """
    spark = events.sparkSession

    def _versions() -> list[int]:
        if not os.path.isdir(state_dir):
            return []
        return sorted(int(d[1:]) for d in os.listdir(state_dir)
                      if d.startswith("v") and d[1:].isdigit())

    # the schema of each version this run wrote: reading a version back
    # with it skips parquet schema inference (0.086 s for the final read
    # of events_state_streamed); a version left by an earlier, failed
    # run of the replay is still read with inference
    written: dict[int, StructType] = {}

    def _read_version(vid: int) -> DataFrame:
        reader = spark.read
        if vid in written:
            reader = reader.schema(written[vid])
        return reader.parquet(os.path.join(state_dir, f"v{vid}"))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent replay: the input state is always the newest
        # version strictly OLDER than this batch — a re-run of batch N
        # re-reads state N-1 and deterministically rewrites vN, never
        # double-merging its own previous partial output
        existing = _versions()
        if any(vid > batch_id for vid in existing):
            # a fresh checkpoint restarts batch ids at 0; pairing it
            # with a state_dir from another run would silently return
            # the stale higher-numbered version at the end
            raise ValueError(
                f"state_dir has versions {existing} newer than batch "
                f"{batch_id}; state_dir and checkpoint_dir belong to "
                "different runs — clear one of them")
        delta = delta_fn(batch_df)
        prior = [vid for vid in existing if vid < batch_id]
        merged = (delta if not prior
                  else merge_fn(_read_version(prior[-1]), delta))
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}"))
        written[batch_id] = merged.schema
        # prune superseded versions, but KEEP the direct predecessor:
        # if this batch's checkpoint commit fails, the replay re-reads
        # it. Anything older can never be read again.
        for vid in prior[:-1]:
            shutil.rmtree(os.path.join(state_dir, f"v{vid}"),
                          ignore_errors=True)

    with scoped_conf(spark, replay_confs(spark, checkpoint_dir)):
        q = (
            events.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    versions = _versions()
    if not versions:
        raise RuntimeError("versioned_merge_stream: no batches were processed")
    return _read_version(versions[-1])


def merge_stream_to_state(events: DataFrame, state_dir: str,
                          checkpoint_dir: str) -> DataFrame:
    """Maintain the per-user state table incrementally from a stream —
    the streaming form of plans.incremental.merge_user_state (counts,
    DECIMAL sums, lexicographic latest-row; exactly associative, so the
    final state equals the batch recompute however the replay was
    split)."""
    from kmr_spark.plans.incremental import _user_state, merge_user_state

    return versioned_merge_stream(
        events, state_dir, checkpoint_dir, _user_state, merge_user_state)


def hll_stream_to_state(events: DataFrame, state_dir: str,
                        checkpoint_dir: str) -> DataFrame:
    """Streamed HLL: maintain the per-(event_type, hour) REGISTER table
    incrementally — each micro-batch contributes max-rho registers and
    the merge is per-register MAX (associative AND idempotent, the
    strongest replay guarantee), so the final registers are bit-equal
    to the batch sketch however the stream was chopped. Returns the
    register state; fold with plans.sketches.hll_fold."""
    from pyspark.sql import functions as F

    from kmr_spark.plans.sketches import hll_registers, merge_hll_registers

    groups = ["event_type", "hour_ts"]

    def delta(batch_df: DataFrame) -> DataFrame:
        return hll_registers(
            batch_df.withColumn("hour_ts", F.date_trunc("hour", "ts")),
            "user_id", groups)

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return merge_hll_registers(a, b, groups)

    return versioned_merge_stream(
        events, state_dir, checkpoint_dir, delta, merge)


def enrich_stream(events: DataFrame, dim: DataFrame,
                  on_left: str = "user_id", on_right: str = "c_custkey") -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream
    hash-joins (broadcast, in practice) against a static dimension —
    stateless, append-mode, the standard lookup-table pattern. The
    static side is re-resolved per micro-batch, so a dimension refresh
    (new snapshot under the same path) is picked up without restarting
    the stream."""
    return events.join(
        F.broadcast(dim), events[on_left] == dim[on_right], "left")


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, matches plans.analytics


def sessionize_stateful_stream(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` —
    the arbitrary-stateful-operator surface the built-in
    ``session_window`` can't express (per-user session *numbering* that
    matches the batch lag+cumsum form in plans.analytics).

    Per-user state is one open session: (last event time, session id,
    event count, start, end), all in integer microseconds. Each batch
    emits final summaries for sessions it closed plus the cumulative
    summary of the still-open session; re-emissions across batches are
    resolved downstream by keeping the row with the largest n_events per
    (user, session). State is O(1) per user, keyed state partitions
    across executors — the 100 TB form of this operator.

    Deterministic equality with the batch twin requires per-user event
    order across micro-batches; the bounded single-file replay used by
    the correctness gate guarantees it (one AvailableNow batch, rows
    sorted per group inside the operator).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdf_iter, state):
        import pandas as pd

        skip_unchanged_zip_rereads()
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["us", "event_id"])
        if state.exists:
            last_us, sid, n, start_us, end_us = state.get
        else:
            last_us, sid, n, start_us, end_us = None, 0, 0, 0, 0
        uid = key[0]
        out = []
        for us in rows["us"].tolist():
            us = int(us)
            if last_us is None or us - last_us > gap_us:
                if n > 0:
                    out.append((uid, sid, n, start_us, end_us))
                sid += 1
                n, start_us, end_us = 1, us, us
            else:
                n += 1
                end_us = us
            last_us = us
        if n > 0:
            out.append((uid, sid, n, start_us, end_us))
        state.update((last_us, sid, n, start_us, end_us))
        yield pd.DataFrame(
            out, columns=["user_id", "session_id", "n_events", "start_us", "end_us"])

    keyed = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"))
    return keyed.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, session_id long, n_events long, "
                         "start_us long, end_us long",
        stateStructType="last_us long, session_id long, n long, "
                        "start_us long, end_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sized_state_partitions(spark: SparkSession, sf_dir: str,
                           table: str = "events.parquet",
                           target_bytes: int = 32 << 20,
                           floor: int = 8, cap: int = 4096,
                           n_batches: int = 1) -> int | None:
    """State-store partition count sized to the replayed input volume.

    A stateful streaming operator instantiates one state store per
    shuffle partition PER SIDE; each store pays per-batch delta-file
    commits and snapshot maintenance whether or not it holds keys.
    Over-partitioned state is therefore pure fixed cost: at sf0.1 the
    stream-stream attribution replay measured 5.4 s with 32 state
    partitions vs 1.9 s with 8 — same rows, same result, 3x the
    commit overhead. Size to ~target_bytes of input per partition.

    ``n_batches``: a replay that is SPLIT into many micro-batches
    (one file per ingest day, ``maxFilesPerTrigger=1``) pays the
    commit fixed cost PER BATCH per store, while each batch carries
    only total/n_batches bytes — so such callers size by per-batch
    volume and pass a lower floor. Measured r11 on the 33-batch
    drop-audit replay at sf0.1: 14.9 s with 8 stores -> 10.5 s with
    2. The floor=8 default stands for the single/few-batch replays:
    dropping THEM to 2 was measured slower (sessionize 2.6 -> 4.0 s —
    the runner's shuffle width throttles the stateful operator's real
    compute parallelism, which dominates when there is no per-batch
    commit fan to pay).

    The floor is capped at the task slots
    (``sparkContext.defaultParallelism``), so the stateful stage runs
    in ONE wave of tasks: with fewer slots than stores, a second wave
    pays every per-store commit again after the first. On ``local[4]``
    the sf0.01 tumbling replay's ``addBatch`` took 0.56-0.73 s with 8
    stores against 0.33 s with 2, and the whole query 1.00 s with 8
    against 0.85 s with 4 (12 alternating reps in one JVM). At 8 or
    more slots the floor stays 8. At real scale the bytes term
    dominates and the floor is irrelevant; past the cap, raise
    target_bytes instead so each store amortizes its commit. Returns
    None when the input size is unknowable (caller keeps the session
    default).
    """
    size = _replay_input_bytes(os.path.join(sf_dir, table))
    if size is None:
        return None
    floor = min(floor, spark.sparkContext.defaultParallelism)
    per_batch = -(-size // max(1, n_batches))
    return max(floor, min(cap, -(-per_batch // target_bytes)))


def _replay_input_bytes(path: str) -> int | None:
    """Input volume of a replayed table: file size, or the SUM of leaf
    part-file sizes when the table is a Spark-written DIRECTORY —
    ``os.path.getsize`` on a directory returns the dirent size (~4 KB),
    which silently sized every directory-table replay to the floor."""
    try:
        if os.path.isdir(path):
            return sum(map(os.path.getsize, parquet_part_files(path)))
        return os.path.getsize(path)
    except OSError:
        return None


#: input volume beyond which a replay's state store must spill off-heap
#: (RocksDB provider): the default HDFSBackedStateStore keeps every
#: state row as on-heap JVM objects, and a bounded replay that ingests
#: the whole table as one AvailableNow batch gets NO watermark eviction
#: until the batch commits — state ~ input volume, which OOMed the 8g
#: heap at the sf10 (10M-event) dedup replay. Parameterized for the
#: cluster; the local default keeps the driver bench on the (faster at
#: KB-state) in-memory provider.
STATE_SPILL_BYTES = int(os.environ.get("KMR_STATE_SPILL_BYTES",
                                       str(128 << 20)))
_STATE_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                     "RocksDBStateStoreProvider")
_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                          "checkpointing.FileSystemBasedCheckpointFileManager")


def replay_confs(spark: SparkSession, checkpoint_dir: str,
                 spill_state: bool = False) -> dict[str, str]:
    """Runtime confs a bounded replay runs under (:func:`scoped_conf`).

    A replay whose checkpoint is on the local file system writes it
    through Spark's FileSystem-based checkpoint manager instead of the
    default FileContext-based one. Without the native libhadoop,
    Hadoop's local FileContext rename forks a ``readlink`` process for
    each of its source and destination, and Spark renames every offset,
    commit, metadata and state-store file into place: 6–8 ms per fork on
    a 4-core host, 2384 forks for one ``events_drop_audit_streamed``
    call. The
    FileSystem-based manager renames with ``File.renameTo``, an atomic
    rename(2) on a local file system, and keeps Hadoop's ``.crc`` files
    and Spark's checkpoint checksums. A checkpoint on any other scheme
    (HDFS, object stores) keeps Spark's default manager, whose rename
    is atomic there. The ``chmod`` Hadoop forks for each created file
    or directory is left: only libhadoop avoids it.
    """
    scheme = urlsplit(checkpoint_dir).scheme or urlsplit(
        spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///")).scheme
    confs = {}
    if scheme == "file":
        confs[_CHECKPOINT_MANAGER_KEY] = _FS_CHECKPOINT_MANAGER
    if spill_state:
        confs[_STATE_PROVIDER_KEY] = _ROCKSDB_PROVIDER
    return confs


def _scratch_until_exit(path: str) -> None:
    """Defer removal of a replay's parquet staging dir to interpreter
    exit: the caller's ``finally`` deletes its CHECKPOINT dir as soon
    as the replay commits, but the returned batch DataFrame lazily
    reads the staged files for as long as the caller keeps it."""
    import atexit
    import shutil

    atexit.register(shutil.rmtree, path, ignore_errors=True)


def spill_state_store(spark: SparkSession, sf_dir: str,
                      table: str = "events.parquet") -> bool:
    """True when a replay of ``table`` should run on the RocksDB state
    store (off-heap, disk-backed) instead of the on-heap default —
    decided by input volume vs :data:`STATE_SPILL_BYTES`."""
    size = _replay_input_bytes(os.path.join(sf_dir, table))
    return bool(size and size > STATE_SPILL_BYTES)


def run_available_now_to_parquet(stream_df: DataFrame, out_dir: str,
                                 checkpoint_dir: str,
                                 state_partitions: int | None = None) -> DataFrame:
    """Bounded replay into a checkpointed parquet file sink (append
    mode) and return the written table. The checkpoint gives the sink
    exactly-once file-commit semantics across restarts — the streaming
    counterpart of KVS save/restore (kmr_save_kvs, reference
    src/kmrbase.c:1026). Append mode suits row transforms (maps, dedup,
    stateful emissions); watermark-closed aggregations flush only what
    the watermark passed — bounded-replay tails stay in state, so gate
    aggregates through the memory sink instead.
    """
    spark = stream_df.sparkSession
    with sized_shuffle_partitions(spark, n_partitions=state_partitions), \
            scoped_conf(spark, replay_confs(spark, checkpoint_dir)):
        q = (
            stream_df.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def run_available_now(stream_df: DataFrame, query_name: str, checkpoint_dir: str,
                      output_mode: str | None = None,
                      state_partitions: int | None = None,
                      spill_state: bool = False) -> DataFrame:
    """Execute a bounded replay to a memory sink and return the result
    as a batch DataFrame (test/verification harness).

    ``spill_state=True`` marks a replay whose STATE AND OUTPUT scale
    with input volume (watermark dedup) — pass
    :func:`spill_state_store`'s verdict. Two things change, neither of
    which affects results, only where rows live (guide §5):

    - the query runs on the RocksDB state store (off-heap,
      disk-backed; :func:`replay_confs`, restored after the replay) —
      the on-heap default holds ~|input| state rows as JVM objects
      within the single AvailableNow batch and OOMed the sf10
      (10M-event) replay;
    - an append-mode replay stages to a PARQUET sink on session-scoped
      scratch instead of the memory sink: the memory sink pins every
      emitted row on the driver heap for the session's lifetime (the
      sink table outlives the call), and reading it back re-ships the
      whole result inside task binaries (measured 82 s for the noop of
      the 10M-row sf10 dedup table vs seconds for the parquet scan).
      The parquet round-trip preserves values exactly; row order is
      not part of any replay's contract.
    """
    if output_mode is None:
        # infer from the logical plan, not column names: stateful
        # flat-map operators need update, aggregations need complete
        # (an append aggregation would drop the un-flushed watermark
        # tail of a bounded replay), plain transforms append
        plan = stream_df._jdf.queryExecution().analyzed().toString()
        if "FlatMapGroupsInPandasWithState" in plan:
            output_mode = "update"
        elif "Aggregate" in plan:
            output_mode = "complete"
        else:
            output_mode = "append"
    sess = stream_df.sparkSession
    to_parquet = spill_state and output_mode == "append"
    with sized_shuffle_partitions(sess, n_partitions=state_partitions), \
            scoped_conf(sess, replay_confs(sess, checkpoint_dir, spill_state)):
        if to_parquet:
            out_dir = scratch_dir("kmr_stream_out_")
            _scratch_until_exit(out_dir)
            writer = (
                stream_df.writeStream.format("parquet")
                .option("path", out_dir))
        else:
            writer = (
                stream_df.writeStream.format("memory")
                .queryName(query_name))
        q = (
            writer.outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if to_parquet:
        return sess.read.parquet(out_dir)
    return sess.sql(f"SELECT * FROM {query_name}")
