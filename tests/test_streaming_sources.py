"""Streaming windows (bounded replay vs batch twins), file/pipe sources,
multimodal plumbing."""

import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import assert_matches_oracle

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from jvm_spawns import process_spawns

SF_SMALL = "/root/testdata/sf0.001"


def test_tumbling_stream_matches_batch(spark, tmp_path):
    from kmr_spark.plans.analytics import events_tumbling_window
    from kmr_spark.streaming.windows import (
        run_available_now, stream_events, tumbling_counts_stream)

    stream = tumbling_counts_stream(stream_events(spark, SF_SMALL))
    got = run_available_now(stream, "tumbling_test", str(tmp_path / "ck1"))
    batch = events_tumbling_window(spark, SF_SMALL)
    g = sorted(map(tuple, got.select("window_start", "event_type", "n", "sum_value").collect()))
    b = sorted(map(tuple, batch.collect()))
    assert g == b


def test_session_stream_matches_batch_counts(spark, tmp_path):
    from kmr_spark.plans.analytics import events_sessionize
    from kmr_spark.streaming.windows import (
        run_available_now, sessionized_stream, stream_events)

    stream = sessionized_stream(stream_events(spark, SF_SMALL))
    got = run_available_now(stream, "session_test", str(tmp_path / "ck2"))
    batch = events_sessionize(spark, SF_SMALL)
    # session membership must agree: same (user, n_events, start, end) multiset
    g = sorted(map(tuple, got.select("user_id", "n_events", "t_start", "t_end").collect()))
    b = sorted(map(tuple, batch.select("user_id", "n_events", "t_start", "t_end").collect()))
    assert g == b


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """The applyInPandasWithState custom operator reproduces the batch
    lag+cumsum sessionization exactly, including session NUMBERING
    (which the built-in session_window cannot express)."""
    from kmr_spark.plans.analytics import events_sessionize
    from kmr_spark.streaming.windows import (
        run_available_now, sessionize_stateful_stream, stream_events)

    emitted = run_available_now(
        sessionize_stateful_stream(stream_events(spark, SF_SMALL)),
        "stateful_session_test", str(tmp_path / "ck_state"), output_mode="update")
    got = (
        emitted.groupBy("user_id", "session_id")
        .agg(F.max("n_events").alias("n_events"),
             F.min("start_us").alias("start_us"), F.max("end_us").alias("end_us"))
        .select("user_id", "session_id", "n_events",
                F.timestamp_micros("start_us").alias("t_start"),
                F.timestamp_micros("end_us").alias("t_end"))
    )
    batch = events_sessionize(spark, SF_SMALL)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert g == b


def test_streaming_dedup(spark, tmp_path):
    from kmr_spark.streaming.windows import (
        run_available_now, stream_events, streaming_dedup)

    got = run_available_now(
        streaming_dedup(stream_events(spark, SF_SMALL)), "dedup_test", str(tmp_path / "ck3"))
    n = got.count()
    assert n == 1000  # event_ids are unique in the testdata; none dropped


def test_streaming_parquet_sink_exactly_once(spark, tmp_path):
    """Checkpointed file sink: a bounded replay writes each input row
    exactly once, and re-running the same query against the same
    checkpoint writes nothing new (restart idempotence)."""
    from kmr_spark.streaming.windows import (
        run_available_now_to_parquet, stream_events, streaming_dedup)

    out, ck = str(tmp_path / "sink_out"), str(tmp_path / "sink_ck")
    got = run_available_now_to_parquet(
        streaming_dedup(stream_events(spark, SF_SMALL)), out, ck)
    assert got.count() == 1000
    # same checkpoint -> source offsets already committed -> no new rows
    again = run_available_now_to_parquet(
        streaming_dedup(stream_events(spark, SF_SMALL)), out, ck)
    assert again.count() == 1000


def _replay_conf_keys():
    from kmr_spark.streaming.windows import (_CHECKPOINT_MANAGER_KEY,
                                             _STATE_PROVIDER_KEY)
    return _CHECKPOINT_MANAGER_KEY, _STATE_PROVIDER_KEY


def test_replay_forks_no_readlink_and_restores_manager_conf(spark, tmp_path):
    """A replay's local checkpoint goes through the FileSystem-based
    checkpoint manager: Hadoop's local FileContext rename forks a
    ``readlink`` per path, 112 of them for this replay on 4 slots. The
    manager conf is scoped to the replay, also when the replay raises."""
    from kmr_spark.plans.analytics import events_tumbling_streamed
    from kmr_spark.session import scoped_conf
    from kmr_spark.streaming.windows import (merge_stream_to_state,
                                             stream_events)

    key, _ = _replay_conf_keys()
    before = spark.conf.get(key, None)
    with process_spawns(spark) as spawns:
        assert events_tumbling_streamed(spark, SF_SMALL).count() > 0
    assert spawns["readlink"] == 0, spawns
    assert spark.conf.get(key, None) == before

    fc = ("org.apache.spark.sql.execution.streaming.checkpointing."
          "FileContextBasedCheckpointFileManager")
    state = tmp_path / "state"
    (state / "v99").mkdir(parents=True)  # fails the first batch
    with scoped_conf(spark, {key: fc}):
        with pytest.raises(Exception, match="newer than batch"):
            merge_stream_to_state(stream_events(spark, SF_SMALL),
                                  str(state), str(tmp_path / "ck"))
        assert spark.conf.get(key, None) == fc


def test_replay_confs_keep_default_manager_off_local_fs(spark):
    from kmr_spark.streaming.windows import replay_confs

    key, provider = _replay_conf_keys()
    assert key in replay_confs(spark, "/dev/shm/ck")
    assert key in replay_confs(spark, "file:///tmp/ck")
    assert replay_confs(spark, "hdfs://nn:8020/ck") == {}
    assert set(replay_confs(spark, "s3a://b/ck", spill_state=True)) == {provider}


def test_dedup_streamed_spill_path_matches_oracle(spark, monkeypatch):
    """``run_available_now(..., spill_state=True)``: the RocksDB state
    store, parquet staging and the FileSystem-based checkpoint manager
    together, on every input (spill threshold 1 byte)."""
    from kmr_spark.plans.analytics import (EVENTS_DEDUP_STREAMED_SQL,
                                           events_dedup_streamed)
    from kmr_spark.streaming import windows

    monkeypatch.setattr(windows, "STATE_SPILL_BYTES", 1)
    assert windows.spill_state_store(spark, SF_SMALL)
    keys = _replay_conf_keys()
    before = [spark.conf.get(k, None) for k in keys]
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{os.path.join(SF_SMALL, 'events.parquet')}')")
    try:
        assert_matches_oracle(spark, con, events_dedup_streamed,
                              EVENTS_DEDUP_STREAMED_SQL, sf_dir=SF_SMALL)
    finally:
        con.close()
    assert [spark.conf.get(k, None) for k in keys] == before


def test_enumerate_and_text_lines(spark, tmp_path):
    from kmr_spark.sources.files import enumerate_files, read_text_lines

    d = tmp_path / "texts"
    d.mkdir()
    (d / "a.txt").write_text("hello world\nfoo bar\n")
    (d / "b.txt").write_text("baz\n")
    files = enumerate_files(spark, [str(d)])
    assert files.count() == 2
    lines = read_text_lines(spark, str(d))
    assert sorted(r["line"] for r in lines.collect()) == ["baz", "foo bar", "hello world"]


def test_csv_table_scan(spark, tmp_path):
    from kmr_spark.sources.files import read_csv_table

    p = tmp_path / "t.tbl"
    p.write_text("1|alice|3.5\n2|bob|4.25\n")
    df = read_csv_table(spark, str(p), "id long, name string, score double")
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "alice", 3.5), (2, "bob", 4.25)]


def test_pipe_map_identity_and_transform(spark):
    from kmr_spark.kvs import KVS
    from kmr_spark.sources.pipe import pipe_map

    kvs = KVS.from_pairs(spark, [(i, f"v{i}") for i in range(10)], "key long, value string")
    out = pipe_map(kvs.df, "cat")
    assert sorted((r["key"], r["value"]) for r in out.collect()) == [
        (str(i), f"v{i}") for i in range(10)]
    upper = pipe_map(kvs.df, "tr a-z A-Z")
    assert dict((r["key"], r["value"]) for r in upper.collect())["3"] == "V3"


def test_pipe_per_key_reduce(spark):
    from kmr_spark.kvs import KVS
    from kmr_spark.sources.pipe import pipe_per_key_reduce

    kvs = KVS.from_pairs(
        spark, [(i % 3, i) for i in range(9)], "key long, value long")
    # awk reducer: sum values per contiguous key run (kmrrun reducer shape)
    cmd = (
        "awk -F'\\t' '{ if ($1 != k && NR > 1) { print k \"\\t\" s; s = 0 } "
        "k = $1; s += $2 } END { print k \"\\t\" s }'"
    )
    out = pipe_per_key_reduce(kvs.df, cmd)
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"0": 0 + 3 + 6, "1": 1 + 4 + 7, "2": 2 + 5 + 8}


def test_multimodal_pipeline(spark):
    from kmr_spark.llm_ops.multimodal import (
        decode_media, make_media_table, resize_images, sample_frames)

    media = make_media_table(spark, n=30)
    decoded = decode_media(media, fake=True)
    rows = decoded.collect()
    assert len(rows) == 30
    import hashlib

    byid = {r["media_id"]: r for r in rows}
    payload0 = hashlib.sha256(b"0").digest()
    assert byid[0]["n_bytes"] == len(payload0)
    assert byid[0]["checksum"] == hashlib.md5(payload0).hexdigest()

    resized = resize_images(media, 8, 8, fake=True)
    rrows = resized.collect()
    assert all(len(r["payload"]) == 64 for r in rrows)
    assert {r["media_id"] % 3 for r in rrows} == {0}  # images only

    frames = sample_frames(media, every_n_bytes=32, fake=True)
    frows = frames.collect()
    assert frows and all(r["media_id"] % 3 == 2 for r in frows)  # videos only
    # UDTF shape: multiple frames per video
    from collections import Counter

    per = Counter(r["media_id"] for r in frows)
    assert max(per.values()) > 1


def test_multimodal_real_decode_is_gated(spark):
    import pytest

    from kmr_spark.llm_ops.multimodal import decode_media, make_media_table

    with pytest.raises(NotImplementedError):
        decode_media(make_media_table(spark, n=2))


def test_jsonl_roundtrip(spark, tmp_path):
    from kmr_spark.sources.files import read_jsonl, save_jsonl
    from kmr_spark.session import load_tables
    ev = load_tables(spark, "/root/testdata/sf0.001")["events"].select(
        "event_id", "user_id", "event_type", "value")
    out = str(tmp_path / "events_jsonl")
    save_jsonl(ev, out)
    back = read_jsonl(
        spark, out,
        "event_id long, user_id long, event_type string, value double")
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC roundtrip preserves schema+rows; a filtered read shows the
    predicate pushed to the scan (stripe-stats pruning at scale)."""
    from kmr_spark.sources.files import read_orc, save_orc

    df = spark.range(1000).selectExpr(
        "id", "id % 7 AS grp", "CAST(id AS STRING) AS s")
    path = str(tmp_path / "orc_roundtrip")
    save_orc(df, path)
    back = read_orc(spark, path)
    # (nullability flags legitimately widen on read; names/types must hold)
    assert [(f.name, f.dataType) for f in back.schema] == \
        [(f.name, f.dataType) for f in df.schema]
    assert back.count() == 1000
    filtered = back.filter("grp = 3").select("id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(grp), EqualTo(grp,3" in plan, plan
    assert filtered.count() == df.filter("id % 7 = 3").count()


def test_python_datasource_deterministic_and_partitioned(spark):
    """The custom Python DataSource (format 'kmr_docs') yields the
    declared partition count, a pure-function-of-index content (two
    reads identical), and rows matching the generator formula."""
    from kmr_spark.sources.pysource import _VOCAB, register_kmr_docs

    register_kmr_docs(spark)
    df = (spark.read.format("kmr_docs")
          .option("rows", 100).option("partitions", 6).load())
    assert df.rdd.getNumPartitions() == 6
    rows = sorted((r.doc_id, r.part, r.text, r.n_tokens)
                  for r in df.collect())
    again = sorted((r.doc_id, r.part, r.text, r.n_tokens)
                   for r in df.collect())
    assert rows == again and len(rows) == 100
    for i, _part, text, n in rows[:20]:
        expect_n = (i * 7) % 13 + 3
        assert n == expect_n
        toks = text.split(" ")
        assert len(toks) == expect_n
        assert toks[0] == _VOCAB[(i * 31) % len(_VOCAB)]


def test_python_datasource_composes_with_engine_ops(spark):
    """Source rows flow through ordinary engine operators (wordcount
    over the generated corpus) — the source is a first-class scan."""
    from pyspark.sql import functions as F

    from kmr_spark.sources.pysource import register_kmr_docs

    register_kmr_docs(spark)
    df = (spark.read.format("kmr_docs")
          .option("rows", 200).option("partitions", 4).load())
    wc = (df.select(F.explode(F.split("text", " ")).alias("w"))
          .groupBy("w").count())
    total = wc.agg(F.sum("count")).first()[0]
    assert total == df.agg(F.sum("n_tokens")).first()[0]


def test_streamed_gate_routes_and_conserves(spark):
    """Good + DLQ row counts conserve the input, and the quarantined
    total matches the per-row union of seeded violations."""
    from kmr_spark.plans.quality import events_gate_streamed
    from kmr_spark.session import load_tables

    rows = {r.rule: r.n_violations for r in
            events_gate_streamed(spark, SF_SMALL).collect()}
    n = load_tables(spark, SF_SMALL)["events"].count()
    assert rows["rows_ok"] + rows["rows_quarantined"] == n
    assert rows["rows_quarantined"] > 0  # seeded corruption is routed
    per_rule = sum(v for k, v in rows.items()
                   if k not in ("rows_ok", "rows_quarantined"))
    # a row can violate two rules at once (97*101 overlap) so the
    # union is <= the sum of rule counts
    assert rows["rows_quarantined"] <= per_rule or per_rule == 0


def test_python_datasource_stream_matches_batch(spark, tmp_path):
    """The Spark 4 Python STREAMING DataSource half of kmr_docs must
    replay the exact rows the batch reader produces: drain the stream
    to maxRows and compare (count, sum, text checksum) against the
    batch read of the same row range."""
    import time

    from pyspark.sql import functions as F

    from kmr_spark.sources.pysource import register_kmr_docs

    register_kmr_docs(spark)
    sdf = (spark.readStream.format("kmr_docs")
           .option("rowsPerBatch", 40).option("maxRows", 200).load())
    q = (sdf.writeStream.format("memory").queryName("pysrc_eq")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT count(*) n FROM pysrc_eq").collect()[0].n >= 200:
            break
        time.sleep(0.5)
    q.stop()

    def digest(df):
        return df.agg(
            F.count("*").alias("n"), F.sum("doc_id").alias("s"),
            F.sum(F.crc32(F.col("text"))).alias("ck")).collect()[0]

    got = digest(spark.table("pysrc_eq"))
    want = digest(
        spark.read.format("kmr_docs")
        .option("rows", 200).option("partitions", 4).load())
    assert (got.n, got.s, got.ck) == (want.n, want.s, want.ck)


def test_stream_events_reads_directory_tables(spark, tmp_path):
    """Production parquet tables are DIRECTORIES of part files; the
    single-file testdata layout needed a leaf-file glob that matches
    NOTHING against a directory, silently streaming zero rows (caught
    by the round-7 at-scale exactness run). Replaying a Spark-written
    directory copy must give the identical window census."""
    from kmr_spark.streaming.windows import (
        run_available_now, stream_events, tumbling_counts_stream)

    sf_copy = tmp_path / "sfdir"
    os.makedirs(sf_copy)
    (spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
     .repartition(4)
     .write.parquet(str(sf_copy / "events.parquet")))

    from_dir = run_available_now(
        tumbling_counts_stream(stream_events(spark, str(sf_copy))),
        "tumbling_dir_test", str(tmp_path / "ck_dir"))
    from_file = run_available_now(
        tumbling_counts_stream(stream_events(spark, SF_SMALL)),
        "tumbling_file_test", str(tmp_path / "ck_file"))
    d = sorted(map(tuple, from_dir.collect()))
    f = sorted(map(tuple, from_file.collect()))
    assert d and d == f


def _events_with_ts(tmp_path, name, ts_type, **write_opts):
    """A copy of the sf0.001 events table, written by pyarrow with ``ts``
    stored as ``ts_type``; returns its sf directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table["ts"].cast(ts_type))
    sf = tmp_path / name
    os.makedirs(sf)
    pq.write_table(table, str(sf / "events.parquet"), **write_opts)
    return str(sf)


def test_footer_ts_dtype_matches_spark_reader(spark, tmp_path):
    """parquet_ts_dtype reads one footer with pyarrow; it must name the
    type Spark's own batch read gives ``ts``, for every way a table can
    store it."""
    import pyarrow as pa

    from kmr_spark.streaming.windows import parquet_ts_dtype

    tables = {
        "nanos": _events_with_ts(tmp_path, "nanos", pa.timestamp("ns")),
        "naive_micros": _events_with_ts(tmp_path, "naive", pa.timestamp("us")),
        "utc_micros": _events_with_ts(tmp_path, "utc", pa.timestamp("us", tz="UTC")),
        "int96": _events_with_ts(tmp_path, "int96", pa.timestamp("us"),
                                 use_deprecated_int96_timestamps=True),
        "testdata": SF_SMALL,
    }
    spark_dir = tmp_path / "spark_dir"
    os.makedirs(spark_dir)
    (spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
     .repartition(3).write.parquet(str(spark_dir / "events.parquet")))
    tables["spark_dir"] = str(spark_dir)

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        for infer_ntz in (True, False):
            spark.conf.set(key, str(infer_ntz).lower())
            for name, sf in tables.items():
                path = os.path.join(sf, "events.parquet")
                want = dict(spark.read.parquet(path).dtypes)["ts"]
                got = parquet_ts_dtype(path, infer_ntz=infer_ntz)
                assert got == want, (name, infer_ntz, got, want)
    finally:
        spark.conf.set(key, old)
    assert parquet_ts_dtype(os.path.join(tables["nanos"], "events.parquet")) == "bigint"
    text = _events_with_ts(tmp_path, "text", pa.string())
    with pytest.raises(ValueError, match="not a timestamp"):
        parquet_ts_dtype(os.path.join(text, "events.parquet"))


def test_nanos_replay_matches_batch(spark, tmp_path):
    """A TIMESTAMP(NANOS) table streams as long ns and normalizes to the
    same windows as its batch twin."""
    import pyarrow as pa

    from kmr_spark.plans.analytics import events_tumbling_window
    from kmr_spark.streaming.windows import (
        run_available_now, stream_events, tumbling_counts_stream)

    sf = _events_with_ts(tmp_path, "nanos", pa.timestamp("ns"))
    got = run_available_now(tumbling_counts_stream(stream_events(spark, sf)),
                            "tumbling_nanos_test", str(tmp_path / "ck"))
    g = sorted(map(tuple, got.select(
        "window_start", "event_type", "n", "sum_value").collect()))
    b = sorted(map(tuple, events_tumbling_window(spark, sf).collect()))
    assert g and g == b


def test_state_partitions_floor_is_one_wave(tmp_path):
    """The state-store floor is capped at the task slots, so the stateful
    stage runs in one wave; an explicit lower floor (drop audit), the
    bytes term and the cap are unchanged."""
    from types import SimpleNamespace

    from kmr_spark.streaming.windows import sized_state_partitions

    def parts(slots, size, **kw):
        with open(tmp_path / "events.parquet", "wb") as f:
            f.truncate(size)  # sparse: the size is all that is read
        stub = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=slots))
        return sized_state_partitions(stub, str(tmp_path), **kw)

    small = 2 << 20
    assert [parts(s, small) for s in (4, 8, 32)] == [4, 8, 8]
    assert [parts(s, small, floor=2, n_batches=33) for s in (4, 32)] == [2, 2]
    assert parts(4, 20 * (32 << 20)) == 20   # bytes term
    assert parts(4, 5000 * (32 << 20)) == 4096   # cap
    assert parts(32, 40 * (32 << 20), n_batches=4) == 10
    assert sized_state_partitions(None, str(tmp_path / "missing")) is None
