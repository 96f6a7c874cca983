"""The streaming workload ``cdc_drain_follow``: a closed drain, then an
open-loop follow, on one bootstrapped ``ParquetStateTable``.

Both phases drive ``streaming.pipeline.materialize_stream`` over one
generated OLR feed, resuming the same checkpoint:

- drain (``cdc_drain_wide``): a backlog of large transactions with
  uniform keys, ``available_now=True``; no JDBC mirror, no reader.
- follow (``cdc_follow_hot``): small transactions with Zipf-hot keys and
  in-order redeliveries dropped on a fixed schedule,
  ``available_now=False`` with the SQLite mirror through ``jdbc_sink`` and
  one reader thread; then one stale out-of-order redelivery, drained
  without the mirror.

The final state is checked against ``feed.reference_state`` and the
mirror against the reference's live rows.

Two uses the engine does not support yet are kept apart, in
``cdc_drain_follow_unsafe``: reads that overlap a merge (``current()``
can list files a merge is replacing) and stale redeliveries that reach
the mirror (``jdbc_sink.write_batch`` has no ``(scn, seq)`` guard).  The
same workload with those two changes fails its checks as measured.
"""

from __future__ import annotations

import datetime
import decimal
import os
import sqlite3
import threading
import time
from contextlib import closing
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException

import feed
import stats

# -- workload shape (recorded in perfbench/README.md) -----------------------

N_KEYS = 20_000
N_BUCKETS = 32  # ParquetStateTable's default, stated so touched_frac has a base
#: drain: uniform keys over a key space far larger than a batch; the
#: backlog holds about ``files_per_second * seconds`` files, in whole batches
DRAIN = dict(events_per_file=1_250, max_files_per_trigger=2, files_per_second=0.6)
#: follow: Zipf-hot keys, small transactions on a fixed schedule;
#: ``stale_prob`` applies in the unsafe variant only
FOLLOW = dict(events_per_file=6, zipf_s=1.2, files_per_second=5.0,
              reads_per_second=1.0, rewind_prob=0.05, rewind_max=3, stale_prob=0.05)


def write_snapshot(path: str, rows: list[dict]) -> None:
    """The bootstrap snapshot as parquet, typed like PRODUCT_SCHEMA."""
    def ts(col):
        return pa.array(
            [datetime.datetime.fromisoformat(r[col]).replace(tzinfo=datetime.timezone.utc)
             for r in rows],
            pa.timestamp("us", tz="UTC"),
        )

    table = pa.table({
        "id": pa.array([r["id"] for r in rows], pa.int32()),
        "name": [r["name"] for r in rows],
        "description": [r["description"] for r in rows],
        "price": pa.array([decimal.Decimal(f"{r['price']:.2f}") for r in rows],
                          pa.decimal128(10, 2)),
        "stock": pa.array([r["stock"] for r in rows], pa.int32()),
        "created_date": ts("created_date"),
        "updated_date": ts("updated_date"),
    })
    pq.write_table(table, path)


def _expected(snapshot: list[dict], files: list[list[str]]) -> dict:
    return {
        k: (deleted, feed.canon_row(img))
        for k, (deleted, img) in feed.reference_state(snapshot, files).items()
    }


def check_state(run, state, expected: dict) -> None:
    """``current("rewrite")`` must equal the reference, tombstones too."""
    try:
        rows = state.current("rewrite").collect()
    except Exception as e:  # noqa: BLE001 - a failed read is a failed check
        run.ops.record("check_state", False, f"{type(e).__name__}: {e}"[:200])
        return
    got = {r["id"]: (bool(r["__deleted"]), feed.canon_row(r.asDict())) for r in rows}
    bad = [k for k in expected if got.get(k) != expected[k]]
    extra = len(set(got) - set(expected))
    run.ops.record(
        "check_state",
        not bad and not extra and len(rows) == len(got),
        f"{len(bad)} keys differ, {extra} unexpected, {len(rows) - len(got)} duplicates",
    )


def check_mirror(run, db_path: str, expected: dict) -> None:
    """The SQLite mirror must hold exactly the live keys of the reference."""
    cols = ", ".join(feed.IMAGE_COLS)
    with closing(sqlite3.connect(db_path)) as db:
        rows = db.execute(f"SELECT {cols} FROM products").fetchall()
    got = {r[0]: feed.canon_row(dict(zip(feed.IMAGE_COLS, r))) for r in rows}
    live = {k: img for k, (deleted, img) in expected.items() if not deleted}
    bad = [k for k in set(live) | set(got) if got.get(k) != live.get(k)]
    run.ops.record("check_mirror", not bad, f"{len(bad)} keys differ")


def _state_files(data_dir: str) -> dict[str, set[str]]:
    out = {}
    if os.path.isdir(data_dir):
        for b in os.listdir(data_dir):
            if b.startswith("bucket_id="):
                out[b] = set(os.listdir(os.path.join(data_dir, b)))
    return out


def _parquet_stats(path: str) -> tuple[int, int]:
    """Number and total bytes of the parquet files under ``path``."""
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def install_stream_wrappers(run, state) -> None:
    """Traced run only: time the public calls the pipeline makes and
    count, at the same boundary, what each merge rewrote."""
    from olr_cdc_oracle_no_dbz_spark.streaming import jdbc_sink
    from olr_cdc_oracle_no_dbz_spark.streaming import state as state_mod

    def before_merge(args):
        return _state_files(state.data_dir)

    def after_merge(old, _result, attrs):
        new = _state_files(state.data_dir)
        rewritten = [b for b in new if new[b] != old.get(b)]
        attrs["buckets_rewritten"] = len(rewritten)
        attrs["bytes_written"] = sum(
            os.path.getsize(os.path.join(state.data_dir, b, f))
            for b in rewritten
            for f in new[b] - old.get(b, set())
            if f.endswith(".parquet")
        )

    def after_write(_old, result, attrs):
        attrs["rows"] = sum(result)

    run.tracer.wrap(type(state), "merge_batch", "streaming.state.merge_batch",
                    before_merge, after_merge)
    run.tracer.wrap(state_mod, "truncate_lineage", "checkpointing.truncate_lineage")
    run.tracer.wrap(jdbc_sink, "write_batch", "streaming.jdbc_sink.write_batch",
                    after=after_write)


def _bootstrap(run, snapshot_path: str):
    from olr_cdc_oracle_no_dbz_spark.streaming import ParquetStateTable

    state = ParquetStateTable(run.spark, os.path.join(run.work, "state"),
                              n_buckets=N_BUCKETS)
    t0 = time.time()
    state.bootstrap(run.spark.read.parquet(snapshot_path))
    return state, time.time() - t0


def _wait_committed(query, ckpt: str, names: set[str], deadline: float) -> None:
    """Poll until a committed batch has read every file in ``names``."""
    while time.time() < deadline and query.isActive:
        read_by = stats.source_log_batches(ckpt)
        last = query.lastProgress
        if names <= set(read_by) and last and int(last["batchId"]) >= max(
                read_by[n] for n in names):
            return
        time.sleep(0.1)


def _record_batches(run, query, progress: list[dict] | None = None) -> list[dict]:
    """One op per micro-batch that had input; a query that died counts
    one failed batch.  Returns the batches with input."""
    if progress is None:
        progress = list(query.recentProgress)
    data = [p for p in progress if p["numInputRows"] > 0]
    for _ in data:
        run.ops.record("batch", True)
    exc = query.exception()
    if exc is not None:
        run.ops.record("batch", False, str(exc)[:200])
    return data


def _drain(run, src: str, state, ckpt: str):
    """Drain what ``src`` holds (``available_now=True``); returns the
    ended query.  A failed batch ends it early: ``_record_batches``
    counts the failure and the checks still run."""
    from olr_cdc_oracle_no_dbz_spark.streaming import materialize_stream

    query = materialize_stream(
        run.spark, src, state, ckpt,
        max_files_per_trigger=DRAIN["max_files_per_trigger"], available_now=True)
    try:
        query.awaitTermination()
    except StreamingQueryException:
        pass
    return query


@dataclass
class Phase:
    """What one timed phase fed and saw."""

    name: str
    window: tuple[float, float]
    progress: list[dict]
    n_lines: int
    feed_bytes: int


def _phase_layer_metrics(run, ph: Phase, log) -> None:
    """Per-layer numbers of one phase (traced run), suffixed ``.<phase>``."""
    from eventlog import totals

    lay, sfx = run.layer, "." + ph.name
    lo, hi = ph.window
    data = [p for p in ph.progress if p["numInputRows"] > 0]
    trig = [p["durationMs"]["triggerExecution"] for p in data]
    add = [p["durationMs"].get("addBatch", 0) for p in data]
    if trig:
        s = stats.summarize(trig)
        lay["streaming.pipeline.batch_ms_p50" + sfx] = s.p50
        lay["streaming.pipeline.batch_ms_tail" + sfx] = s.tail
        lay["streaming.pipeline.add_batch_ms_p50" + sfx] = stats.summarize(add).p50
        lay["streaming.pipeline.overhead_ms_p50" + sfx] = stats.summarize(
            [t - a for t, a in zip(trig, add)]).p50
    lay["streaming.pipeline.input_rows_per_event" + sfx] = (
        sum(p["numInputRows"] for p in ph.progress) / ph.n_lines)

    def spans(name):
        return [s for s in run.tracer.named(name) if lo <= s.start_s <= hi]

    def ms_p50(found):
        return stats.summarize([(s.end_s - s.start_s) * 1000 for s in found]).p50

    merges = spans("streaming.state.merge_batch")
    if merges:
        attrs = [run.tracer.attrs.get(s.span_id, {}) for s in merges]
        lay["streaming.state.merge_ms_p50" + sfx] = ms_p50(merges)
        lay["streaming.state.touched_bucket_frac" + sfx] = stats.summarize(
            [a.get("buckets_rewritten", 0) / N_BUCKETS for a in attrs]).p50
        lay["streaming.state.write_amp" + sfx] = (
            sum(a.get("bytes_written", 0) for a in attrs) / ph.feed_bytes)
    cuts = spans("checkpointing.truncate_lineage")
    if cuts:
        lay["checkpointing.cut_ms_p50" + sfx] = ms_p50(cuts)
    writes = spans("streaming.jdbc_sink.write_batch")
    if writes:
        lay["streaming.jdbc_sink.write_ms_p50"] = ms_p50(writes)
        lay["streaming.jdbc_sink.rows_per_batch"] = stats.summarize(
            [run.tracer.attrs.get(s.span_id, {}).get("rows", 0) for s in writes]).p50

    if log is None or not data:
        return
    jobs = [j for j in log.jobs.values()
            if j.batch_id is not None and lo <= j.submit_s <= hi]
    stages = [s for j in jobs for s in log.job_stages(j)]
    decode = [s for s in stages if s.reads("Scan text")]
    lay["cdc.decode.passes_per_batch" + sfx] = (
        sum(s.input_bytes for s in decode) / ph.feed_bytes)
    lay["cdc.decode.cpu_ms_per_kevent" + sfx] = (
        sum(s.cpu_ms for s in decode) / (ph.n_lines / 1000.0))
    t = totals(stages)
    lay["streaming.pipeline.jobs_per_batch" + sfx] = len(jobs) / len(data)
    lay["streaming.pipeline.tasks_per_batch" + sfx] = t["tasks"] / len(data)
    lay["cdc.materialize.shuffle_mb_per_batch" + sfx] = t["shuffle_mb"] / len(data)


def _mirror_table(db_path: str, expected: dict) -> None:
    """Create the mirror and load it with the reference's live rows: the
    mirror is attached to a table that already has data."""
    with closing(sqlite3.connect(db_path)) as db, db:
        db.execute(
            "CREATE TABLE products (id INT PRIMARY KEY, name VARCHAR(100),"
            " description VARCHAR(500), price VARCHAR(20), stock INT,"
            " created_date VARCHAR(30), updated_date VARCHAR(30))")
        db.executemany(
            "INSERT INTO products VALUES (?, ?, ?, ?, ?, ?, ?)",
            [row for deleted, row in expected.values() if not deleted])


def _sqlite_factory(db_path: str):
    def connect():
        # sqlite3 binds neither Decimal nor datetime portably; the mirror
        # stores both as text
        sqlite3.register_adapter(decimal.Decimal, str)
        sqlite3.register_adapter(datetime.datetime,
                                 lambda v: v.strftime("%Y-%m-%d %H:%M:%S"))
        return sqlite3.connect(db_path, timeout=60)

    return connect


def _exclusive_merges(state) -> threading.Lock:
    """A lock ``state.merge_batch`` holds while it rewrites buckets; a
    reader that holds it sees a committed version of the table."""
    lock = threading.Lock()
    merge = state.merge_batch

    def merge_batch(delta) -> None:
        with lock:
            merge(delta)

    state.merge_batch = merge_batch
    return lock


def cdc_drain_follow(run) -> None:
    _drain_follow(run, unsafe=False)


def cdc_drain_follow_unsafe(run) -> None:
    """The follow's reads overlap merges and its stale redeliveries reach
    the mirror: both fail today (ROADMAP direction 3; no guard in
    ``jdbc_sink.write_batch``)."""
    _drain_follow(run, unsafe=True)


def _drain_follow(run, unsafe: bool) -> None:
    from olr_cdc_oracle_no_dbz_spark.streaming import materialize_stream

    # -- inputs: one feed, two shapes -------------------------------------
    # whole batches of max_files_per_trigger files each, after one warm-up
    # batch of the same shape
    per = DRAIN["max_files_per_trigger"]
    n_drain = per * max(1, round(run.seconds * DRAIN["files_per_second"] / per))
    n_follow = round(run.seconds * FOLLOW["files_per_second"])
    gen = feed.FeedGenerator(
        feed.FeedSpec(n_keys=N_KEYS, events_per_file=DRAIN["events_per_file"]),
        run.seed)
    drain_files = [gen.next_file() for _ in range(per + n_drain)]
    gen.set_spec(feed.FeedSpec(
        n_keys=N_KEYS, events_per_file=FOLLOW["events_per_file"],
        zipf_s=FOLLOW["zipf_s"], rewind_prob=FOLLOW["rewind_prob"],
        rewind_max=FOLLOW["rewind_max"],
        stale_prob=FOLLOW["stale_prob"] if unsafe else 0.0))
    # follow: file 0 warms the restarted stream up and the rest are
    # scheduled, a replay begun near the end included; the last is a
    # stale duplicate delivered once those are committed: nothing newer
    # follows it and no batch shares it, so an apply that ignores
    # (scn, seq) order is left holding older images
    follow_files = [gen.next_file() for _ in range(n_follow + 1)]
    while gen.pending_replay:
        follow_files.append(gen.next_file())
    follow_files.append(gen.stale_redelivery())
    n_sched = len(follow_files) - 2
    snapshot = feed.snapshot_rows(N_KEYS, run.seed)
    snap_path = os.path.join(run.work, "snapshot.parquet")
    write_snapshot(snap_path, snapshot)
    after_drain = _expected(snapshot, drain_files)
    expected = _expected(snapshot, drain_files + follow_files)
    db_path = os.path.join(run.work, "mirror.db")
    _mirror_table(db_path, after_drain)
    src, ckpt = os.path.join(run.work, "src"), os.path.join(run.work, "ckpt")
    os.makedirs(src)
    names = [feed.file_name(i) for i in range(len(drain_files) + len(follow_files))]
    follow_names = names[len(drain_files):]
    run.info.append(
        f"{N_KEYS} keys, {N_BUCKETS} buckets; drain: {per} warm-up and {n_drain} "
        f"timed files x {DRAIN['events_per_file']} events uniform, max_files_per_trigger="
        f"{DRAIN['max_files_per_trigger']}; follow: {FOLLOW['files_per_second']} "
        f"files/s x {FOLLOW['events_per_file']} events, Zipf s={FOLLOW['zipf_s']}, "
        f"reads {FOLLOW['reads_per_second']}/s; 1 warm-up file before the follow, "
        f"1 stale duplicate after it"
        + ("; unsafe: reads overlap merges, stale redeliveries reach the mirror"
           if unsafe else "; reads wait for merges, the duplicate bypasses the mirror"))

    # -- set-up: session, bootstrap, one warm-up drain batch ---------------
    # the first batch of a fresh JVM takes about twice as long as the rest;
    # it is set-up, like the snapshot bootstrap
    run.start_session()
    state, setup_s = _bootstrap(run, snap_path)
    if run.trace:
        install_stream_wrappers(run, state)
    merging = threading.Lock() if unsafe else _exclusive_merges(state)
    t_warm = time.time()
    for i in range(per):
        feed.write_file(src, names[i], drain_files[i])
    _record_batches(run, _drain(run, src, state, ckpt))
    setup_s += time.time() - t_warm

    # -- drain: closed, the whole backlog present at t0 -------------------
    timed = range(per, per + n_drain)
    drain_bytes = sum(feed.write_file(src, names[i], drain_files[i]) for i in timed)
    drain_lines = sum(len(drain_files[i]) for i in timed)
    t0 = time.time()
    query = _drain(run, src, state, ckpt)
    t1 = time.time()
    data = _record_batches(run, query)
    fresh, missing = stats.freshness_ms(
        {names[i]: t0 for i in timed}, stats.source_log_batches(ckpt),
        stats.batch_ends(data))
    phases = [Phase("drain", (t0, t1), list(query.recentProgress), drain_lines, drain_bytes)]
    run.primary(throughput=drain_lines / (t1 - t0), latency=[])
    run.info.append(f"drain: events_per_s {drain_lines / (t1 - t0):.1f} 1/s "
                    f"({drain_lines} lines / {t1 - t0:.2f} s wall)")
    if data:
        run.info.append("drain: freshness_ms " + stats.summarize(fresh).describe())
        run.info.append("drain: batch_ms " + stats.summarize(
            [p["durationMs"]["triggerExecution"] for p in data]).describe())

    # -- follow: open loop with the mirror and one reader -----------------
    t_warm = time.time()
    # back-to-back batches: the default 1 s trigger grid rounds each batch
    # cycle up to whole seconds, so freshness would jump by a second when a
    # batch crosses a boundary
    query = materialize_stream(
        run.spark, src, state, ckpt, available_now=False, processing_time="0 seconds",
        jdbc_sink={"connection_factory": _sqlite_factory(db_path),
                   "table": "products", "dialect": "postgresql"})
    feed.write_file(src, follow_names[0], follow_files[0])
    _wait_committed(query, ckpt, {follow_names[0]}, time.time() + 60)
    warm_batch = stats.source_log_batches(ckpt).get(follow_names[0], -1)
    run.setup(setup_s + time.time() - t_warm)

    t0 = time.time() + 0.2
    due = {i: t0 + (i - 1) / FOLLOW["files_per_second"] for i in range(1, n_sched + 1)}
    sent: dict[int, float] = {}
    follow_bytes = [0]

    def generate() -> None:
        for i in range(1, n_sched + 1):
            delay = due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            follow_bytes[0] += feed.write_file(src, follow_names[i], follow_files[i])
            sent[i] = time.time()

    reads: list[float] = []
    stop = threading.Event()

    def read() -> None:
        from pyspark.sql import functions as F

        for j in range(int(run.seconds * FOLLOW["reads_per_second"])):
            due_j = t0 + (j + 0.5) / FOLLOW["reads_per_second"]
            delay = due_j - time.time()
            if delay > 0 and stop.wait(delay):
                return
            with run.tracer.span("streaming.state.current", op=f"read{j}"), merging:
                try:
                    row = state.current("rewrite").agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.when(~F.col("__deleted"), F.col("stock"))).alias("s"),
                    ).collect()[0]
                    # tombstones are kept, so every key of the snapshot is
                    # in every committed version of the table
                    ok, note = row["n"] == N_KEYS, f"saw {row['n']} of {N_KEYS} keys"
                except Exception as e:  # noqa: BLE001 - counted, run goes on
                    ok, note = False, f"{type(e).__name__}: {str(e)[:150]}"
            reads.append((time.time() - due_j) * 1000.0)
            run.ops.record("read", ok, note)

    threads = [threading.Thread(target=generate, name="generator"),
               threading.Thread(target=read, name="reader")]
    for t in threads:
        t.start()
    threads[0].join()
    _wait_committed(query, ckpt, set(follow_names[1:-1]), time.time() + 60)
    dup = follow_names[-1]
    if unsafe:
        follow_bytes[0] += feed.write_file(src, dup, follow_files[-1])
        _wait_committed(query, ckpt, {dup}, time.time() + 60)
    stop.set()
    threads[1].join()
    t1 = time.time()
    progress = [p for p in query.recentProgress if int(p["batchId"]) > warm_batch]
    query.stop()
    data = _record_batches(run, query, progress)
    if not unsafe:
        # untimed: the mirror, like the Connect JDBC sink it stands for,
        # relies on in-order delivery; the state table must not
        feed.write_file(src, dup, follow_files[-1])
        _record_batches(run, _drain(run, src, state, ckpt))
    file_batch = stats.source_log_batches(ckpt)
    fresh, missing_f = stats.freshness_ms(
        {follow_names[i]: t for i, t in due.items()}, file_batch, stats.batch_ends(data))
    missing_f += [dup] if dup not in file_batch else []
    for name in missing + missing_f:
        run.ops.record("file", False, f"{name} never committed")
    follow_lines = sum(len(f) for f in follow_files[1:None if unsafe else -1])
    phases.append(Phase("follow", (t0, t1), progress, follow_lines, follow_bytes[0]))
    run.measured(phases[0].window[0], t1)
    run.latency = fresh
    late = stats.lateness_ms([due[i] for i in sent], list(sent.values()))
    run.layer["bench.generator.lateness_ms_max"] = max(late)
    run.info.append(f"follow: generator lateness max {max(late):.1f} ms over {len(late)} files")
    if data:
        run.info.append("follow: batch_ms " + stats.summarize(
            [p["durationMs"]["triggerExecution"] for p in data]).describe())
    if reads:
        s = stats.summarize(reads)
        run.layer["streaming.state.read_ms_p50"] = s.p50
        run.layer["streaming.state.read_ms_tail"] = s.tail
        run.info.append("follow: read_ms " + s.describe())
    run.layer["streaming.state.read_failed"] = run.ops.failed.get("read", 0)

    check_state(run, state, expected)
    check_mirror(run, db_path, expected)
    n_files, size = _parquet_stats(state.data_dir)
    run.layer["streaming.state.files"] = n_files
    run.layer["streaming.state.mb"] = size / 2**20
    if run.trace:
        log = run.event_log()
        for ph in phases:
            _phase_layer_metrics(run, ph, log)
