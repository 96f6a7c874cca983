"""Self-tests of the benchmark's statistics, event-log parser and feed
reference.  Run with ``python3 -m pytest perfbench``; they start no Spark
session."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import feed  # noqa: E402
import stats  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")


# -- tail rule and sample count ---------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(200, 95), (100, 90), (40, 75), (21, 52), (20, None), (5, None)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = stats.tail_percentile(n)
    assert p == expected
    if p is not None:
        rank = -(-n * p // 100)
        assert n - rank >= stats.TAIL_BEYOND
        # one percentile higher would leave fewer than ten beyond
        if p < 99:
            assert n - (-(-n * (p + 1) // 100)) < stats.TAIL_BEYOND


def test_summarize_reports_count_and_tail():
    values = [float(v) for v in range(1, 101)]  # 1..100
    s = stats.summarize(values)
    assert s.n == 100
    assert s.p50 == 50.5
    assert s.tail_pct == 90 and s.tail == 90.0
    assert "n=100" in s.describe() and "p90" in s.describe()


def test_summarize_small_sample_falls_back_to_max():
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s.tail_pct is None and s.tail == 3.0 and s.p50 == 2.0
    assert "max" in s.describe()


# -- failed_ratio accounting ------------------------------------------------


def test_failed_ratio_counts_errors_and_mismatches():
    ops = stats.Ops()
    for _ in range(7):
        ops.record("batch", True)
    ops.record("read", False, "FileNotFound")
    ops.record("read", True)
    ops.record("check_state", False, "3 keys differ")  # wrong output, no error
    assert ops.n_attempted == 10
    assert ops.n_failed == 2
    assert ops.failed_ratio() == pytest.approx(0.2)
    assert ops.failed == {"read": 1, "check_state": 1}
    assert ops.notes == ["read: FileNotFound", "check_state: 3 keys differ"]


def test_failed_ratio_of_nothing_is_zero():
    assert stats.Ops().failed_ratio() == 0.0


# -- freshness mapping ------------------------------------------------------


def test_source_log_maps_files_to_batches_across_compaction():
    # batch 0 has its own log file and is repeated in 1.compact; batch 2
    # follows the compaction; the .crc file is not a log entry
    got = stats.source_log_batches(os.path.join(FIXTURES, "checkpoint"))
    assert got == {
        "tx-0000000.json": 0,
        "tx-0000001.json": 0,
        "tx-0000002.json": 1,
        "tx-0000003.json": 2,
    }


def test_freshness_from_batch_ends():
    file_batch = stats.source_log_batches(os.path.join(FIXTURES, "checkpoint"))
    progress = [
        {"batchId": 0, "timestamp": "2023-11-14T22:13:20.000Z",
         "durationMs": {"triggerExecution": 1500}},
        {"batchId": 1, "timestamp": "2023-11-14T22:13:22.000Z",
         "durationMs": {"triggerExecution": 500}},
    ]
    ends = stats.batch_ends(progress)
    assert ends == {0: 1_700_000_001.5, 1: 1_700_000_002.5}
    due = {
        "tx-0000000.json": 1_700_000_000.0,
        "tx-0000001.json": 1_700_000_000.5,
        "tx-0000002.json": 1_700_000_001.0,
        "tx-0000003.json": 1_700_000_002.0,  # its batch 2 never committed
        "tx-0000004.json": 1_700_000_002.0,  # never read by any batch
    }
    samples, missing = stats.freshness_ms(due, file_batch, ends)
    assert samples == pytest.approx([1500.0, 1000.0, 1500.0])
    assert missing == ["tx-0000003.json", "tx-0000004.json"]


# -- generator lateness -----------------------------------------------------


def test_generator_lateness_is_actual_minus_due_never_negative():
    due = [10.0, 10.1, 10.2]
    actual = [10.0005, 10.25, 10.19]
    assert stats.lateness_ms(due, actual) == pytest.approx([0.5, 150.0, 0.0])


# -- event log --------------------------------------------------------------


def _fixture_log():
    return eventlog.parse(os.path.join(FIXTURES, "eventlog_v2_local-1"))


def test_eventlog_per_stage_metrics():
    log = _fixture_log()
    s0, s1, s2 = log.stages[0], log.stages[1], log.stages[2]
    # the failed attempt of stage 0 is not counted
    assert s0.n_tasks == 2
    assert s0.cpu_ms == pytest.approx(5.0)
    assert s0.gc_ms == 3
    assert s0.input_bytes == 1500
    assert s0.shuffle_write_bytes == 3072
    assert s0.peak_exec_mem_bytes == 300
    assert s0.reads("Scan text") and not s1.reads("Scan text")
    assert s1.shuffle_read_bytes == 3072 and s1.spill_bytes == 5120
    assert s2.python_bytes == 1_048_576


def test_eventlog_skipped_stage_belongs_to_first_job():
    log = _fixture_log()
    assert [s.stage_id for s in log.job_stages(log.jobs[0])] == [0, 1]
    assert [s.stage_id for s in log.job_stages(log.jobs[1])] == [2]
    assert log.jobs[0].batch_id == 0 and log.jobs[1].batch_id is None


def test_eventlog_totals():
    log = _fixture_log()
    t = eventlog.totals(log.job_stages(log.jobs[0]))
    assert t["stages"] == 2 and t["tasks"] == 3
    assert t["cpu_ms"] == pytest.approx(6.0)
    assert t["shuffle_mb"] == pytest.approx(3072 / 2**20)
    assert t["spill_mb"] == pytest.approx(5120 / 2**20)
    assert t["peak_exec_mem_mb"] == pytest.approx(300 / 2**20)
    assert eventlog.totals(log.job_stages(log.jobs[1]))["python_mb"] == 1.0


def test_attribute_jobs_to_innermost_span_skipping_stream_jobs():
    log = _fixture_log()
    S = eventlog.Span
    spans = [
        # overlaps the streaming job 0, which is tied to its batch instead
        S(1, "streaming.state.current", 1_700_000_001.5, 1_700_000_006.0, None, "read0", "reader"),
        S(2, "workload.tpch.q", 1_700_000_005.0, 1_700_000_006.5, None, "pass0", "main"),
        S(3, "workload.tpch.q.inner", 1_700_000_005.4, 1_700_000_005.6, 2, "pass0", "main"),
    ]
    assert eventlog.attribute(log, spans) == {0: None, 1: 3}


# -- feed reference ---------------------------------------------------------


def _ev(scn, seq, op, key, stock, table=feed.TABLE):
    img = {"id": key, "name": f"n{stock}", "description": None, "price": 1.5,
           "stock": stock, "created_date": "2026-01-01 00:00:00",
           "updated_date": "2026-01-01 00:00:00"}
    return json.dumps({
        "scn": scn, "seq": seq, "op": op, "schema_owner": feed.OWNER,
        "schema_table": table,
        "before": img if op == "d" else None,
        "after": None if op == "d" else img,
    })


def test_reference_is_last_op_per_key_by_scn_then_seq():
    snap = feed.snapshot_rows(3, seed=1)
    files = [
        [_ev(10, 1, "u", 0, 5), _ev(10, 2, "u", 0, 6), '{"scn": 11, "op"'],
        [_ev(12, 1, "d", 1, 0), _ev(13, 1, "u", 2, 9, table="CUSTOMER")],
        # a redelivery of the first file, after newer events: must not win
        [_ev(10, 1, "u", 0, 5), _ev(10, 2, "u", 0, 6)],
        [_ev(9, 1, "u", 1, 77)],  # older than the delete of key 1
    ]
    ref = feed.reference_state(snap, files)
    assert ref[0][0] is False and ref[0][1]["stock"] == 6
    assert ref[1][0] is True  # tombstone kept
    assert ref[2] == (False, snap[2])  # foreign-table event ignored


def test_feed_is_deterministic_per_seed_and_replays_in_order():
    spec = feed.FeedSpec(n_keys=50, events_per_file=5, rewind_prob=0.3)
    a = feed.FeedGenerator(spec, seed=4)
    b = feed.FeedGenerator(spec, seed=4)
    fa = [a.next_file() for _ in range(30)]
    assert fa == [b.next_file() for _ in range(30)]
    assert fa != [feed.FeedGenerator(spec, seed=5).next_file() for _ in range(30)]
    # a redelivered file repeats an earlier one verbatim
    assert len({tuple(f) for f in fa}) < len(fa)


def test_feed_stale_redelivery_replays_an_older_file_alone():
    spec = feed.FeedSpec(n_keys=50, events_per_file=5, stale_prob=0.3)
    gen = feed.FeedGenerator(spec, seed=4)
    delivered = [gen.next_file() for _ in range(40)]
    fresh: list[list[str]] = []
    stale = 0
    for f in delivered:
        if f not in fresh:
            fresh.append(f)
            continue
        stale += 1
        # from the older half of what was delivered fresh so far
        assert fresh.index(f) < len(fresh) // 2
    assert stale > 0


def test_exclusive_merges_hold_the_readers_lock():
    import cdc

    class State:
        def merge_batch(self, delta):
            held.append((delta, lock.locked()))

    held: list = []
    state = State()
    lock = cdc._exclusive_merges(state)
    state.merge_batch("d1")
    assert held == [("d1", True)] and not lock.locked()
