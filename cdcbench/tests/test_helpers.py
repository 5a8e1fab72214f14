"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


@pytest.mark.parametrize(
    "n, pct, rank",
    [(19, None, None), (20, 50.0, 10), (39, 50.0, 20), (40, 75.0, 30), (100, 90.0, 90),
     (200, 95.0, 190), (1000, 99.0, 990), (10000, 99.9, 9990)],
)
def test_tail_keeps_ten_samples_beyond(n, pct, rank):
    xs = [float(i) for i in range(n, 0, -1)]  # unsorted input, values 1..n
    got = stats.tail(xs)
    if pct is None:
        assert got is None
        return
    value, p, count = got
    assert (p, count) == (pct, n)
    assert value == float(rank)
    assert sum(1 for x in xs if x > value) >= 10


def test_eventlog_attributes_tasks_to_job_groups():
    with open(os.path.join(HERE, "fixtures", "eventlog_small.jsonl")) as fh:
        groups, jobs = eventlog.parse(fh)
    merge, lake, untagged = groups["merge"], groups["lake"], groups[""]
    assert merge["jobs"] == 1 and merge["tasks"] == 3  # stage 1 inherits the job's group
    assert merge["task_cpu_s"] == pytest.approx(3.0)
    assert merge["gc_s"] == pytest.approx(0.025)
    assert merge["shuffle_write_bytes"] == 150
    assert merge["spill_bytes"] == 10
    assert merge["input_rows"] == 15
    assert (lake["jobs"], lake["tasks"], lake["output_rows"], lake["output_bytes"]) == (1, 1, 4, 640)
    assert (untagged["jobs"], untagged["tasks"]) == (1, 1)
    flat = eventlog.layer_metrics(groups, ["merge", "lineage"])
    assert flat["merge.input_rows"] == 15 and flat["lineage.jobs"] == 0
    assert jobs == [(1.0, "merge"), (2.0, "lake"), (3.0, "")]
    assert eventlog.tagged_share(jobs, {"merge", "lake"}, [(0.0, 10.0)]) == pytest.approx(2 / 3)
    assert eventlog.tagged_share(jobs, {"merge", "lake"}, [(2.5, 10.0)]) == 0.0
    assert eventlog.tagged_share(jobs, {"merge", "lake"}, [(0.5, 1.5), (2.5, 3.5)]) == 0.5


def _state_file(tmp_path, name, rows):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
    path = os.path.join(tmp_path, f"{name}.parquet")
    pq.write_table(table, path)
    return f"SELECT * FROM read_parquet('{path}')"


def test_oracle_diff_catches_one_planted_row(tmp_path):
    import datetime as dt

    ts = dt.datetime(2026, 1, 1)
    rows = [(f"c{i}", i, "user", f"t{i}", None, ts, 100 + i) for i in range(50)]
    con = oracle.connect()
    same = _state_file(tmp_path, "same", rows)
    assert oracle.diff_rows(con, same, _state_file(tmp_path, "copy", list(reversed(rows)))) == 0
    changed = rows[:]
    changed[17] = changed[17][:3] + ("edited",) + changed[17][4:]
    assert oracle.diff_rows(con, same, _state_file(tmp_path, "changed", changed)) == 2
    assert oracle.diff_rows(con, same, _state_file(tmp_path, "missing", rows[:-1])) == 1


def test_lww_oracle_keeps_tombstones_and_stragglers(tmp_path):
    spec = gen.CdcSpec(n_convs=20, turns=5, batch_events=400, n_batches=4, warm_batches=1, warm_events=100, hot_share=0.2,
                       hot_turns=4, delete_share=0.3, straggler_share=0.05, ooo_window=40,
                       redelivery_share=0.05, payload_chars=20)
    boot, batches = gen.cdc_feed(spec, 7)
    paths = []
    for i, t in enumerate([boot, *batches]):
        paths.append(os.path.join(tmp_path, f"b{i}.parquet"))
        gen.write_table(t, paths[-1])
    con = oracle.connect()
    oracle.feed_view(con, paths)
    # reference LWW in Python: highest lsn per key, deletes drop the key
    best = {}
    for t in [boot, *batches]:
        for r in t.to_pylist():
            k = (r["conv_id"], r["turn_idx"])
            if k not in best or r["lsn"] > best[k]["lsn"]:
                best[k] = r
    live = [r for r in best.values() if r["op"] != "D"]
    assert oracle.state_summary(con) == (len(live), sum(r["lsn"] for r in live))
    assert oracle.max_lsn(con) == max(r["lsn"] for r in best.values())


def test_feed_is_seeded_and_late_events_stay_in_window():
    spec = gen.CdcSpec(n_convs=50, turns=10, batch_events=1000, n_batches=3, warm_batches=0, warm_events=0, hot_share=0.2,
                       hot_turns=8, delete_share=0.2, straggler_share=0.02, ooo_window=100,
                       redelivery_share=0.02, payload_chars=40)
    a_boot, a = gen.cdc_feed(spec, 11)
    b_boot, b = gen.cdc_feed(spec, 11)
    assert a_boot.equals(b_boot) and all(x.equals(y) for x, y in zip(a, b))
    assert not gen.cdc_feed(spec, 12)[1][0].equals(a[0])
    top = a_boot.num_rows
    for t in a:
        lsns = t.column("lsn").to_pylist()
        # every event either extends the feed or trails its maximum by at
        # most ooo_window positions (stragglers and redeliveries)
        assert min(lsns) > top - spec.ooo_window
        top = max(top, max(lsns))
