"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q
"""

import math
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, probe, reference as ref


def test_generators_are_deterministic_per_seed():
    a, b = gen.live_messages(7, 500, 100), gen.live_messages(7, 500, 100)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(gen.live_messages(8, 500, 100))
    # each session of 100 messages has its own users
    sessions = a.groupby(a["msg_id"] // 100)["user_id"].agg(["min", "max"])
    assert (sessions["min"].iloc[1:].to_numpy() > sessions["max"].iloc[:-1].to_numpy()).all()
    for x, y in zip(gen.drain_backlog(7, [100, 50]), gen.drain_backlog(7, [100, 50])):
        pd.testing.assert_frame_equal(x, y)
    c1, c2 = gen.corpus(7, 200, 0.1, 0.1, 300, 5), gen.corpus(7, 200, 0.1, 0.1, 300, 5)
    pd.testing.assert_frame_equal(c1.docs, c2.docs)
    assert c1.near_pairs == c2.near_pairs and c1.query_ids == c2.query_ids
    assert np.array_equal(np.stack(c1.vectors["embedding"]), np.stack(c2.vectors["embedding"]))
    assert not c1.docs.equals(gen.corpus(8, 200, 0.1, 0.1, 300, 5).docs)


def test_live_schedule_covers_every_message_once():
    plan = gen.live_schedule(103, rate=100.0, tick_s=0.05)
    assert [lo for _, lo, _ in plan] == list(range(0, 103, 5))
    assert plan[-1][2] == 103
    # a file is sent when its last message is due
    assert plan[1] == (9 / 100.0, 5, 10)


def test_injected_duplicates_are_what_they_claim():
    c = gen.corpus(3, 300, 0.1, 0.1, 100, 4)
    text = dict(zip(c.docs["doc_id"], c.docs["text"]))
    for group in c.exact_groups:
        assert len({ref.fingerprint_py(text[i]) for i in group}) == 1
    for a, b in c.near_pairs:
        assert ref.fingerprint_py(text[a]) != ref.fingerprint_py(text[b])
        assert ref.jaccard_ppm_py(text[a], text[b]) >= 800_000


def test_ack_to_commit_to_due_join(tmp_path):
    commits = tmp_path / "ckpt" / "commits"
    commits.mkdir(parents=True)
    for batch, mtime in ((0, 1000.5), (1, 1002.0)):
        (commits / str(batch)).write_text("v1")
        os.utime(commits / str(batch), (mtime, mtime))
    (commits / ".1.crc").write_text("")
    times = ref.commit_times(str(tmp_path / "ckpt"))
    assert times == {0: 1000.5, 1: 1002.0}
    acks = pd.DataFrame({"ack_data": ["10", "11", "12", "13"], "batch_id": [0, 1, 1, 2]})
    due = pd.Series({10: 1000.0, 11: 1001.0, 12: 1001.5, 13: 1001.0, 14: 1001.0})
    lat = ref.ack_latencies(acks, times, due)
    assert lat.loc[10, "latency_s"] == pytest.approx(0.5)
    assert lat.loc[11, "latency_s"] == pytest.approx(1.0)
    assert lat.loc[12, "latency_s"] == pytest.approx(0.5)
    assert math.isinf(lat.loc[13, "latency_s"])  # batch 2 never committed
    assert math.isinf(lat.loc[14, "latency_s"])  # never acked


def test_tail_summary_counts_what_lies_beyond_p90():
    lat = pd.DataFrame({"batch_id": np.arange(100) // 10, "latency_s": np.arange(100, dtype=float)})
    t = ref.tail_summary(lat)
    assert t["p50_s"] == pytest.approx(49.5)
    assert t["p90_s"] == pytest.approx(89.1)
    assert (t["beyond_p90_msgs"], t["beyond_p90_batches"]) == (10, 1)


def test_backlog_slope():
    assert ref.backlog_slope([(0.0, 5.0), (1.0, 7.0), (2.0, 9.0)]) == pytest.approx(2.0)
    assert ref.backlog_slope([(0.0, 5.0)]) == 0.0


def test_drain_expected_hand_checked():
    files = [
        pd.DataFrame({
            "event_id": [0, 1, 2, 3],
            "user_id": [1, 1, 5, 7],
            "event_type": ["purchase", "view", "error", "signup"],
            "value": [10.0, 3000.0, 1.0, 4000.0],
        }),
        pd.DataFrame({
            "event_id": [4, 5],
            "user_id": [1, 1],
            "event_type": ["view", "view"],
            "value": [2500.0, 1.0],
        }),
    ]
    exp = ref.drain_expected(files, files_per_trigger=1)
    assert exp["batch_id"].tolist() == [0, 0, 0, 0, 1, 1]
    # 0: lone purchase of user 1 -> a partial size chunk
    assert exp.loc[0, ["batcher", "trigger", "batch_size"]].tolist() == ["billing", "timeout", 1]
    # 2: error from user 5 -> failed and retry-owned (5 % 5 == 0)
    assert bool(exp.loc[2, "retry"]) and exp.loc[2, "outcome"] == "failed"
    # 3: signup from user 7 -> ok, early-acked (7 % 7 == 0)
    assert exp.loc[3, "trigger"] == "early" and math.isnan(exp.loc[3, "batch_size"])
    # 4, 5: 250000 + 100 cents in one budget chunk (budget 500000)
    assert exp.loc[4, "batch_size"] == 2 and exp.loc[5, "trigger"] == "timeout"


def test_check_live_flags_lost_duplicated_and_misrouted():
    msgs = pd.DataFrame({
        "msg_id": [0, 1, 2, 3], "user_id": [1, 1, 2, 2],
        "kind": ["order", "order", "click", "click"], "bad": [0, 0, 0, 1],
    })
    good = pd.DataFrame({
        "batch_id": [0, 0, 0, 0], "ack_data": ["0", "1", "2", "3"],
        "outcome": ["ok", "ok", "ok", "failed"],
        "batcher": ["orders", "orders", "clicks", "clicks"],
        "batch_key": ["1", "1", "2", "2"], "trigger": ["timeout", "timeout", "timeout", "flush"],
        "batch_size": [2, 2, 1, 1],
    })
    sinks = {"orders": pd.Series([0, 1]), "clicks": pd.Series([2])}
    assert ref.check_live(msgs, good, sinks, pd.Series([3]))[:2] == (4, 0)
    broken = good.copy()
    broken.loc[2, "batcher"] = "orders"  # misrouted
    broken = pd.concat([broken, good.iloc[[0]]])  # duplicated ack
    broken = broken[broken["ack_data"] != "3"]  # lost failure ack
    _, failed, _ = ref.check_live(msgs, broken, sinks, pd.Series([3]))
    # 0, 2 and 3, plus 1: the duplicate leaves its chunk holding 3 rows
    # where its batch_size says 2
    assert failed == 4


def test_components_and_jaccard():
    assert ref.components({(1, 2), (2, 3), (7, 9)}) == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    assert ref.jaccard_ppm_py("a b c d", "a b c e") == 333_333  # 1 of 3 shingles
    assert ref.fingerprint_py("  A  b\tC ") == ref.fingerprint_py("a b c")


def test_recall_at_k():
    exact = pd.DataFrame({"query_id": [1, 1, 2, 2], "neighbor_id": [5, 6, 7, 8]})
    approx = pd.DataFrame({"query_id": [1, 1, 2, 2], "neighbor_id": [5, 9, 7, 8]})
    assert ref.recall_at_k(approx, exact) == 0.75


def test_tracer_self_times_and_cost():
    off = probe.Tracer(False, "r")
    with off.span("bench"):
        pass
    assert off.spans == [] and off.cost_s == 0.0
    t = probe.Tracer(True, "r")
    with t.span("bench"):
        root = t.current()
    t.spans[0].update(start=0.0, end=10.0)
    t.add("router", 1.0, 4.0, root)
    t.add("checkpoint", 3.0, 5.0, root)  # overlaps router by 1 s
    self_s = t.self_times()
    assert self_s == {"bench": pytest.approx(6.0), "router": 3.0, "checkpoint": 2.0}
    assert t.cost_s > 0.0
