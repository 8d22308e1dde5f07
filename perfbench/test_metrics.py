"""Self-tests of the benchmark's arithmetic on synthetic inputs.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from metrics import (  # noqa: E402
    attribute_jobs,
    busy_cores,
    row_bytes,
    tail,
    write_amp,
)
from tracer import Tracer  # noqa: E402


class TestTail:
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 1001))  # 1000 samples
        p, value, beyond = tail(xs)
        # p99.9 leaves 1 beyond, p99 leaves exactly 10
        assert (p, value, beyond) == (99.0, 990.0, 10)

    def test_smaller_sample_steps_down_the_ladder(self):
        xs = [float(i) for i in range(100)]
        p, value, beyond = tail(xs)
        # p95 (rank 95) leaves 5; p90 (rank 90) leaves exactly 10
        assert (p, beyond) == (90.0, 10)
        assert value == 89.0

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        assert tail(xs) == tail(sorted(xs))

    def test_too_few_samples_fall_back_to_median(self):
        p, value, beyond = tail([3.0, 1.0, 2.0])
        assert p == 50.0 and value == 2.0 and beyond == 1

    def test_every_rung_met_exactly(self):
        for n in (20, 40, 200, 10_000):
            p, _v, beyond = tail(list(range(n)))
            assert beyond >= 10
            higher = [q for q in (99.9, 99.0, 95.0, 90.0, 75.0) if q > p]
            for q in higher:  # no higher rung would have had ten beyond
                rank = -(-q * n // 100)
                assert n - rank < 10

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            tail([])


class TestAttribution:
    spans = [
        {"id": 1, "group": "q1|build|1", "start_ms": 100.0, "end_ms": 200.0},
        {"id": 2, "group": None, "start_ms": 120.0, "end_ms": 150.0},  # read_table in build
        {"id": 3, "group": "q1|exec|3", "start_ms": 200.0, "end_ms": 300.0},
        {"id": 4, "group": "q2|build|4", "start_ms": 300.0, "end_ms": 400.0},
    ]

    def test_group_then_innermost_window(self):
        jobs = [
            {"job_id": 0, "group": "q1|build|1", "submit_ms": 110.0},
            {"job_id": 1, "group": "q1|build|1", "submit_ms": 130.0},  # inside read_table
            {"job_id": 2, "group": "q1|exec|3", "submit_ms": 250.0},
        ]
        assert attribute_jobs(jobs, self.spans) == {0: 1, 1: 2, 2: 3}

    def test_untagged_streaming_job_goes_by_window(self):
        # AvailableNow streaming queries submit under their own UUID group
        jobs = [{"job_id": 7, "group": "0b7e-uuid", "submit_ms": 350.0},
                {"job_id": 8, "group": None, "submit_ms": 140.0}]
        assert attribute_jobs(jobs, self.spans) == {7: 4, 8: 2}

    def test_group_wins_over_a_late_submit_time(self):
        # submitted after the tagging span's recorded end (clock skew):
        # the group still decides, never the next query's window
        jobs = [{"job_id": 9, "group": "q1|exec|3", "submit_ms": 350.0}]
        assert attribute_jobs(jobs, self.spans) == {9: 3}

    def test_job_outside_every_window(self):
        jobs = [{"job_id": 5, "group": None, "submit_ms": 999.0}]
        assert attribute_jobs(jobs, self.spans) == {5: None}


def test_busy_cores():
    assert busy_cores(6.0, 2.0) == 3.0
    assert busy_cores(1.0, 0.0) == 0.0


def test_write_amp():
    rows = [["12", "Book01", "1.85"], ["13", None, "2.10"]]
    batch = row_bytes(rows)
    assert batch == 2 + 6 + 4 + 2 + 4
    assert write_amp(10 * batch, batch) == 10.0
    assert write_amp(5.0, 0) == 0.0


def test_nested_call_of_a_wrapped_layer_is_timed_once():
    class Writer:
        def __init__(self, children=()):
            self.children = children

        def save(self):
            for c in self.children:
                c.save()  # a pipeline saving its stages
            return "saved"

    tr = Tracer(traced=False)
    tr.wrap(Writer, "save", "ml.save")
    tr.wrap(Writer, "save", "ml.save")  # wrapping twice is a no-op
    assert Writer([Writer(), Writer()]).save() == "saved"
    assert [s["layer"] for s in tr.spans] == ["ml.save"]


def test_soccer_batches_latest_wins():
    batches, latest = datagen.soccer_batches(3, n_teams=6, n_games=60, n_batches=3,
                                             reingest=0.5)
    assert len(batches) == 3
    for table, state in latest.items():
        for key, (b, row) in state.items():
            # the recorded version is the last batch holding the key
            later = [bb for bb in range(b + 1, 3)
                     if any(tuple(r[: len(key)]) == key for r in batches[bb][table])]
            assert not later and row in batches[b][table]
    # re-ingests overlap earlier keys, and no batch repeats a key
    firsts = {(r[0], r[1]) for r in batches[0]["game_odds"]}
    assert firsts & {(r[0], r[1]) for r in batches[2]["game_odds"]}
    for b in batches:
        keys = [(r[0], r[1]) for r in b["game_odds"]]
        assert len(keys) == len(set(keys))


def test_soccer_batches_keep_the_fixture_edge_cases():
    # FIXTURES.md section A: a tie at rank 10, games missing from the odds
    # tables, over/under ids that overlap the odds ids without matching
    _batches, latest = datagen.soccer_batches(2, n_teams=20, n_games=400, n_batches=2,
                                              reingest=0.1)
    counts: dict[str, int] = {}
    for _id, comp in latest["game_odds"]:
        counts[comp] = counts.get(comp, 0) + 1
    ranked = sorted(counts.values(), reverse=True)
    assert ranked[9] == ranked[10] and ranked[8] > ranked[9] > ranked[11]
    games = {k[0] for k in latest["game_record"]}
    odds = {k[0] for k in latest["game_odds"]}
    ou = {k[0] for k in latest["game_overunder"]}
    assert odds < games and ou < games
    assert odds & ou and odds - ou and ou - odds


def test_generators_are_seeded():
    a = datagen.registry_tables(0.001, 5)
    b = datagen.registry_tables(0.001, 5)
    c = datagen.registry_tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert datagen.soccer_batches(1, 6, 60, 3, 0.3) == datagen.soccer_batches(1, 6, 60, 3, 0.3)
