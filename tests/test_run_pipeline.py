"""The spark-submit driver (scripts/run_pipeline.py): what one tick leaves
in ``graph/``, and the ``--period`` loop around it (driven with a fake tick,
clock and sleep, so those tests start no JVM)."""

import gc
import json
import os
import time

import pytest

from scripts.run_pipeline import BACKOFF_S, run_ticks, tick


def _triple_set(df):
    return {(r["subj"], r["pred"], r["obj_n3"]) for r in df.collect()}


def test_tick_compacts_only_the_runs_buckets(spark, corpus, docs_df, sides, tmp_path):
    """A tick at fewer buckets than an earlier run on the same output leaves
    that run's higher ``bucket=<b>`` directories on disk; the tick's
    ``graph/`` still holds exactly the current snapshot's distinct triples."""
    from literature_to_facts_spark.engine.graph import read_triples
    from literature_to_facts_spark.engine.pipeline import extract_triples

    out = str(tmp_path / "out")
    tick(spark, docs_df, out, sides, 8, "wide")
    half = spark.createDataFrame(corpus.documents.iloc[: len(corpus.documents) // 2])
    summary = tick(spark, half, out, sides, 2, "narrow")
    assert summary["buckets_processed"] == 2
    assert os.path.isdir(os.path.join(out, "triples", "bucket=7"))
    expected = _triple_set(extract_triples(spark, half, sides))
    assert _triple_set(read_triples(spark, os.path.join(out, "graph"))) == expected
    assert summary["total_triples"] == len(expected)


class _Stop(Exception):
    pass


class _FakeTime:
    """A clock that only moves when a tick runs (5 s each) or the driver
    sleeps; the ``stop_after``-th sleep ends the loop."""

    def __init__(self, start, stop_after=None):
        self.now, self.sleeps, self.stop_after = start, [], stop_after

    def clock(self):
        return self.now

    def sleep(self, seconds):
        self.sleeps.append(seconds)
        if len(self.sleeps) == self.stop_after:
            raise _Stop
        self.now += seconds


def _ticker(fake, outcomes):
    """A tick that records its run ids and returns (or raises) the next
    outcome."""
    calls, outcomes = [], iter(outcomes)

    def run_tick(run_id):
        calls.append(run_id)
        fake.now += 5.0
        out = next(outcomes)
        if isinstance(out, Exception):
            raise out
        return out

    return run_tick, calls


def _lines(capsys):
    return [json.loads(x) for x in capsys.readouterr().out.splitlines()]


def test_loop_retries_a_failed_tick_under_its_run_id(capsys):
    fake = _FakeTime(1000.0, stop_after=3)
    run_tick, calls = _ticker(fake, [RuntimeError("boom"), {"n": 1}, {"n": 2}])
    with pytest.raises(_Stop):
        run_ticks(run_tick, "daily", 60.0, sleep=fake.sleep, clock=fake.clock)
    # the failed tick is retried after the backoff under the same run id;
    # a successful tick sleeps until the period ends and the next tick
    # runs under a new run id
    assert calls == ["daily-1000", "daily-1000", "daily-1060"]
    assert fake.sleeps == [BACKOFF_S, 1060 - 1023, 1120 - 1065]
    assert BACKOFF_S == 13.0
    assert _lines(capsys) == [
        {"run_id": "daily-1000", "error": "boom"},
        {"run_id": "daily-1000", "n": 1},
        {"run_id": "daily-1060", "n": 2},
    ]


def test_loop_tick_longer_than_period_starts_next_at_once():
    fake = _FakeTime(0.0, stop_after=2)
    run_tick, calls = _ticker(fake, [{"n": 1}, {"n": 2}])
    with pytest.raises(_Stop):
        run_ticks(run_tick, "p", 3.0, sleep=fake.sleep, clock=fake.clock)
    assert calls == ["p-0", "p-5"]
    assert fake.sleeps == [0.0, 0.0]


@pytest.mark.parametrize("outcome, status", [({"n": 1}, 0), (RuntimeError("x"), 1)])
def test_without_period_exactly_one_tick_runs(outcome, status, capsys):
    fake = _FakeTime(1000.0, stop_after=1)
    run_tick, calls = _ticker(fake, [outcome, {"n": 2}])
    assert run_ticks(run_tick, "pipeline", None, sleep=fake.sleep, clock=fake.clock) == status
    assert calls == ["pipeline"] and fake.sleeps == []
    (line,) = _lines(capsys)
    assert line["run_id"] == "pipeline" and ("error" in line) == bool(status)


def test_ticks_pickle_the_side_tables_once(spark, docs_df, sides, tmp_path):
    """Every bucket of every tick reuses the one broadcast of the loop's
    Sides: a second tick leaves no new file in the driver's broadcast dir."""
    temp = spark.sparkContext._temp_dir
    out = str(tmp_path / "out")
    tick(spark, docs_df, out, sides, 2, "a")
    n_files = len(os.listdir(temp))
    tick(spark, docs_df, out, sides, 2, "b")
    assert len(os.listdir(temp)) == n_files


def test_side_broadcast_released_when_no_plan_holds_it(spark, docs_df):
    """A plan built from a Sides that is gone still runs; once the plan is
    gone too, the broadcast's file is deleted."""
    from literature_to_facts_spark.engine.pipeline import (
        extract_triples,
        make_sides,
        side_broadcast,
    )

    sc = spark.sparkContext
    sides = make_sides()
    path = side_broadcast(sc, sides)._path
    frame = extract_triples(spark, docs_df, sides, dedup=False)
    del sides
    gc.collect()
    side_broadcast(sc, make_sides())
    assert frame.count() > 0
    assert os.path.exists(path)
    del frame
    other = make_sides()
    for _ in range(20):
        gc.collect()
        sc._jvm.System.gc()
        side_broadcast(sc, other)
        if not os.path.exists(path):
            break
        time.sleep(0.5)
    assert not os.path.exists(path)
