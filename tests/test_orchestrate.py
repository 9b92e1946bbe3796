"""Orchestration: shared directory processing + the recurring-run
scheduler (reference ROADMAP.md 'scheduled conversions').  Scheduler
tests drive an injected fake clock — no sleeps."""

from __future__ import annotations

import json

import pytest

from csv_etl_spark.orchestrate import (
    Scheduler,
    process_source,
    schedule_source_processing,
)
from csv_etl_spark.specs import SpecStore


class FakeClock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_scheduler_runs_due_jobs_only():
    clock = FakeClock()
    s = Scheduler(clock=clock)
    calls = []
    s.add_job("a", interval=10, action=lambda: calls.append("a"))
    s.add_job("b", interval=25, action=lambda: calls.append("b"))

    assert s.run_pending() == []  # nothing due yet
    clock.t = 10
    assert s.run_pending() == ["a"]
    clock.t = 26
    assert sorted(s.run_pending()) == ["a", "b"]
    assert calls == ["a", "a", "b"]


def test_scheduler_overdue_runs_once_not_burst():
    clock = FakeClock()
    s = Scheduler(clock=clock)
    calls = []
    s.add_job("a", interval=5, action=lambda: calls.append(1))
    clock.t = 100  # 20 intervals missed
    assert s.run_pending() == ["a"]
    assert len(calls) == 1  # no replay of missed slots
    assert s.jobs["a"].next_run == 105  # deadline from NOW


def test_scheduler_failing_job_stays_scheduled():
    clock = FakeClock()
    s = Scheduler(clock=clock)

    def boom():
        raise RuntimeError("conversion exploded")

    s.add_job("a", interval=5, action=boom)
    clock.t = 5
    s.run_pending()
    job = s.jobs["a"]
    assert job.errors == 1 and "conversion exploded" in job.last_error
    clock.t = 10
    s.run_pending()
    assert job.errors == 2  # still scheduled, still failing


def test_scheduler_rejects_duplicates_and_bad_interval():
    s = Scheduler(clock=FakeClock())
    s.add_job("a", interval=1, action=lambda: None)
    with pytest.raises(ValueError, match="already scheduled"):
        s.add_job("a", interval=1, action=lambda: None)
    with pytest.raises(ValueError, match="positive"):
        s.add_job("b", interval=0, action=lambda: None)
    assert s.remove_job("a") and not s.remove_job("a")


@pytest.fixture
def etl_env(tmp_path):
    cfg = tmp_path / "config"
    cfg.mkdir()
    (cfg / "sources.json").write_text(json.dumps({
        "s": {"id": "s", "name": "s", "default_directory": "in1",
              "columns": [{"name": "Ticker", "type": "string"}]}
    }))
    (cfg / "destinations.json").write_text(json.dumps({
        "d": {"id": "d", "name": "d", "default_directory": "out1",
              "columns": [{"name": "symbol", "type": "string"}]}
    }))
    (cfg / "mappings.json").write_text(json.dumps({
        "m": {"id": "m", "name": "m", "source_id": "s", "destination_id": "d",
              "field_mappings": [
                  {"destination_field": "symbol", "source_field": "Ticker",
                   "transform_type": "direct", "transform_config": {}}],
              "filter_rules": []}
    }))
    in_dir = tmp_path / "in" / "in1"
    in_dir.mkdir(parents=True)
    (in_dir / "a.csv").write_text("Ticker\nAAPL\nMSFT\n")
    return SpecStore(str(cfg)), tmp_path


def test_process_source_totals_and_output(spark, etl_env):
    store, tmp_path = etl_env
    result = process_source(spark, store, "m", str(tmp_path / "in"), str(tmp_path / "out"))
    assert result["success_count"] == 2 and result["error_count"] == 0
    out = (tmp_path / "out" / "out1" / "a_d.csv").read_text().splitlines()
    assert out[0] == "symbol" and sorted(out[1:]) == ["AAPL", "MSFT"]


def test_scheduled_processing_picks_up_new_files(spark, etl_env):
    store, tmp_path = etl_env
    clock = FakeClock()
    s = Scheduler(clock=clock)
    job = schedule_source_processing(
        s, spark, store, "m", str(tmp_path / "in"), str(tmp_path / "out"), every_seconds=60
    )
    clock.t = 60
    assert s.run_pending() == ["process:m"]
    assert job.last_result["success_count"] == 2

    (tmp_path / "in" / "in1" / "b.csv").write_text("Ticker\nGOOG\n")
    clock.t = 120
    s.run_pending()
    assert job.runs == 2
    assert job.last_result["success_count"] == 3  # reprocessed a + new b
    assert (tmp_path / "out" / "out1" / "b_d.csv").exists()


def test_process_source_lists_errors_without_rescanning(spark, tmp_path, monkeypatch):
    """Errors are listed by ``transform`` from its persisted projection,
    so no Spark job runs in ``process_source`` after a file's ``transform``
    returns — not for the malformed file, not for the clean one.  Jobs
    are attributed by job group: the scan, the transform and the sink each
    run under their own group, anything else under the outer one."""
    from csv_etl_spark import orchestrate

    cfg = tmp_path / "config"
    cfg.mkdir()
    cols = [{"name": "Date", "type": "string"}, {"name": "Ticker", "type": "string"}]
    (cfg / "sources.json").write_text(json.dumps({
        "s": {"id": "s", "name": "s", "default_directory": "in1", "columns": cols}
    }))
    (cfg / "destinations.json").write_text(json.dumps({
        "d": {"id": "d", "name": "d", "default_directory": "out1", "columns": cols}
    }))
    (cfg / "mappings.json").write_text(json.dumps({
        "m": {"id": "m", "name": "m", "source_id": "s", "destination_id": "d",
              "field_mappings": [
                  {"destination_field": "date", "source_field": "Date",
                   "transform_type": "date_format",
                   "transform_config": {"input_format": "%Y-%m-%d",
                                        "output_format": "%d.%m.%Y"}},
                  {"destination_field": "symbol", "source_field": "Ticker",
                   "transform_type": "direct", "transform_config": {}}],
              "filter_rules": []}
    }))
    in_dir = tmp_path / "in" / "in1"
    in_dir.mkdir(parents=True)
    (in_dir / "a.csv").write_text("Date,Ticker\n2024-01-15,AAPL\n2024-01-16,MSFT\n")
    (in_dir / "b.csv").write_text("Date,Ticker\n2024-02-01,GOOG\nnot-a-date,TSLA\n")

    sc = spark.sparkContext

    def grouped(fn, group):
        def run(*args, **kwargs):
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, group)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setJobGroup(outer, outer)
        return run

    for name in ("read_spec_csv", "transform", "write_single_csv_file"):
        monkeypatch.setattr(orchestrate, name, grouped(getattr(orchestrate, name), name))
    process = grouped(orchestrate.process_source, "process_source")
    result = process(
        spark, SpecStore(str(cfg)), "m", str(tmp_path / "in"), str(tmp_path / "out")
    )
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("transform")
    assert tracker.getJobIdsForGroup("process_source") == []

    assert (result["success_count"], result["error_count"]) == (3, 1)
    (err,) = result["errors"]
    assert set(err) == {"file", "line", "field", "message", "value"}
    assert (err["file"], err["line"], err["field"], err["value"]) == (
        "b.csv", 3, "date", "not-a-date"
    )
    assert err["message"]
    assert (tmp_path / "out" / "out1" / "a_d.csv").exists()
    assert not (tmp_path / "out" / "out1" / "b_d.csv").exists()
