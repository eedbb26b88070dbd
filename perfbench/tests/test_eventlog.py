"""Event-log aggregation on a canned two-file rolling log."""

import os

import pytest

from perfbench.eventlog import OTHER, aggregate, event_files, group_of, read_events

LOG = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")


def test_rolling_files_read_in_order():
    names = [os.path.basename(p) for p in event_files(LOG)]
    assert names == ["events_1_local-1", "events_2_local-1"]
    assert next(read_events(LOG))["Event"] == "SparkListenerLogStart"


def test_group_of():
    assert group_of("kg-stage:pred_merge_map") == "pred_merge_map"
    assert group_of("Listing leaf files and directories for 3 paths") == OTHER
    assert group_of(None) == OTHER


def test_aggregate_by_description_inside_window():
    out = aggregate(read_events(LOG), {"b0": (1000.0, 1010.0)})["b0"]
    assert set(out) == {"cells", "triples", OTHER}

    cells = out["cells"]
    # stage 4 is listed by jobs 2 and 3: its tasks stay with job 2 (cells);
    # the failed task attempt is not counted
    assert cells["jobs"] == 1 and cells["tasks"] == 3
    assert cells["task_s"] == pytest.approx(3.2)
    assert cells["cpu_s"] == pytest.approx(2.7)
    assert cells["gc_s"] == pytest.approx(0.05)
    assert cells["shuffle_mb"] == pytest.approx(3.0)
    assert cells["spill_mb"] == pytest.approx(0.5)
    assert cells["input_records"] == 1000

    assert out["triples"]["jobs"] == 1 and out["triples"]["tasks"] == 1
    assert out["triples"]["task_s"] == pytest.approx(0.3)

    # the undescribed job and the file listing are pipeline overhead
    assert out[OTHER]["jobs"] == 2 and out[OTHER]["tasks"] == 2
    assert out[OTHER]["cpu_s"] == pytest.approx(0.06)


def test_jobs_outside_every_window_are_dropped():
    out = aggregate(read_events(LOG), {"early": (0.0, 1.0), "b0": (1000.0, 1010.0)})
    assert out["early"] == {}
    assert sum(g["jobs"] for g in out["b0"].values()) == 4
