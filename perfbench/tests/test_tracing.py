import json
import os
import time
import types

import pytest

from tracing import Tracer, event_log_files, layer_totals, parse_event_log, unattributed_tasks

SMALL_LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_parse_recorded_log():
    """A log recorded by a traced crawl run on Spark 4.1.2, trimmed to
    its first five jobs: benchmark setup, one job run with no
    description, the extract stage and two jobs of the exact stage."""
    parsed = parse_event_log([SMALL_LOG])
    assert set(parsed) == {"bench:setup", None, "extract", "exact"}
    assert parsed["extract"]["jobs"] == 1
    assert parsed["extract"]["tasks"] == 4
    assert parsed["extract"]["task_s"] == pytest.approx(17.93)
    assert parsed["extract"]["gc_s"] == pytest.approx(0.416)
    assert parsed["exact"]["jobs"] == 2
    assert parsed["exact"]["tasks"] == 5
    assert parsed["exact"]["task_s"] == pytest.approx(2.734)
    assert parsed["exact"]["shuffle_mb"] == pytest.approx(0.43004, abs=1e-4)
    assert parsed[None]["tasks"] == 1
    assert unattributed_tasks(parsed, {"extract", "exact"}) == 1
    assert unattributed_tasks(parsed, {"extract"}) == 6  # exact is no longer known
    totals = layer_totals(parsed, ["extract", "exact"])
    assert totals["tasks"] == 9 and totals["jobs"] == 3


def _write_log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")) + "\n")


def test_shared_stage_and_failed_task(tmp_path):
    """A stage listed by two jobs belongs to the first; a task that did
    not end in Success counts as failed; spill is disk bytes."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "pairs"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1500, "Disk Bytes Spilled": 2 * 2**20,
                          "Memory Bytes Spilled": 9 * 2**20}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.job.description": "scoring"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {"Executor Run Time": 250}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 500}},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    _write_log(d / "events_2_local-1", events[2:])
    _write_log(d / "events_1_local-1", events[:2])
    files = event_log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == ["events_1_local-1", "events_2_local-1"]
    parsed = parse_event_log(files)
    assert parsed["pairs"]["tasks"] == 2 and parsed["pairs"]["tasks_failed"] == 1
    assert parsed["pairs"]["task_s"] == pytest.approx(1.75)
    assert parsed["pairs"]["spill_mb"] == pytest.approx(2.0)
    assert parsed["scoring"]["tasks"] == 1 and parsed["scoring"]["jobs"] == 1


def test_tracer_spans_descriptions_and_self_time(tmp_path):
    descriptions = []
    tr = Tracer("r1", descriptions.append)
    mod = types.SimpleNamespace(work=lambda x: time.sleep(0.05) or x * 2)
    with tr.span("linkage"):
        with tr.around(mod, "work", "fs.em"):
            assert mod.work(2) == 4
        time.sleep(0.02)
    assert mod.work(3) == 6 and mod.work.__name__ == "<lambda>"  # restored
    assert descriptions == [Tracer.IDLE, "linkage", "fs.em", "linkage", Tracer.IDLE]
    by_name = {s.name: s for s in tr.spans}
    assert by_name["fs.em"].parent == "linkage" and by_name["linkage"].parent is None
    assert all(s.run_id == "r1" for s in tr.spans)
    assert tr.self_time("linkage") == pytest.approx(tr.total("linkage") - tr.total("fs.em"))
    assert 0.015 < tr.self_time("linkage") < tr.total("linkage")
    tr.write(str(tmp_path / "spans.json"))
    written = json.loads((tmp_path / "spans.json").read_text())
    assert {s["name"] for s in written} == {"linkage", "fs.em"}


def test_around_names_spans_by_call_and_keeps_the_latest_call():
    """A span name may depend on the call's arguments (None: no span);
    every wrapped call's arguments and result are kept."""
    tr = Tracer("r2")
    mod = types.SimpleNamespace(write=lambda path, mode="x": f"{path}:{mode}",
                                plan=lambda df, cfg: ("res", df, cfg))
    by_path = lambda path, **_kw: "survivorship" if path.endswith("/golden") else None  # noqa: E731
    with tr.around(mod, "write", by_path), tr.around(mod, "plan", None):
        mod.write("out/clusters")
        mod.write("out/golden", mode="w")
        mod.plan("keys", cfg=7)
    assert [s.name for s in tr.spans] == ["survivorship"]
    assert tr.calls["write"] == (("out/golden",), {"mode": "w"}, "out/golden:w")
    assert tr.calls["plan"] == (("keys",), {"cfg": 7}, ("res", "keys", 7))
