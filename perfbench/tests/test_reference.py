"""A traced run compares itself with an untraced run of the same
workload, seed and code only."""

import json
import os
import types

import run


def _result(results, name, code, run_s, mtime):
    path = results / name
    path.write_text(json.dumps({"code": code, "metrics": {"run_s": run_s}}))
    os.utime(path, (mtime, mtime))


def test_reference_matches_workload_seed_and_code(tmp_path, monkeypatch):
    results = tmp_path / "results"
    results.mkdir()
    _result(results, "link-s3-t0-1.json", "abc", 1.0, 1_000)
    _result(results, "link-s3-t0-2.json", "abc", 2.0, 2_000)  # newest match
    _result(results, "link-s3-t0-3.json", "old", 3.0, 3_000)  # other code
    _result(results, "link-s4-t0-4.json", "abc", 4.0, 4_000)  # other seed
    _result(results, "link-s3-t1-5.json", "abc", 5.0, 5_000)  # a traced run
    _result(results, "crawl-s3-t0-6.json", "abc", 6.0, 6_000)  # other workload
    monkeypatch.setattr(run, "STATE", str(tmp_path))
    wl = types.SimpleNamespace(name="link")
    ref = run.untraced_reference(types.SimpleNamespace(seed=3, seconds=1), wl, "abc")
    assert ref["metrics"]["run_s"] == 2.0
