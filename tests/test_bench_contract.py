"""The bench stdout contract (r14, VERDICT r13 #5): ONE self-validated
JSON line on the real stdout. No Spark needed — these exercise the
emitter in isolation."""

from __future__ import annotations

import json
import os
import sys
from collections import Counter
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402
from kissmetrics_to_database_spark import session  # noqa: E402


def _emit_to_pipe(obj):
    r, w = os.pipe()
    try:
        line = bench.emit_json_line(obj, w)
    finally:
        os.close(w)
    with os.fdopen(r, "rb") as fh:
        raw = fh.read()
    return line, raw


def test_emit_single_parseable_line():
    obj = {
        "metric": "headline-suite wall seconds (noop sink, local)",
        "value": 1.5,
        "unit": "sec",
        "queries": {"tpch_q1_pricing_summary": 1.5},
        "queries_steady": {"tpch_q1_pricing_summary": 0.5},
        "value_steady": 0.5,
        "sf": 0.1,
        "warmup_s": 2.0,
    }
    line, raw = _emit_to_pipe(obj)
    assert raw == (line + "\n").encode("utf-8")
    assert raw.count(b"\n") == 1
    assert json.loads(line) == obj


def test_emit_rejects_unserializable():
    with pytest.raises(TypeError):
        bench.emit_json_line({"bad": object()}, 2)


def test_emit_rejects_non_roundtripping():
    # NaN serializes (json.dumps default) but does not round-trip
    # equal — exactly the silent corruption the guard exists for.
    r, w = os.pipe()
    try:
        with pytest.raises(ValueError):
            bench.emit_json_line({"value": float("nan")}, w)
    finally:
        os.close(w)
        os.close(r)


def test_failed_query_has_no_steady_time():
    calls = {"ok": 0}

    def run(name):
        if name == "bad":
            raise RuntimeError("boom")
        calls["ok"] += 1

    out = bench.time_queries(["ok", "bad"], run)
    assert calls["ok"] == 4  # one timed run + 3 steady reruns
    assert set(out["queries"]) == {"ok", "bad"}
    assert out["queries"]["bad"] >= 0
    assert out["queries_steady"]["bad"] is None
    assert out["queries_steady"]["ok"] is not None
    assert out["value_steady"] == out["queries_steady"]["ok"]
    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert out["errors"] == {"bad": "RuntimeError: boom"}
    assert out["memo"]["bad"]["steady"] is None
    # null survives the stdout contract's JSON round-trip check
    r, w = os.pipe()
    try:
        line = bench.emit_json_line(out, w)
    finally:
        os.close(w)
        os.close(r)
    assert json.loads(line)["queries_steady"]["bad"] is None


def test_all_ok_run_has_no_errors_field():
    out = bench.time_queries(["a"], lambda name: None)
    assert "errors" not in out
    assert out["value_steady"] == out["queries_steady"]["a"]


def test_memo_field_flags_memo_backed_queries(monkeypatch):
    """``memo`` reports each query's registry hits and misses for the
    first call and the steady reruns; steady hits mean the steady
    time serves a memoized result."""
    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_MEMO_COUNTS", Counter())
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-bench")
    )

    def run(name):
        if name == "memoized":
            session.memo(spark, "no-such-sf-dir", "artifact", lambda: 1)

    out = bench.time_queries(["memoized", "plain"], run)
    assert out["memo"] == {
        "memoized": {
            "first": {"hits": 0, "misses": 1},
            "steady": {"hits": 3, "misses": 0},
            "memo_backed": True,
        },
        "plain": {
            "first": {"hits": 0, "misses": 0},
            "steady": {"hits": 0, "misses": 0},
            "memo_backed": False,
        },
    }
    assert json.loads(json.dumps(out)) == out
