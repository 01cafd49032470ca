"""Self-tests of the benchmark: generator, expectation, tail rule and
the result line. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import run  # noqa: E402
from stats import tail  # noqa: E402


def _events(n: int = 3000) -> dict[str, list]:
    kinds = ["view", "click", "signup", "purchase", "error"]
    return {
        "ts": [1704067200 + 7 * i for i in range(n)],
        "user_id": [(i * 37) % 101 for i in range(n)],
        "event_type": [kinds[i % 5] for i in range(n)],
        "value": [round(i * 0.37, 2) for i in range(n)],
        "props": [json.dumps({"k": i % 13}) for i in range(n)],
    }


def _all_bytes(seed: int) -> list[bytes]:
    g = gen.Generator(seed, _events())
    files = g.backlog(n_files=6)
    files += [g.trickle(lines=200) for _ in range(3)]
    return [f.name.encode() + f.data for f in files]


def test_generator_is_byte_identical_for_a_seed():
    assert _all_bytes(11) == _all_bytes(11)
    assert _all_bytes(11) != _all_bytes(12)


def test_generator_counts_match_its_lines():
    g = gen.Generator(5, _events())
    for f in g.backlog(n_files=4):
        lines = f.data.decode().splitlines()
        assert len(lines) == f.lines
        broken = 0
        for line in lines:
            try:
                json.loads(line)
            except json.JSONDecodeError:
                broken += 1
        # repaired lines carry unescaped inner quotes, quarantined ones
        # are truncated: neither parses as it stands
        assert broken == f.repaired + f.quarantined
        assert f.committed == f.lines - f.quarantined


def test_union_find_closes_an_alias_chain_across_two_files():
    file_1 = [
        '{"_p":"dev-b","_p2":"dev-a","_t":1}',
        '{"_p":"ann@x.org","_p2":"dev-z","_t":2}',  # email-first: no edge
        '{"_n":"viewed page","_p":"dev-a","_t":3}',
    ]
    file_2 = [
        '{"_p":"dev-c","_p2":"dev-b","_t":4}',
        '{"_n":"updated email","_p":"dev-c","_t":5,'
        '"new_email":"new@x.org","previous_email":"old@x.org"}',
        '{"_p":"dev-q","_p2":"dev-q","_t":6}',  # self-loop: no member
    ]
    uf = gen.UnionFind()
    for line in file_1 + file_2:
        for a, b in gen.edges_of(json.loads(line)):
            uf.union(a, b)
    members = ["dev-a", "dev-b", "dev-c", "new@x.org", "old@x.org"]
    assert uf.mapping() == {m: "dev-a" for m in members}


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct, n = tail(list(reversed(xs)))
    assert (value, pct, n) == (20.0, 66, 30)
    assert sum(x > value for x in xs) == 10
    assert tail([float(i) for i in range(11)]) == (0.0, 9, 11)
    # too few samples for any percentile with ten beyond: the maximum,
    # reported as percentile 100
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def _benchmark() -> dict:
    return json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def test_registry_matches_benchmark_json():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in b["workloads"]} <= set(run.WORKLOADS)


def _ctx(trace: bool) -> SimpleNamespace:
    spark = SimpleNamespace(version="x", sparkContext=SimpleNamespace(master="local[1]"))
    return SimpleNamespace(
        workload="query_mix", seed=1, trace=trace, cores=1, spark=spark,
        gen_s=0.0, setup_s=2.5, phases={"session.start_s": 1.0},
        failures=[], missing_keys=set(),
    )


def test_result_line_parses_and_carries_every_metric():
    b = _benchmark()
    res = {"attempted": 4, "failed": 1, "op_s": [1.0, 2.0, 3.0],
           "rows_per_s": 10.0, "layer": {"plans.olap.busy_s": 0.5}}
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        detail, last = run.result(_ctx(trace), res, 2**30, {})
        printed = f"{json.dumps(detail)}\n{json.dumps(last)}\n"
        line = json.loads(printed.splitlines()[-1])
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] is False and line["failed"] == 1
        want = {m["name"]: m["unit"] for m in b[key]}
        assert {k: v["unit"] for k, v in line["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in line["metrics"].values())
