"""Source-layer tests: JSON repair, natural-order watermark
discovery, incremental pipeline idempotency, schema evolution."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import Observation
from pyspark.sql import types as T

from kissmetrics_to_database_spark import pipeline
from kissmetrics_to_database_spark.functions import events_transform
from kissmetrics_to_database_spark.operators import schema_evolution as se
from kissmetrics_to_database_spark.sources import ndjson
from kissmetrics_to_database_spark.sources.json_repair import (
    _parse_observed,
    read_ndjson_with_repair,
)


def test_natural_key_ordering():
    names = ["10.json", "2.json", "1.json", "100.json"]
    assert sorted(names, key=ndjson.natural_key) == [
        "1.json", "2.json", "10.json", "100.json",
    ]


def test_discover_files_hidden_and_watermark(tmp_path):
    for n in ["1.json", "2.json", "10.json", ".hidden"]:
        (tmp_path / n).write_text("{}")
    got = [f.split("/")[-1] for f in ndjson.discover_files(tmp_path)]
    assert got == ["1.json", "2.json", "10.json"]
    got = [
        f.split("/")[-1] for f in ndjson.discover_files(tmp_path, after="2.json")
    ]
    assert got == ["10.json"]  # natural: 10 > 2 even though '10' < '2' lexically


def test_watermark_roundtrip(tmp_path):
    wm = ndjson.Watermark(tmp_path / "wm.json")
    assert wm.read() is None
    wm.advance("/data/5.json")
    assert wm.read() == "5.json"
    wm.rollback("2.json")
    assert wm.read() == "2.json"
    wm.rollback(None)
    assert wm.read() is None


def test_read_ndjson_incremental(spark, tmp_path):
    import json as _json

    d = tmp_path / "ndj"
    d.mkdir()
    (d / "1.json").write_text(_json.dumps({"a": "x"}))
    (d / "2.json").write_text(_json.dumps({"a": "y"}))
    wm = ndjson.Watermark(tmp_path / "wm.json")
    wm.advance("1.json")

    df, files = ndjson.read_ndjson_incremental(spark, d, wm)
    assert [f.split("/")[-1] for f in files] == ["2.json"]
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["a"] == "y"
    assert rows[0]["_source_file"].endswith("2.json")

    wm.advance(files[-1])
    df2, files2 = ndjson.read_ndjson_incremental(spark, d, wm)
    assert df2 is None and files2 == []


def test_json_repair_all_null_row_is_not_quarantined(spark):
    # {} and {"a": null} parse fine — "all fields NULL" must not be
    # conflated with "unparseable"
    from pyspark.sql import types as T2

    lines = ['{"a": null, "b": null}', "{}", "garbage"]
    df = spark.createDataFrame([(x,) for x in lines], ["value"])
    schema = T2.StructType(
        [T2.StructField("a", T2.StringType()), T2.StructField("b", T2.StringType())]
    )
    good, bad = read_ndjson_with_repair(spark, df, schema)
    assert good.count() == 2
    assert bad.count() == 1


def test_json_repair_layers(spark):
    lines = [
        '{"a": "clean", "b": "1"}',                 # clean
        '{"a": "has "inner" quotes", "b": "2"}',    # repairable
        "this is not json at all",                  # quarantined
        "",                                          # blank: dropped
    ]
    df = spark.createDataFrame([(x,) for x in lines], ["value"])
    schema = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("b", T.StringType())]
    )
    good, bad = read_ndjson_with_repair(spark, df, schema)
    rows = {r["b"]: (r["a"], r["was_repaired"]) for r in good.collect()}
    assert rows["1"] == ("clean", False)
    assert rows["2"] == ('has "inner" quotes', True)
    assert bad.count() == 1


def test_incremental_pipeline_idempotent(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows1 = [
        {"_p": "u1", "_p2": "a1", "_n": "signup", "_t": "1704067207"},
        {"_p": "u2", "_n": "", "_t": "1704067300", "some-prop": "x"},
    ]
    rows2 = [{"_p": "u3", "_p2": "a1", "_n": "click", "_t": "1704067400"}]
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    state, lake = tmp_path / "state", tmp_path / "lake"
    res1 = pipeline.run_incremental(
        spark, str(src), str(state), str(lake), fixed_date="2024-06-01"
    )
    assert res1.n_rows == 2 and res1.n_quarantined == 0
    assert res1.n_identity_members == 2  # u1—a1

    # idempotent rerun: no new files → nothing happens
    res2 = pipeline.run_incremental(
        spark, str(src), str(state), str(lake), fixed_date="2024-06-01"
    )
    assert res2.n_rows == 0 and res2.files == []

    # new file arrives: only it is processed; identity closure now
    # spans files (u1—a1—u3)
    (src / "2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    res3 = pipeline.run_incremental(
        spark, str(src), str(state), str(lake), fixed_date="2024-06-01"
    )
    assert res3.n_rows == 1
    assert [f.split("/")[-1] for f in res3.files] == ["2.json"]

    lake_events = pipeline.read_events_lake(spark, str(lake))
    assert lake_events.count() == 3
    assert "some_prop" in lake_events.columns  # sanitized dynamic key

    # identity closure MUST span runs: u1—a1 from file 1, u3—a1 from
    # file 2 ⇒ one component canonicalized to the global min 'a1'
    comp = {
        r["member"]: r["component_id"]
        for r in spark.read.parquet(str(lake / "identity_components")).collect()
    }
    assert comp == {"u1": "a1", "a1": "a1", "u3": "a1"}


_MIXED_BATCH = [
    '{"_p": "u1", "_p2": "a1", "_n": "signup", "_t": "1704067207"}',
    '{"_p": "u2", "_n": "said "hi" there", "_t": "1704067300"}',  # repaired
    '{"_p": "u3", "_n": "cut off',                                  # quarantined
    "",
    "   ",
    "{}",
    '{"_p": "u4", "_n": "", "_t": "1704067400"}',
]


def _case_depths(plan: str, token: str) -> list[int]:
    """CASE WHEN nesting depth at each occurrence of ``token`` in a
    plan's text."""
    depth, out = 0, []
    for m in re.finditer(r"CASE WHEN|\bEND\b|" + re.escape(token), plan):
        if m.group() == "CASE WHEN":
            depth += 1
        elif m.group() == "END":
            depth -= 1
        else:
            out.append(depth)
    return out


def test_pipeline_parse_runs_from_json_once_per_line(spark, tmp_path):
    # The parse the pipeline runs: every line goes through from_json
    # once, and the repair (regexp_replace + a second from_json) only
    # under a CASE WHEN. Without the CollectMetrics barrier Catalyst
    # pushes the quarantine filter below the projection and copies
    # from_json into it.
    f = tmp_path / "1.json"
    f.write_text("\n".join(_MIXED_BATCH))
    good, _ = _parse_observed(spark, spark.read.text([str(f)]), Observation())
    transformed = events_transform.transform_events(
        good.drop("was_repaired"), fixed_date="2024-06-01"
    )
    assert transformed.count() == 4
    plan = transformed._jdf.queryExecution().executedPlan().toString()
    from_json = _case_depths(plan, "from_json(")
    assert sorted(from_json) == [0, 1], plan
    assert _case_depths(plan, "regexp_replace(") == [1], plan


@pytest.mark.parametrize("dedup", [False, True])
@pytest.mark.parametrize(
    "lines,want",
    [
        (_MIXED_BATCH, (4, 1, 1, 2)),
        (["not json", "{broken", '"just a string'], (0, 0, 3, 0)),
        (["", "  ", ""], (0, 0, 0, 0)),
    ],
    ids=["mixed", "all_garbage", "all_blank"],
)
def test_pipeline_counts_on_edge_batches(spark, tmp_path, lines, want, dedup):
    src = tmp_path / "src"
    src.mkdir()
    (src / "1.json").write_text("\n".join(lines))
    res = pipeline.run_incremental(
        spark,
        str(src),
        str(tmp_path / "state"),
        str(tmp_path / "lake"),
        fixed_date="2024-06-01",
        dedup_on_fingerprint=dedup,
    )
    got = (res.n_rows, res.n_repaired, res.n_quarantined, res.n_identity_members)
    assert got == want


def test_union_evolving_and_align(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "a"])
    b = spark.createDataFrame([(2, "y")], ["id", "b"])
    u = se.union_evolving([a, b])
    assert set(u.columns) == {"id", "a", "b"}
    assert u.count() == 2
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("a", T.StringType()),
            T.StructField("c", T.StringType()),
        ]
    )
    aligned = se.align_to_schema(b, target)
    assert aligned.columns == ["id", "a", "c"]
    assert aligned.collect()[0].asDict() == {"id": 2, "a": None, "c": None}


def test_max_lengths_and_ddl(spark):
    df = spark.createDataFrame([("abc", 12345)], ["s", "n"])
    lens = se.max_lengths(df)
    assert lens == {"s": 3, "n": 5}
    stmts = se.ddl_add_columns("tb_event", ["s", "n"], lens)
    assert stmts[0] == 'ALTER TABLE tb_event ADD COLUMN "s" VARCHAR(16)'
    assert 'ALTER TABLE tb_event ADD COLUMN "n" VARCHAR(16)' in stmts[1]
    assert se.new_columns(df, ["s"]) == ["n"]
