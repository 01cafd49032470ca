"""Lakehouse commit tailing (r10): new commits picked up once each
across restarts and crash replays — the exactly-once composition of
the commit cursor (advance-after-sink) with epoch-keyed sinks."""

import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from kissmetrics_to_database_spark.sources import deltalog as dl
from kissmetrics_to_database_spark.streaming.pipeline import (
    delta_exactly_once_sink,
)
from kissmetrics_to_database_spark.streaming.tailer import CommitTailer


def _df(spark, ids):
    return spark.createDataFrame([(i, f"v{i}") for i in ids], "id long, val string")


def _dest_count(spark, dest):
    return dl.read_delta(spark, dest).count()


def test_delta_tail_exactly_once_across_restarts(spark, tmp_path):
    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    cursor = str(tmp_path / "cursor.json")
    dl.write_delta(_df(spark, [1, 2]), src)  # v0
    dl.write_delta(_df(spark, [3]), src)  # v1
    dl.write_delta(_df(spark, [4, 5]), src)  # v2
    sink = delta_exactly_once_sink(dest, app_id="tail")

    t = CommitTailer("delta", src, cursor)
    assert t.pending() == [0, 1, 2]
    assert t.poll(spark, sink) == [0, 1, 2]
    assert _dest_count(spark, dest) == 5
    # nothing pending; a fresh tailer over the same cursor resumes
    assert t.poll(spark, sink) == []
    t2 = CommitTailer("delta", src, cursor)
    assert t2.pending() == []
    # a new commit is picked up by the restarted tailer, once
    dl.write_delta(_df(spark, [6]), src)  # v3
    assert t2.poll(spark, sink) == [3]
    assert _dest_count(spark, dest) == 6
    assert t2.poll(spark, sink) == []


def test_delta_tail_crash_replay_is_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    cursor = str(tmp_path / "cursor.json")
    dl.write_delta(_df(spark, [1, 2, 3]), src)  # v0
    sink = delta_exactly_once_sink(dest, app_id="tail")
    calls = {"n": 0}

    def flaky_sink(batch, version):
        sink(batch, version)
        if calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("crash between sink and cursor advance")

    t = CommitTailer("delta", src, cursor)
    with pytest.raises(RuntimeError, match="crash"):
        t.poll(spark, flaky_sink)
    # cursor untouched: the version replays; the dest's SetTransaction
    # recognizes epoch 0 and skips — rows land exactly once
    assert t.position == -1 and t.pending() == [0]
    assert t.poll(spark, flaky_sink) == [0]
    assert _dest_count(spark, dest) == 3


def test_delta_tail_incremental_adds_and_remove_boundary(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("part", T.StringType()),
        ]
    )

    def pdf(ids, part):
        return pd.DataFrame(
            {"id": ids, "val": [f"v{i}" for i in ids], "part": part}
        )

    w = dl.DeltaFixtureWriter(
        str(tmp_path / "d"), schema, partition_columns=["part"]
    )
    added0 = w.commit(pdf([1, 2], "a"))  # v0
    w.commit(pdf([3], "b"))  # v1
    cursor = str(tmp_path / "dc.json")
    t = CommitTailer("delta", w.path, cursor)
    seen = []

    def sink(batch, version):
        seen.append(
            (version, sorted((r["id"], r["part"]) for r in batch.collect()))
        )

    assert t.poll(spark, sink) == [0, 1]
    assert seen == [(0, [(1, "a"), (2, "a")]), (1, [(3, "b")])]
    # a commit that removes rows WITHOUT change data is the declared
    # boundary (r11: message updated — CDF commits now stream)
    w.commit(pdf([4], "a"), remove_paths=added0, operation="MERGE")  # v2
    with pytest.raises(ValueError, match="change data"):
        t.poll(spark, sink)
    assert t.position == 1  # cursor untouched by the failed version


def test_delta_tail_survives_optimize(spark, tmp_path):
    """r11, VERDICT r10 #1: an OPTIMIZE-style commit (remove+add
    pairs, all dataChange=false) is a byte rewrite — the tailer skips
    it and advances the cursor; every row is delivered exactly once
    across it."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("part", T.StringType()),
        ]
    )

    def pdf(ids, part):
        return pd.DataFrame(
            {"id": ids, "val": [f"v{i}" for i in ids], "part": part}
        )

    w = dl.DeltaFixtureWriter(
        str(tmp_path / "opt"), schema, partition_columns=["part"]
    )
    w.commit(pdf([1, 2], "a"))  # v0
    cursor = str(tmp_path / "oc.json")
    t = CommitTailer("delta", w.path, cursor)
    seen = []

    def sink(batch, version):
        seen.append((version, sorted(r["id"] for r in batch.collect())))

    assert t.poll(spark, sink) == [0]
    # interleave: append, OPTIMIZE mid-stream, append
    w.commit(pdf([3], "b"))  # v1
    w.optimize()  # v2: dataChange=false remove+add pairs
    w.commit(pdf([4], "a"))  # v3
    assert t.poll(spark, sink) == [1, 2, 3]
    # v2 produced NO batch; each row delivered exactly once
    assert seen == [(0, [1, 2]), (1, [3]), (3, [4])]
    assert t.position == 3
    # the optimized table still reads whole
    got = sorted(r["id"] for r in dl.read_delta(spark, w.path).collect())
    assert got == [1, 2, 3, 4]


def test_delta_tail_cdf_delete_streams_row_changes(spark, tmp_path):
    """r11, VERDICT r10 #5: a remove-carrying commit WITH cdc actions
    streams its _change_data rows (with _change_type) instead of
    raising; a remove-carrying commit without CDF still raises."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    w = dl.DeltaFixtureWriter(str(tmp_path / "cdf"), schema)
    [f0] = w.commit(pd.DataFrame({"id": [1, 2, 3], "val": ["a", "b", "c"]}))
    cursor = str(tmp_path / "cc.json")
    t = CommitTailer("delta", w.path, cursor)
    seen = []

    def sink(batch, version):
        seen.append((version, sorted(map(tuple, batch.collect()))))

    assert t.poll(spark, sink) == [0]
    # v1: DELETE id=2 with change data — file swap + cdc action
    w.cdf_commit(
        pd.DataFrame({"id": [2], "val": ["b"], "_change_type": ["delete"]}),
        remove_paths=[f0],
        add_pdf=pd.DataFrame({"id": [1, 3], "val": ["a", "c"]}),
        operation="DELETE",
    )
    assert t.poll(spark, sink) == [1]
    assert seen[-1] == (1, [(2, "b", "delete")])
    # the table itself reads post-delete
    got = sorted(r["id"] for r in dl.read_delta(spark, w.path).collect())
    assert got == [1, 3]
    # update-shaped CDF: pre + post images stream together
    [f1] = [a for a in w._adds][:1]
    w.cdf_commit(
        pd.DataFrame(
            {
                "id": [1, 1],
                "val": ["a", "A"],
                "_change_type": ["update_preimage", "update_postimage"],
            }
        ),
        remove_paths=[f1],
        add_pdf=pd.DataFrame({"id": [1, 3], "val": ["A", "c"]}),
        operation="UPDATE",
    )
    assert t.poll(spark, sink) == [2]
    assert seen[-1] == (
        2,
        [(1, "A", "update_postimage"), (1, "a", "update_preimage")],
    )


def test_iceberg_tail_skips_replace_snapshot(spark, tmp_path):
    """r11: an Iceberg snapshot with summary operation=replace
    (compaction) is skipped with the cursor advancing."""
    from kissmetrics_to_database_spark.sources import iceberg as ib

    FIELDS = [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "val", "required": False, "type": "string"},
    ]
    w = ib.IcebergFixtureWriter(str(tmp_path / "ir"), FIELDS)
    f0 = w.commit(pd.DataFrame({"id": [1, 2], "val": ["a", "b"]}))  # 1000
    cursor = str(tmp_path / "irc.json")
    t = CommitTailer("iceberg", w.path, cursor)
    seen = []

    def sink(batch, version):
        seen.append((version, sorted(r["id"] for r in batch.collect())))

    assert t.poll(spark, sink) == [1000]
    # 1001: compaction — same rows rewritten, operation=replace
    w.commit(
        pd.DataFrame({"id": [1, 2], "val": ["a", "b"]}),
        remove_paths=f0,
        operation="replace",
    )
    # 1002: a real append after the compaction
    w.commit(pd.DataFrame({"id": [3], "val": ["c"]}))
    assert t.poll(spark, sink) == [1001, 1002]
    assert seen == [(1000, [1, 2]), (1002, [3])]
    assert t.position == 1002


def test_delta_tail_column_mapped_table(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    w = dl.DeltaFixtureWriter(
        str(tmp_path / "cm"), schema, column_mapping_mode="name"
    )
    w.commit(pd.DataFrame({"id": [7, 8], "val": ["x", "y"]}))
    t = CommitTailer("delta", w.path, str(tmp_path / "c.json"))
    seen = []
    t.poll(spark, lambda b, v: seen.append(sorted(r["id"] for r in b.collect())))
    assert seen == [[7, 8]]


def test_tailer_rejects_unknown_kind(tmp_path):
    with pytest.raises(ValueError, match="kind"):
        CommitTailer("paimon", str(tmp_path), str(tmp_path / "c"))


def test_iceberg_tail_added_files_and_delete_boundary(spark, tmp_path):
    from kissmetrics_to_database_spark.sources import iceberg as ib

    FIELDS = [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "val", "required": False, "type": "string"},
    ]
    w = ib.IcebergFixtureWriter(str(tmp_path / "it"), FIELDS)
    w.commit(pd.DataFrame({"id": [1, 2], "val": ["a", "b"]}))  # 1000
    w.commit(pd.DataFrame({"id": [3], "val": ["c"]}))  # 1001
    cursor = str(tmp_path / "ic.json")
    t = CommitTailer("iceberg", w.path, cursor)
    seen = []

    def sink(batch, version):
        seen.append((version, sorted(r["id"] for r in batch.collect())))

    assert t.poll(spark, sink) == [1000, 1001]
    assert seen == [(1000, [1, 2]), (1001, [3])]
    # restart resumes; a new append is picked up once
    t2 = CommitTailer("iceberg", w.path, cursor)
    w.commit(pd.DataFrame({"id": [4], "val": ["d"]}))  # 1002
    assert t2.poll(spark, sink) == [1002]
    assert seen[-1] == (1002, [4])
    # a delete-file snapshot is the declared appends-only boundary
    w.delete_commit([("data/f-00000.parquet", 0)])  # 1003
    with pytest.raises(ValueError, match="delete"):
        t2.poll(spark, sink)
    assert t2.position == 1002


def test_delta_tail_cdf_partitioned_delete(spark, tmp_path):
    """r12, ADVICE r11 #2: DML on a PARTITIONED table emits cdc
    actions with real partitionValues (the cdc write is partitioned
    like the table), so the tailer rebuilds partition columns instead
    of streaming NULLs."""
    path = str(tmp_path / "pcdf")
    df = spark.createDataFrame(
        [(1, "de"), (2, "en"), (3, "en"), (4, "fr")],
        "id long, lang string",
    )
    dl.write_delta(df, path, partition_columns=["lang"])
    cursor = str(tmp_path / "cur.json")
    t = CommitTailer("delta", path, cursor)
    seen = []

    def sink(batch, version):
        seen.append((version, sorted(map(tuple, batch.collect()))))

    assert t.poll(spark, sink) == [0]
    dl.delete_delta(spark, path, "lang = 'en' AND id = 2")
    assert t.poll(spark, sink) == [1]
    # the deleted row streams WITH its partition column value
    assert seen[-1] == (1, [(2, "en", "delete")])
    # cdc actions carry real partitionValues per the Delta spec
    import json as _json

    acts = [
        _json.loads(x)
        for x in open(
            os.path.join(path, "_delta_log", f"{1:020d}.json")
        )
        .read()
        .strip()
        .split("\n")
    ]
    cdcs = [a["cdc"] for a in acts if "cdc" in a]
    assert cdcs and all(
        c["partitionValues"] == {"lang": "en"} for c in cdcs
    )
    # update on a partitioned table: pre+post images keep partitions
    dl.update_delta(spark, path, {"id": "id + 10"}, "lang = 'fr'")
    assert t.poll(spark, sink) == [2]
    assert seen[-1] == (
        2,
        [(4, "fr", "update_preimage"), (14, "fr", "update_postimage")],
    )


def test_hudi_mor_tailer_streams_log_records(spark, tmp_path):
    """r12: a MoR deltacommit's rows stream from its LOG files (the
    base-file scan can't see dot-prefixed logs); tombstone-only
    commits stream zero rows with the cursor advancing."""
    import pandas as pd

    from kissmetrics_to_database_spark.sources import hudi

    path = str(tmp_path / "mor")
    w = hudi.HudiMorFixtureWriter(path, key_col="id", partition_col="lang")
    w.insert(
        pd.DataFrame(
            {"id": [1, 2], "val": ["a", "b"], "lang": ["de", "de"]}
        )
    )
    cursor = str(tmp_path / "cur.json")
    t = CommitTailer("hudi", path, cursor)
    seen = []

    def sink(batch, version):
        seen.append(
            (version, sorted(map(tuple, batch.select("id", "val").collect())))
        )

    assert len(t.poll(spark, sink)) == 1
    assert seen[-1][1] == [(1, "a"), (2, "b")]
    # log upsert streams the new record versions
    w.delta_upsert(
        pd.DataFrame({"id": [2, 3], "val": ["B2", "c"], "lang": ["de", "de"]})
    )
    assert len(t.poll(spark, sink)) == 1
    assert seen[-1][1] == [(2, "B2"), (3, "c")]
    # tombstone-only commit: zero rows, cursor advances
    w.delta_delete([1])
    assert len(t.poll(spark, sink)) == 1
    assert seen[-1][1] == []
    assert t.poll(spark, sink) == []
