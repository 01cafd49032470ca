"""The session-scoped memo registry (``session.memo``): one build per
(session, sf_dir data, name, key), rebuilds when a table file under
sf_dir changes, evicts other sessions' entries, counts hits and
misses — and stays the only module-level memo dict in the package."""

from __future__ import annotations

import ast
import os
import shutil
import tempfile
from collections import Counter
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kissmetrics_to_database_spark import session
from kissmetrics_to_database_spark.plans import catalog_ext

PACKAGE = Path(__file__).resolve().parents[1] / "kissmetrics_to_database_spark"
SF0001 = "/root/testdata/sf0.001"


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _copy_testdata(tmp_path: Path, tables: tuple[str, ...]) -> Path:
    """A writable copy of some sf0.001 tables."""
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in tables:
        shutil.copyfile(f"{SF0001}/{t}.parquet", sf / f"{t}.parquet")
    return sf


@pytest.fixture()
def registry(monkeypatch):
    """An empty registry, so these tests neither see nor evict the
    shared test session's entries."""
    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_MEMO_COUNTS", Counter())


def test_memo_builds_once_per_key_and_counts(registry, tmp_path):
    spark = _fake_spark("app-1")
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert session.memo(spark, str(tmp_path), "m", build, 1) == 1
    assert session.memo(spark, str(tmp_path), "m", build, 1) == 1
    assert session.memo(spark, str(tmp_path), "m", build, 2) == 2
    assert session.memo_counts() == {"m": {"hits": 1, "misses": 2}}


def test_memo_rebuilds_when_a_table_file_changes(registry, tmp_path):
    spark = _fake_spark("app-1")
    table = tmp_path / "t.parquet"
    table.write_bytes(b"v1")
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert session.memo(spark, str(tmp_path), "m", build) == 1
    (tmp_path / "notes.txt").write_text("not a table")
    assert session.memo(spark, str(tmp_path), "m", build) == 1
    table.write_bytes(b"v2-longer")
    assert session.memo(spark, str(tmp_path), "m", build) == 2
    (tmp_path / "u.parquet").write_bytes(b"new table")
    assert session.memo(spark, str(tmp_path), "m", build) == 3
    # a rebuilt entry replaces the stale one
    assert len(session._MEMO) == 1


def test_memo_evicts_other_sessions(registry, tmp_path):
    session.memo(_fake_spark("app-old"), str(tmp_path), "m", lambda: "old")
    assert session.memo(
        _fake_spark("app-new"), str(tmp_path), "m", lambda: "new"
    ) == "new"
    assert {k[0] for k in session._MEMO} == {"app-new"}


def test_memo_dir_is_empty_and_session_scoped(registry):
    spark = _fake_spark("app-dir")
    root = os.path.join(tempfile.gettempdir(), "kmdb_artifacts", "app-dir")
    try:
        d = session.memo_dir(spark, "fix", "sf")
        assert os.path.dirname(d) == root
        Path(d, "stale").write_text("x")
        assert session.memo_dir(spark, "fix", "sf") == d
        assert os.listdir(d) == []
        assert session.memo_dir(spark, "fix", "other") != d
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_cache_tables_serves_load_table_until_the_file_changes(
    spark, tmp_path
):
    sf = _copy_testdata(tmp_path, ("region", "nation"))
    conf = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    prev = spark.conf.get(conf, None)
    session.cache_tables(spark, str(sf), ("region", "nation"))
    cached = session.load_table(spark, str(sf), "nation")
    try:
        assert cached.is_cached
        assert session.load_table(spark, str(sf), "nation") is cached
        before = session.memo_counts()["table"]
        session.cache_tables(spark, str(sf), ("region", "nation"))
        after = session.memo_counts()["table"]
        assert after == {
            "hits": before["hits"] + 2, "misses": before["misses"]
        }

        nation = pq.read_table(sf / "nation.parquet")
        pq.write_table(nation.slice(0, 5), sf / "nation.parquet")
        cold = session.load_table(spark, str(sf), "nation")
        assert not cold.is_cached and cold.count() == 5
    finally:
        cached.unpersist()
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_memoized_artifacts_follow_rewritten_tables(spark, tmp_path):
    """Rewriting embeddings.parquet and documents.parquet under the
    same sf_dir must not serve the hyperplanes and classifier weights
    built from the old files."""
    sf = _copy_testdata(tmp_path, ("embeddings", "documents"))
    before = (
        catalog_ext._bitext_hyperplanes(spark, str(sf)),
        catalog_ext._trained_classifier_weights(spark, str(sf)),
    )

    emb = pq.read_table(sf / "embeddings.parquet")
    col = emb.schema.get_field_index("embedding")
    flipped = emb["embedding"].take(pa.array(range(emb.num_rows)[::-1]))
    pq.write_table(
        emb.set_column(col, "embedding", flipped), sf / "embeddings.parquet"
    )
    docs = pq.read_table(sf / "documents.parquet")
    pq.write_table(
        docs.take(pa.array(range(0, docs.num_rows, 2))),
        sf / "documents.parquet",
    )

    after = (
        catalog_ext._bitext_hyperplanes(spark, str(sf)),
        catalog_ext._trained_classifier_weights(spark, str(sf)),
    )
    fresh_dir = tmp_path / "fresh"
    shutil.copytree(sf, fresh_dir)
    fresh = (
        catalog_ext._bitext_hyperplanes(spark, str(fresh_dir)),
        catalog_ext._trained_classifier_weights(spark, str(fresh_dir)),
    )
    assert after == fresh
    assert after[0] != before[0] and after[1] != before[1]


def _module_level_empty_dicts(path: Path) -> list[str]:
    names = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        empty = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id == "dict"
            and not value.args
            and not value.keywords
        )
        if empty:
            names += [ast.unparse(t) for t in targets]
    return names


def test_no_module_level_memo_dicts():
    """Cross-call reuse goes through ``session.memo``. The only
    module-level empty dicts allowed are the registries themselves:
    the query catalog (filled by ``@query``) and the memo registry."""
    allowed = {
        "plans/catalog.py": {"QUERIES", "ORACLES"},
        "session.py": {"_MEMO"},
    }
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        extra = set(_module_level_empty_dicts(path)) - allowed.get(
            rel, set()
        )
        if extra:
            found[rel] = sorted(extra)
    assert found == {}
