"""The shared commit core (``sources/commit.py``): put-if-absent
publish, atomic replace, and the bounded retry every table format's
writer runs on top of them."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

from kissmetrics_to_database_spark.sources import commit, hudi, ndjson
from kissmetrics_to_database_spark.sources import deltalog as dl
from kissmetrics_to_database_spark.sources import iceberg as ib
from kissmetrics_to_database_spark.streaming import tailer

PACKAGE = Path(__file__).resolve().parents[1] / "kissmetrics_to_database_spark"


def _tmp_files(d) -> list[str]:
    return [f for f in os.listdir(d) if f.endswith(".tmp")]


def test_publish_if_absent_second_publish_conflicts(tmp_path):
    final = str(tmp_path / "v1")
    commit.publish_if_absent(final, b"winner")
    with pytest.raises(
        commit.CommitConflict, match="lost the optimistic-commit race"
    ):
        commit.publish_if_absent(final, b"loser")
    assert open(final, "rb").read() == b"winner"
    assert _tmp_files(tmp_path) == []


def test_replace_atomically_overwrites(tmp_path):
    path = str(tmp_path / "state.json")
    commit.replace_atomically(path, b"old")
    commit.replace_atomically(path, b"new")
    assert open(path, "rb").read() == b"new"
    assert _tmp_files(tmp_path) == []


@pytest.mark.parametrize(
    "write, target, install",
    [
        (commit.replace_atomically, "v1", "replace"),
        (commit.publish_if_absent, "v2", "link"),
    ],
)
def test_failed_install_keeps_previous_state(
    tmp_path, monkeypatch, write, target, install
):
    """A failure at the rename/link step leaves the directory exactly
    as it was: the previous file readable, no staged tmp behind."""
    prev = tmp_path / "v1"
    prev.write_bytes(b"old")

    def broken(src, dst):
        raise OSError("injected install failure")

    monkeypatch.setattr(os, install, broken)
    with pytest.raises(OSError, match="injected"):
        write(str(tmp_path / target), b"new")
    assert os.listdir(tmp_path) == ["v1"]
    assert prev.read_bytes() == b"old"


@pytest.mark.parametrize(
    "advance",
    [
        lambda d: ndjson.Watermark(d / "wm.json").advance("7.json"),
        lambda d: tailer._advance_cursor(str(d / "cursor.json"), 3),
    ],
    ids=["watermark", "tailer_cursor"],
)
def test_state_file_fsyncs_before_replace(tmp_path, monkeypatch, advance):
    """The paper's watermark and the tailer's cursor reach disk before
    they become visible under their final name."""
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append("fsync")
        real_fsync(fd)

    def replace(src, dst):
        events.append("replace")
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    advance(tmp_path)
    assert events == ["fsync", "replace"]
    assert _tmp_files(tmp_path) == []


def test_link_and_fsync_only_in_commit_core():
    """Durable publication has one implementation: no other module
    touches ``os.link`` or ``os.fsync``."""
    users = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("link", "fsync")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ):
                users.add(path.relative_to(PACKAGE).as_posix())
    assert users == {"sources/commit.py"}


def _df(spark, ids):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in ids], "id long, val string"
    )


@pytest.mark.parametrize(
    "module, publish, create, append",
    [
        (
            dl,
            "_commit_json",
            lambda spark, path: dl.write_delta(_df(spark, [1]), path),
            lambda spark, path: dl.write_delta(_df(spark, [2]), path),
        ),
        (
            ib,
            "_publish_metadata_version",
            lambda spark, path: ib.write_iceberg(_df(spark, [1]), path),
            lambda spark, path: ib.write_iceberg(_df(spark, [2]), path),
        ),
        (
            hudi,
            "_publish_instant",
            lambda spark, path: hudi.write_hudi(
                _df(spark, [1]), path, key_col="id"
            ),
            lambda spark, path: hudi.upsert_hudi(
                spark, path, _df(spark, [2])
            ),
        ),
    ],
    ids=["write_delta", "write_iceberg", "upsert_hudi"],
)
def test_retry_exhaustion_raises_commit_conflict(
    spark, tmp_path, monkeypatch, module, publish, create, append
):
    """A writer that loses every race gives up after
    ``MAX_ATTEMPTS`` publishes with the one conflict type."""
    path = str(tmp_path / "t")
    create(spark, path)
    calls = []

    def always_lost(*args):
        calls.append(args)
        raise commit.CommitConflict("injected lost race")

    monkeypatch.setattr(module, publish, always_lost)
    with pytest.raises(commit.CommitConflict, match="lost 10 commit races"):
        append(spark, path)
    assert len(calls) == commit.MAX_ATTEMPTS
