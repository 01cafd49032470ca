"""Lakehouse commit tailing (r10, VERDICT r9 #6): treat a Delta,
Iceberg or Hudi table as a STREAMING SOURCE — each new committed
version becomes one micro-batch, epoch = commit version —
composing the r9 lakehouse readers with the r7/r8 exactly-once epoch
machinery. This is what a real ingest pipeline does with a lakehouse
table: tail the transaction log, not the directory.

Contract (the reference's advance-after-commit watermark,
KissmetricsToDatabase.php's processed-file index, restated for
commit logs):

- A persisted CURSOR file records the last fully-processed version.
  It advances ONLY after the sink returns — so delivery is
  at-least-once, and composing with an epoch-keyed idempotent sink
  (``pipeline.delta_exactly_once_sink``'s SetTransaction or
  ``pipeline.jdbc_exactly_once_sink``'s staged ledger) yields
  exactly-once end-to-end: a crash between sink and cursor advance
  replays the version, the sink's ledger recognizes the epoch, and
  the rows land once.
- The cursor is written atomically (``commit.replace_atomically``:
  tmp + fsync + rename), so a crash never leaves a torn cursor.
- Restart = construct a new tailer over the same cursor path; it
  resumes from the recorded version.

Incremental semantics per source:

- **delta**: a commit's batch is its dataChange=true ``add`` actions
  (read straight from ``_delta_log/<v>.json`` — no snapshot replay
  needed for a tail). Commits whose removes are all
  ``dataChange: false`` are OPTIMIZE/compaction rewrites — skipped
  with the cursor advancing (r11, VERDICT r10 #1). Commits with
  ``cdc`` actions (Delta CDF) deliver their ``_change_data`` files
  as row-level changes with the ``_change_type`` column (r11,
  VERDICT r10 #5). Only a commit that
  removes rows (dataChange=true) WITHOUT change data still raises
  ValueError — stated, not silently wrong. Partition columns are
  reconstructed from each action's partitionValues exactly as in
  ``read_delta``, including column-mapping physical names.
- **iceberg**: a snapshot's batch is its ADDED data files (manifest
  entries with status=1 and the snapshot's own id); versions are
  snapshot ids in commit order. Snapshots whose summary operation is
  ``replace`` (compaction — files rewritten, data unchanged) are
  skipped with the cursor advancing (r11). Snapshots that add DELETE
  files (positional or equality) raise ValueError — same
  appends-only contract as the Delta tail.
- **hudi** (r11): versions are completed instants (their numeric
  timestamp value preserves commit order); a commit's batch is its
  written base files filtered to ``_hoodie_commit_time == instant``
  — copy-on-write rewrites preserve unchanged records' original
  commit times, so every record streams exactly once per upsert and
  updates deliver the new record version. ``replacecommit``
  (clustering) instants are skipped with the cursor advancing.

Scale shape: a poll lists the log directory (metadata-scale — one
entry per COMMIT) and reads only the new versions' files; the data
scan is incremental by construction. Nothing driver-side grows with
table size, only with commit count per poll.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kissmetrics_to_database_spark.functions.avroc import (
    read_container as avroc_read,
)
from kissmetrics_to_database_spark.sources import commit, deltalog, iceberg


def _read_cursor(cursor_path: str) -> int:
    """Last fully-processed version; -1 before the first advance."""
    if not os.path.exists(cursor_path):
        return -1
    with open(cursor_path, encoding="utf-8") as f:
        return int(json.load(f)["version"])


def _advance_cursor(cursor_path: str, version: int) -> None:
    os.makedirs(os.path.dirname(cursor_path) or ".", exist_ok=True)
    commit.replace_atomically(
        cursor_path, json.dumps({"version": int(version)}).encode()
    )


def _delta_commit_actions(path: str, version: int) -> list[dict]:
    log = os.path.join(path, "_delta_log", f"{version:020d}.json")
    actions = []
    with open(log, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                actions.append(json.loads(line))
    return actions


class CommitTailer:
    """Tail a lakehouse table's commit log. ``kind`` is 'delta',
    'iceberg' or 'hudi'. ``poll(spark, sink)`` feeds each new version to
    ``sink(batch_df, version)`` in commit order, advancing the cursor
    after each sink return; returns the versions processed."""

    def __init__(self, kind: str, table_path: str, cursor_path: str):
        if kind not in ("delta", "iceberg", "hudi"):
            raise ValueError(f"unknown tailer kind {kind!r}")
        self.kind = kind
        self.table_path = table_path
        self.cursor_path = cursor_path

    @property
    def position(self) -> int:
        return _read_cursor(self.cursor_path)

    def committed_versions(self) -> list[int]:
        if self.kind == "iceberg":
            meta = iceberg.table_metadata(self.table_path)
            return sorted(
                int(s["snapshot-id"]) for s in meta.get("snapshots", [])
            )
        if self.kind == "hudi":
            from kissmetrics_to_database_spark.sources import hudi

            # Hudi instants are numeric yyyyMMddHHmmssSSS strings —
            # their integer value preserves commit order, so the int
            # cursor contract carries over unchanged
            return sorted(
                int(t["instant"])
                for t in hudi.hudi_timeline(self.table_path)
            )
        jsons, _ = deltalog._log_versions(
            os.path.join(self.table_path, "_delta_log")
        )
        return sorted(jsons)

    def pending(self) -> list[int]:
        cur = self.position
        return [v for v in self.committed_versions() if v > cur]

    # -- incremental batch construction -------------------------------

    def _delta_batch(
        self, spark: SparkSession, version: int
    ) -> DataFrame | None:
        state = deltalog.snapshot_state(self.table_path, version)
        meta = state["metadata"]
        schema = deltalog.table_schema(meta)
        part_cols = list(meta.get("partitionColumns") or [])
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        phys_of = {
            f.name: (
                (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                if mode != "none"
                else f.name
            )
            for f in schema.fields
        }
        actions = _delta_commit_actions(self.table_path, version)
        # dataChange=false removes are OPTIMIZE/compaction rewrites —
        # bytes move, rows don't; skip them (r11, VERDICT r10 #1: a
        # routine OPTIMIZE on a tailed table must not kill the tail).
        # dataChange defaults to true per protocol when absent.
        real_removes = [
            a["remove"]
            for a in actions
            if "remove" in a and a["remove"].get("dataChange", True)
        ]
        cdcs = [a["cdc"] for a in actions if "cdc" in a]
        if cdcs:
            # Delta CDF (r11, VERDICT r10 #5): when a commit carries
            # cdc actions they are the COMPLETE change record — read
            # the _change_data files and deliver row-level changes
            # with their _change_type column (insert /
            # update_preimage / update_postimage / delete); the
            # commit's add/remove actions describe the same changes
            # at file granularity and are not re-read.
            return self._delta_files_df(
                spark, cdcs, schema, part_cols, phys_of, with_cdf=True
            )
        if real_removes:
            raise ValueError(
                f"delta commit {version} removes rows with no change "
                "data — tailing row-level changes needs Delta CDF "
                "(_change_data/cdc actions); without it this tailer "
                "is appends-only (dataChange=false rewrites are "
                "skipped)"
            )
        adds = [
            a["add"]
            for a in actions
            if "add" in a and a["add"].get("dataChange", True)
        ]
        if not adds:
            return None
        return self._delta_files_df(
            spark, adds, schema, part_cols, phys_of, with_cdf=False
        )

    def _delta_files_df(
        self,
        spark: SparkSession,
        file_actions: list[dict],
        schema: T.StructType,
        part_cols: list[str],
        phys_of: dict[str, str],
        with_cdf: bool,
    ) -> DataFrame:
        """Read a commit's add/cdc file actions: scan under physical
        names, rename to logical, rebuild partition columns from each
        action's partitionValues (cdc files carry ``_change_type`` as
        an extra data column)."""
        data_fields = [f for f in schema.fields if f.name not in part_cols]
        read_fields = [
            T.StructField(phys_of[f.name], f.dataType, f.nullable)
            for f in data_fields
        ]
        out_cols = [f.name for f in schema.fields]
        if with_cdf:
            read_fields.append(
                T.StructField("_change_type", T.StringType(), True)
            )
            out_cols = out_cols + ["_change_type"]
        data_schema = T.StructType(read_fields)
        type_of = {f.name: f.dataType for f in schema.fields}
        groups: dict[tuple, list[str]] = {}
        for act in file_actions:
            pv = act.get("partitionValues") or {}
            key = tuple(pv.get(phys_of[c], pv.get(c)) for c in part_cols)
            groups.setdefault(key, []).append(
                os.path.join(self.table_path, act["path"])
            )
        parts = []
        for key, files in sorted(groups.items(), key=lambda kv: str(kv[0])):
            df = spark.read.schema(data_schema).parquet(*files)
            sel = [
                F.col(phys_of[f.name]).alias(f.name) for f in data_fields
            ]
            if with_cdf:
                sel.append(F.col("_change_type"))
            df = df.select(*sel)
            for c, raw in zip(part_cols, key):
                df = df.withColumn(
                    c,
                    (F.lit(None) if raw is None else F.lit(raw)).cast(
                        type_of[c]
                    ),
                )
            parts.append(df.select(*out_cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _iceberg_batch(
        self, spark: SparkSession, version: int
    ) -> DataFrame | None:
        meta = iceberg.table_metadata(self.table_path)
        snap = next(
            s
            for s in meta.get("snapshots", [])
            if int(s["snapshot-id"]) == version
        )
        # spec operation "replace" = files rewritten, table data
        # unchanged (compaction) — skip like Delta dataChange=false
        # rewrites (r11)
        if (snap.get("summary") or {}).get("operation") == "replace":
            return None
        mlist = iceberg._local(snap["manifest-list"], self.table_path)
        with open(mlist, "rb") as f:
            _, mentries = avroc_read(f.read())
        new_files: list[str] = []
        for me in mentries:
            with open(
                iceberg._local(me["manifest_path"], self.table_path), "rb"
            ) as f:
                _, entries = avroc_read(f.read())
            for e in entries:
                if int(e["status"]) != 1:  # only this snapshot's ADDs
                    continue
                sid = e.get("snapshot_id")
                if sid is not None and int(sid) != version:
                    continue
                df = e["data_file"]
                if int(df.get("content") or 0) != 0:
                    raise ValueError(
                        f"iceberg snapshot {version} adds delete "
                        "files — tailing row-level changes is out of "
                        "this tailer's declared scope (appends only)"
                    )
                new_files.append(
                    iceberg._local(df["file_path"], self.table_path)
                )
        if not new_files:
            return None
        return spark.read.parquet(*sorted(new_files))

    def _hudi_batch(
        self, spark: SparkSession, version: int
    ) -> DataFrame | None:
        """A commit's batch is the rows it UPSERTED: the commit's
        written base files filtered to ``_hoodie_commit_time == the
        instant`` — copy-on-write rewrites carry unchanged records
        with their ORIGINAL commit times, so the filter delivers each
        record exactly once per upsert (updates stream as the new
        record version, the CDC-style contract a Hudi incremental
        consumer expects). ``replacecommit`` instants (clustering)
        reorganize files without touching records — skipped with the
        cursor advancing, like every other format's compaction."""
        from kissmetrics_to_database_spark.sources import hudi

        inst = next(
            t
            for t in hudi.hudi_timeline(self.table_path)
            if int(t["instant"]) == version
        )
        if inst["action"] == "replacecommit":
            return None  # file reorganization, no new records
        base_pairs = []
        log_rels = []
        for part, stats in (
            inst["metadata"].get("partitionToWriteStats") or {}
        ).items():
            for st in stats or []:
                rel = st.get("path")
                if not rel:
                    continue
                if hudi._LOG_FILE_RE.match(os.path.basename(rel)):
                    log_rels.append(rel)
                else:
                    base_pairs.append((part, rel))
        if not base_pairs and not log_rels:
            return None
        parts = []
        if base_pairs:
            parts.append(
                hudi._scan_files(spark, self.table_path, base_pairs)
            )
        if log_rels:
            # MoR deltacommit (r12): the commit's rows live in its
            # LOG files — stream the records directly (tombstones
            # carry no row payload and are dropped; the SNAPSHOT
            # reader applies them)
            logs = hudi.log_records_df(
                spark, self.table_path, log_rels
            )
            if "_hoodie_is_deleted" in logs.columns:
                logs = logs.filter(~F.col("_hoodie_is_deleted")).drop(
                    "_hoodie_is_deleted"
                )
            parts.append(logs)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        df = df.where(
            F.col("_hoodie_commit_time") == inst["instant"]
        )
        return df.drop(
            *[c for c in hudi.META_COLS if c in df.columns]
        )

    def batch_for(
        self, spark: SparkSession, version: int
    ) -> DataFrame | None:
        if self.kind == "iceberg":
            return self._iceberg_batch(spark, version)
        if self.kind == "hudi":
            return self._hudi_batch(spark, version)
        return self._delta_batch(spark, version)

    # -- the tail loop -------------------------------------------------

    def poll(
        self,
        spark: SparkSession,
        sink: Callable[[DataFrame, int], Any],
        max_versions: int | None = None,
    ) -> list[int]:
        """Process pending versions in commit order. For each: build
        the incremental batch, call ``sink(batch_df, version)``, then
        advance the cursor — the advance-after-commit contract. A
        sink exception leaves the cursor untouched, so the version
        replays on the next poll (pair with an epoch-keyed sink for
        exactly-once)."""
        done: list[int] = []
        for v in self.pending():
            if max_versions is not None and len(done) >= max_versions:
                break
            batch = self.batch_for(spark, v)
            if batch is not None:
                sink(batch, v)
            _advance_cursor(self.cursor_path, v)
            done.append(v)
        return done
