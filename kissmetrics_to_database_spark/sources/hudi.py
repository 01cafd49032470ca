"""Apache Hudi copy-on-write table reader, from the PUBLIC spec.

Completes the lakehouse read trio (Delta `sources/deltalog.py`,
Iceberg `sources/iceberg.py`, and now Hudi) — a user migrating a lake
to this engine arrives with whichever format their writers emit, and
Hudi is the third of the three open ones (hudi.apache.org, table
format 0.x "table version 6" layout).

The public layout this module replays:

- ``<table>/.hoodie/hoodie.properties`` — java-properties file:
  ``hoodie.table.name``, ``hoodie.table.type`` (COPY_ON_WRITE /
  MERGE_ON_READ), ``hoodie.table.version``.
- The TIMELINE: files under ``.hoodie/`` named
  ``<instantTime>.<action>[.<state>]`` where instantTime is a
  ``yyyyMMddHHmmssSSS`` string, action ∈ {commit, replacecommit,
  clean, rollback, …}, and the state suffix is ``.requested`` /
  ``.inflight`` for pending instants — a COMPLETED instant has no
  suffix. Only completed ``commit`` / ``replacecommit`` instants
  contribute data; pending ones are invisible (that is Hudi's
  snapshot-isolation contract — readers never see inflight writes).
- A completed ``<ts>.commit`` holds JSON commit metadata whose
  ``partitionToWriteStats`` maps partition path → write-stat list:
  each stat names the written base file (``path`` relative to the
  table root, ``fileId``, ``numWrites`` …). A base file is named
  ``<fileId>_<writeToken>_<instantTime>.parquet``; within a
  partition, all base files sharing a fileId form a FILE GROUP, and
  copy-on-write upserts rewrite a group by adding a new base file
  with the commit's instant.
- A completed ``<ts>.replacecommit`` (clustering / insert_overwrite)
  additionally carries ``partitionToReplaceFileIds``: file groups
  replaced by the commit — dropped from the view even though no
  remove action exists per-file.

Snapshot semantics (what ``read_hudi`` implements): at instant T the
view is, per (partition, fileId), the base file with the LARGEST
completed instant ≤ T, minus groups replaced at ≤ T. That is exactly
Hudi's "latest file slice" rule for CoW tables; the resolution is
driver-side metadata replay, bounded by file count like the Delta and
Iceberg readers here, and the data scan reads only the chosen files
(the timeline IS the pruning step).

Partition columns: Hudi lays partitions out as directories; with
hive-style naming (``lang=de``) the reader rebuilds typed columns
from the path (the layout Hudi's own ``hoodie.datasource.write.
hive_style_partitioning=true`` emits — also what our fixtures write).
Non-hive partition paths surface as the ``_hoodie_partition_path``
meta column only. The five ``_hoodie_*`` meta columns are stripped
unless ``keep_meta=True``.

MERGE_ON_READ (r12, VERDICT r11 #3): deltacommit instants append
dot-prefixed LOG files (`.{fileId}_{baseInstant}.log.{version}_{token}`)
holding spec-framed Avro data blocks; the snapshot view merges each
file slice's log records onto its base file — newest version per
``_hoodie_record_key`` wins, ``_hoodie_is_deleted=true`` records
tombstone — with the block parse and the merge both DISTRIBUTED (see
``_merge_log_records``). Pending compactions are honored: until the
compaction instant COMPLETES, readers keep merging the previous base
with all logs, including logs rolled forward to the requested
instant.

Honest boundary (quarantine contract, same as the other readers):
timeline layouts newer than table version 6, non-Avro log block
types, and unknown table types raise ValueError instead of
returning wrong rows.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from kissmetrics_to_database_spark.sources import commit

_COMPLETED_RE = re.compile(
    r"^(\d{14,17})\.(commit|deltacommit|replacecommit)$"
)
# log files: `.<fileId>_<baseInstant>.log.<version>_<writeToken>`
_LOG_FILE_RE = re.compile(
    r"^\.(?P<fid>[^_]+(?:-\d+)?)_(?P<base>\d{14,17})"
    r"\.log\.(?P<ver>\d+)_(?P<token>.+)$"
)
META_COLS = [
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
]


def _read_properties(path: str) -> dict[str, str]:
    """Minimal java-properties parse (key=value, # comments) — the
    shape hoodie.properties actually uses."""
    props: dict[str, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith(("#", "!")):
                continue
            key, sep, val = line.partition("=")
            if sep:
                props[key.strip()] = val.strip()
    return props


def hudi_timeline(path: str) -> list[dict]:
    """Completed data instants, ascending by instant time. Each:
    {instant, action, metadata} with the commit JSON parsed."""
    meta_dir = os.path.join(path, ".hoodie")
    if not os.path.isdir(meta_dir):
        raise ValueError(f"not a Hudi table (no .hoodie): {path}")
    props = _read_properties(os.path.join(meta_dir, "hoodie.properties"))
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise ValueError(f"unknown hoodie.table.type={ttype}")
    tver = int(props.get("hoodie.table.version", "6"))
    if tver > 6:
        raise ValueError(
            f"hoodie.table.version={tver} newer than the table-v6 "
            "timeline layout this reader replays"
        )
    out = []
    for name in sorted(os.listdir(meta_dir)):
        m = _COMPLETED_RE.match(name)
        if not m:
            continue
        with open(os.path.join(meta_dir, name), encoding="utf-8") as f:
            raw = f.read().strip()
        out.append(
            {
                "instant": m.group(1),
                "action": m.group(2),
                "metadata": json.loads(raw) if raw else {},
            }
        )
    return out


def _latest_slices(
    path: str, at_instant: str | None
) -> tuple[list[tuple[str, str]], list[str]]:
    """Replay the timeline to ``at_instant`` (default: latest).
    Returns ([(partition_path, table-relative base-file path)],
    completed instants used). The latest-file-slice rule: newest base
    file per (partition, fileId), minus replaced groups. CoW shape —
    slices carrying LOG files raise here (callers needing the
    merge-on-read view go through ``_latest_slices_mor``)."""
    slices, instants = _latest_slices_mor(path, at_instant)
    for s in slices:
        if s["logs"]:
            raise ValueError(
                "file slice carries log files — merge-on-read view "
                "required (read through read_hudi, which merges)"
            )
    files = sorted((s["part"], s["base"]) for s in slices)
    return files, instants


def _latest_slices_mor(
    path: str, at_instant: str | None
) -> tuple[list[dict], list[str]]:
    """Latest FILE SLICES at ``at_instant`` (r12, VERDICT r11 #3 —
    the merge-on-read read path): per live (partition, fileId), the
    newest completed BASE file ≤ at_instant plus the ordered LOG
    files that apply on top of it. Returns ([{part, fid, base,
    logs: [(base_instant, version, rel), ...]}], instants).

    Log attachment honors PENDING COMPACTION: a requested-but-not-
    completed compaction at instant C makes writers emit logs whose
    filename base-instant is C while the newest COMPLETED base is
    still the older B — those logs must merge onto B's slice. Hence
    logs attach when their base-instant ≥ the chosen base's instant,
    ordered by (base-instant, log version): exactly Hudi's slicing
    rule, expressed over the filename layout (authoritative per the
    public spec)."""
    timeline = hudi_timeline(path)
    if at_instant is not None:
        timeline = [t for t in timeline if t["instant"] <= str(at_instant)]
        if not timeline:
            raise ValueError(
                f"no completed instant ≤ {at_instant} in timeline"
            )
    # (partition, fileId) -> (instant, base relpath)
    bases: dict[tuple[str, str], tuple[str, str]] = {}
    # (partition, fileId) -> [(base_instant, version, rel)]
    logs: dict[tuple[str, str], list[tuple[str, int, str]]] = {}
    for inst in timeline:
        md = inst["metadata"]
        for part, stats in (md.get("partitionToWriteStats") or {}).items():
            for st in stats or []:
                rel = st.get("path")
                fid = st.get("fileId")
                if not rel or not fid:
                    continue
                key = (part, fid)
                name = os.path.basename(rel)
                m = _LOG_FILE_RE.match(name)
                if m:
                    logs.setdefault(key, []).append(
                        (m.group("base"), int(m.group("ver")), rel)
                    )
                    continue
                prev = bases.get(key)
                if prev is None or inst["instant"] >= prev[0]:
                    bases[key] = (inst["instant"], rel)
        for part, fids in (
            md.get("partitionToReplaceFileIds") or {}
        ).items():
            for fid in fids or []:
                bases.pop((part, fid), None)
                logs.pop((part, fid), None)
    slices = []
    for (part, fid), (binst, brel) in sorted(bases.items()):
        slice_logs = sorted(
            (bi, v, rel)
            for bi, v, rel in logs.get((part, fid), [])
            if bi >= binst
        )
        slices.append(
            {"part": part, "fid": fid, "base": brel, "logs": slice_logs}
        )
    return slices, [t["instant"] for t in timeline]


def read_hudi(
    spark: SparkSession,
    path: str,
    at_instant: str | None = None,
    keep_meta: bool = False,
) -> DataFrame:
    """Snapshot read of a Hudi CoW table at ``at_instant`` (default
    latest) — see the module docstring for the replayed layout. The
    file list is exact (only the snapshot's latest file slices are
    scanned); hive-style partition directories rebuild as typed
    columns via Spark's ``basePath`` partition discovery, so
    partition pruning on them reaches the scan.

    MERGE_ON_READ (r12, VERDICT r11 #3): slices carrying log files
    merge DISTRIBUTED — base rows union the log records (parsed
    executor-side from the log blocks), the newest version per
    ``_hoodie_record_key`` wins (``max_by`` over a monotone
    commit-sequence — one shuffle on the record key, map-side
    combinable), and ``_hoodie_is_deleted`` tombstones drop. Pending
    compactions are honored: logs written against a requested-but-
    incomplete compaction instant still merge onto the previous
    completed base."""
    slices, _ = _latest_slices_mor(path, at_instant)
    if not slices:
        raise ValueError(f"Hudi table has no completed data: {path}")
    # Merge ONLY the file slices that carry log files (r14
    # optimization round, guide §2.3/§2.4 — shuffle fewer bytes):
    # a record key lives in exactly one file group (Hudi's index
    # invariant), so updates/tombstones for a log-less group's keys
    # cannot exist — its base rows pass through the union untouched,
    # exactly as real Hudi serves them. The max_by merge shuffle now
    # scales with the log-carrying tail of the table, not with every
    # base row of the snapshot.
    log_slices = [s for s in slices if s["logs"]]
    plain = [s for s in slices if not s["logs"]]
    parts = []
    if plain:
        parts.append(
            _scan_files(spark, path, [(s["part"], s["base"]) for s in plain])
        )
    if log_slices:
        base_df = _scan_files(
            spark, path, [(s["part"], s["base"]) for s in log_slices]
        )
        parts.append(
            _merge_log_records(spark, path, base_df, log_slices)
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if not keep_meta:
        df = df.drop(*[c for c in META_COLS if c in df.columns])
    return df


def _scan_files(
    spark: SparkSession, path: str, files: list[tuple[str, str]]
) -> DataFrame:
    """Scan [(partition_path, table-relative file)] with hive-style
    partition columns rebuilt via Spark's ``basePath`` discovery —
    meta columns kept (callers drop or filter on them)."""
    abs_files = [os.path.join(path, rel) for _part, rel in files]
    hive_style = all(
        all("=" in seg for seg in part.split("/"))
        for part, _rel in files
        if part
    )
    reader = spark.read
    if hive_style and any(part for part, _rel in files):
        # basePath keeps partition-dir discovery while listing
        # explicit leaf files — Spark's documented escape hatch
        reader = reader.option("basePath", path)
    return reader.parquet(*abs_files)


def hudi_incremental(
    spark: SparkSession,
    path: str,
    begin_instant: str,
    end_instant: str | None = None,
    keep_meta: bool = False,
) -> DataFrame:
    """Hudi INCREMENTAL QUERY (CoW): the records upserted AFTER
    ``begin_instant`` (exclusive) up to ``end_instant`` (inclusive,
    default latest) — Hudi's signature consumption mode: downstream
    pipelines pull only what changed instead of re-reading snapshots.

    Per the spec this is the latest file slices at ``end_instant``
    filtered on the record-level ``_hoodie_commit_time`` meta column
    (each record's LAST-upsert instant — copy-on-write rewrites
    preserve it on unchanged records, so an untouched row never
    reappears in a pull). The scan touches only file groups some
    commit in the window rewrote: file pruning from the timeline's
    write stats, then the row filter. An updated record is delivered
    in its NEWEST version; deletes are out of CoW incremental scope
    (no delete writer here)."""
    from pyspark.sql import functions as F

    timeline = hudi_timeline(path)
    window = [
        t
        for t in timeline
        if t["instant"] > str(begin_instant)
        and (end_instant is None or t["instant"] <= str(end_instant))
    ]
    # file groups touched in the window (partition, fileId) — only
    # their LATEST slice can hold rows stamped with window instants.
    # Clustering replays too: a replacecommit moving a touched
    # group's records into a merged group makes the NEW group the
    # carrier (its records keep their original commit times).
    window_set = {t["instant"] for t in window}
    touched: set[tuple[str, str]] = set()
    for inst in timeline:
        if end_instant is not None and inst["instant"] > str(end_instant):
            break
        md = inst["metadata"]
        wrote = {
            (part, st["fileId"])
            for part, stats in (
                md.get("partitionToWriteStats") or {}
            ).items()
            for st in stats or []
            if st.get("fileId")
        }
        if inst["action"] == "replacecommit":
            replaced = {
                (part, fid)
                for part, fids in (
                    md.get("partitionToReplaceFileIds") or {}
                ).items()
                for fid in fids or []
            }
            if replaced & touched:
                touched -= replaced
                touched |= wrote
        elif inst["instant"] in window_set:
            touched |= wrote
    if not touched:
        schema = read_hudi(
            spark, path, keep_meta=keep_meta
        ).schema
        return spark.createDataFrame([], schema)
    mor_slices, _ = _latest_slices_mor(path, end_instant)
    if any(s["logs"] for s in mor_slices):
        # merge-on-read: the merged snapshot carries each record's
        # last-change instant, so the window filter is exact; file
        # pruning is coarser than CoW (the merge reads the touched
        # groups' slices base+logs) — documented trade, r12
        df = read_hudi(
            spark, path, at_instant=end_instant, keep_meta=True
        ).where(F.col("_hoodie_commit_time") > str(begin_instant))
        if end_instant is not None:
            df = df.where(
                F.col("_hoodie_commit_time") <= str(end_instant)
            )
        if not keep_meta:
            df = df.drop(*[c for c in META_COLS if c in df.columns])
        return df
    slices, _ = _latest_slices(path, end_instant)
    # map each latest slice back to its (partition, fileId)
    chosen = []
    for part, rel in slices:
        fid = os.path.basename(rel).split("_", 1)[0]
        if (part, fid) in touched:
            chosen.append((part, rel))
    df = _scan_files(spark, path, chosen).where(
        F.col("_hoodie_commit_time") > str(begin_instant)
    )
    if end_instant is not None:
        df = df.where(
            F.col("_hoodie_commit_time") <= str(end_instant)
        )
    if not keep_meta:
        df = df.drop(*[c for c in META_COLS if c in df.columns])
    return df

class HudiFixtureWriter:
    """Minimal Hudi CoW commit emitter for round-trips — the
    ``DeltaFixtureWriter`` pattern: generator + from-spec reader, no
    fixture binaries, NOT a production writer (single process, no
    conflict detection). Emits the table-v6 layout the module
    docstring describes: hoodie.properties, requested → inflight →
    completed timeline files, hive-style partition dirs, base files
    named ``<fileId>_<writeToken>_<instant>.parquet`` carrying the
    five ``_hoodie_*`` meta columns.

    ``insert`` opens one new file group per touched partition;
    ``upsert`` rewrites every group holding a matched record key
    (copy-on-write: same fileId, new base file at the new instant —
    per the spec, updates NEVER fork a new group) and opens a new
    group for unmatched keys; ``cluster`` is a replacecommit merging
    a partition's groups into one. Instants are deterministic
    increasing timestamps so fixtures hash stably."""

    def __init__(
        self,
        path: str,
        key_col: str,
        partition_col: str | None = None,
    ) -> None:
        self.path = path
        self.key_col = key_col
        self.partition_col = partition_col
        self._n_instant = 0
        self._n_group = 0
        self._seqno = 0
        # (partition_path, fileId) -> current rows (pandas)
        self.groups: dict[tuple[str, str], object] = {}
        meta = os.path.join(path, ".hoodie")
        os.makedirs(meta, exist_ok=True)
        with open(
            os.path.join(meta, "hoodie.properties"), "w", encoding="utf-8"
        ) as f:
            f.write(
                "hoodie.table.name="
                + os.path.basename(path.rstrip("/"))
                + "\nhoodie.table.type=COPY_ON_WRITE"
                + "\nhoodie.table.version=6\n"
            )

    def _next_instant(self) -> str:
        self._n_instant += 1
        return f"202401010000{self._n_instant:05d}"

    def _part_path(self, value) -> str:
        if self.partition_col is None:
            return ""
        return f"{self.partition_col}={value}"

    def _write_base_file(self, part: str, fid: str, instant: str, pdf):
        """``pdf`` carries an internal ``_ct`` column: each RECORD's
        last-upsert instant. Per the spec, a file-group rewrite
        copies unchanged records WITH their original
        ``_hoodie_commit_time`` — only the records the commit touched
        get the new instant. Incremental pulls depend on that."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        name = f"{fid}_0-0-0_{instant}.parquet"
        rel = os.path.join(part, name) if part else name
        os.makedirs(
            os.path.dirname(os.path.join(self.path, rel)) or self.path,
            exist_ok=True,
        )
        out = pdf.copy()
        self._seqno += 1
        cts = out.pop("_ct")
        out.insert(0, "_hoodie_file_name", name)
        out.insert(0, "_hoodie_partition_path", part)
        out.insert(
            0, "_hoodie_record_key", pdf[self.key_col].astype(str)
        )
        out.insert(
            0, "_hoodie_commit_seqno", f"{instant}_0_{self._seqno}"
        )
        out.insert(0, "_hoodie_commit_time", cts.values)
        if self.partition_col is not None:
            out = out.drop(columns=[self.partition_col])
        pq.write_table(
            pa.Table.from_pandas(out, preserve_index=False),
            os.path.join(self.path, rel),
        )
        self.groups[(part, fid)] = pdf
        return rel, name

    def _publish(self, instant: str, action: str, metadata: dict) -> None:
        meta = os.path.join(self.path, ".hoodie")
        for suffix in (f".{action}.requested", f".{action}.inflight"):
            with open(
                os.path.join(meta, instant + suffix), "w"
            ) as f:
                f.write("")
        with open(
            os.path.join(meta, f"{instant}.{action}"), "w",
            encoding="utf-8",
        ) as f:
            json.dump(metadata, f)

    def _stats(self, part: str, fid: str, rel: str, pdf, updates: int):
        return {
            "fileId": fid,
            "path": rel.replace(os.sep, "/"),
            "numWrites": int(len(pdf)),
            "numUpdateWrites": int(updates),
            "totalWriteBytes": os.path.getsize(
                os.path.join(self.path, rel)
            ),
        }

    def insert(self, pdf) -> str:
        """One commit; a NEW file group per touched partition."""
        instant = self._next_instant()
        p2s: dict[str, list] = {}
        for pval, sub in self._by_partition(pdf):
            part = self._part_path(pval)
            self._n_group += 1
            fid = f"fg{self._n_group:06d}-0"
            rel, _ = self._write_base_file(
                part,
                fid,
                instant,
                sub.assign(_ct=instant).reset_index(drop=True),
            )
            p2s.setdefault(part, []).append(
                self._stats(part, fid, rel, sub, 0)
            )
        self._publish(
            instant, "commit", {"partitionToWriteStats": p2s}
        )
        return instant

    def upsert(self, pdf) -> str:
        """One commit; matched keys rewrite their file group in
        place (same fileId, new base file), unmatched keys open a
        new group in their partition."""
        instant = self._next_instant()
        p2s: dict[str, list] = {}
        remaining = pdf
        for (part, fid), cur in sorted(self.groups.items()):
            keys = set(cur[self.key_col])
            hit = remaining[
                remaining.apply(
                    lambda r: self._part_path(
                        r[self.partition_col]
                        if self.partition_col
                        else None
                    )
                    == part
                    and r[self.key_col] in keys,
                    axis=1,
                )
            ]
            if not len(hit):
                continue
            # unchanged records keep their original commit time;
            # only the matched (rewritten) records get this instant
            merged = cur[~cur[self.key_col].isin(set(hit[self.key_col]))]
            import pandas as pd

            merged = pd.concat(
                [merged, hit.assign(_ct=instant)], ignore_index=True
            )
            merged = merged.sort_values(self.key_col).reset_index(
                drop=True
            )
            rel, _ = self._write_base_file(part, fid, instant, merged)
            p2s.setdefault(part, []).append(
                self._stats(part, fid, rel, merged, len(hit))
            )
            remaining = remaining[
                ~remaining[self.key_col].isin(set(hit[self.key_col]))
            ]
        for pval, sub in self._by_partition(remaining):
            part = self._part_path(pval)
            self._n_group += 1
            fid = f"fg{self._n_group:06d}-0"
            rel, _ = self._write_base_file(
                part,
                fid,
                instant,
                sub.assign(_ct=instant).reset_index(drop=True),
            )
            p2s.setdefault(part, []).append(
                self._stats(part, fid, rel, sub, 0)
            )
        self._publish(
            instant, "commit", {"partitionToWriteStats": p2s}
        )
        return instant

    def cluster(self, partition_value=None) -> str:
        """replacecommit: merge every file group of one partition
        into a single new group (what Hudi clustering emits —
        new files via partitionToWriteStats, old groups via
        partitionToReplaceFileIds)."""
        import pandas as pd

        instant = self._next_instant()
        part = self._part_path(partition_value)
        old = {
            (p, f): cur
            for (p, f), cur in self.groups.items()
            if p == part
        }
        if not old:
            raise ValueError(f"no file groups in partition {part!r}")
        merged = (
            pd.concat(list(old.values()), ignore_index=True)
            .sort_values(self.key_col)
            .reset_index(drop=True)
        )
        self._n_group += 1
        fid = f"fg{self._n_group:06d}-0"
        rel, _ = self._write_base_file(part, fid, instant, merged)
        for key in old:
            del self.groups[key]
        self.groups[(part, fid)] = merged
        self._publish(
            instant,
            "replacecommit",
            {
                "partitionToWriteStats": {
                    part: [self._stats(part, fid, rel, merged, 0)]
                },
                "partitionToReplaceFileIds": {
                    part: [f for (_p, f) in old]
                },
            },
        )
        return instant

    def pending(self, action: str = "commit") -> str:
        """A requested+inflight instant with NO completed file —
        must stay invisible to readers."""
        instant = self._next_instant()
        meta = os.path.join(self.path, ".hoodie")
        for suffix in (f".{action}.requested", f".{action}.inflight"):
            with open(os.path.join(meta, instant + suffix), "w") as f:
                f.write("")
        return instant

    def _by_partition(self, pdf):
        if self.partition_col is None:
            if len(pdf):
                yield None, pdf
            return
        for pval, sub in pdf.groupby(self.partition_col, sort=True):
            yield pval, sub


# ---------------------------------------------------------------------------
# Merge-on-read: log-file codec + distributed merge (r12, VERDICT r11 #3)
# ---------------------------------------------------------------------------
# Log-file framing per the public Hudi tech spec (hudi.apache.org
# "Tech Specs", HoodieLogFormat): a sequence of blocks, each
#   MAGIC "#HUDI#" | block size (8, BE) | format version (4) |
#   block type ordinal (4) | header map | content length (8) |
#   content | footer map | total block length (8)
# where a metadata map is `count(4) | per entry: key ordinal (4),
# value length (4), UTF-8 bytes`. An AVRO data block's content is
# `format version (4) | record count (4) | per record: length (4) +
# Avro binary` with the writer schema carried in the SCHEMA header.
# Deletes ride as records with `_hoodie_is_deleted=true` (the public
# payload convention), so one record codec serves both.

_LOG_MAGIC = b"#HUDI#"
_LOG_FORMAT_VERSION = 1
_AVRO_BLOCK_VERSION = 3
# HoodieLogBlockType ordinals (command, delete, corrupt, avro, ...)
_BLOCK_AVRO_DATA = 3
# HeaderMetadataType ordinals
_HDR_INSTANT_TIME = 0
_HDR_SCHEMA = 2


def _enc_meta_map(m: dict[int, str]) -> bytes:
    import struct

    out = [struct.pack(">i", len(m))]
    for k in sorted(m):
        v = m[k].encode("utf-8")
        out.append(struct.pack(">i", int(k)))
        out.append(struct.pack(">i", len(v)))
        out.append(v)
    return b"".join(out)


def _dec_meta_map(blob: bytes, pos: int) -> tuple[dict[int, str], int]:
    import struct

    (n,) = struct.unpack_from(">i", blob, pos)
    pos += 4
    out: dict[int, str] = {}
    for _ in range(n):
        (k,) = struct.unpack_from(">i", blob, pos)
        pos += 4
        (ln,) = struct.unpack_from(">i", blob, pos)
        pos += 4
        out[k] = blob[pos : pos + ln].decode("utf-8")
        pos += ln
    return out, pos


def encode_log_block(
    block_type: int, header: dict[int, str], content: bytes
) -> bytes:
    """One spec-framed log block (see the section comment)."""
    import struct

    hdr = _enc_meta_map(header)
    ftr = _enc_meta_map({})
    body = (
        struct.pack(">i", _LOG_FORMAT_VERSION)
        + struct.pack(">i", int(block_type))
        + hdr
        + struct.pack(">q", len(content))
        + content
        + ftr
    )
    total = len(_LOG_MAGIC) + 8 + len(body) + 8
    return (
        _LOG_MAGIC
        + struct.pack(">q", len(body) + 8)
        + body
        + struct.pack(">q", total)
    )


def decode_log_blocks(blob: bytes) -> list[dict]:
    """All blocks of one log file → [{type, header, content}]."""
    import struct

    out = []
    pos = 0
    while pos < len(blob):
        if blob[pos : pos + len(_LOG_MAGIC)] != _LOG_MAGIC:
            raise ValueError(
                f"log block magic mismatch at offset {pos}"
            )
        pos += len(_LOG_MAGIC)
        (size,) = struct.unpack_from(">q", blob, pos)
        pos += 8
        end = pos + size  # size spans body + trailing total-length
        (_ver,) = struct.unpack_from(">i", blob, pos)
        pos += 4
        (btype,) = struct.unpack_from(">i", blob, pos)
        pos += 4
        header, pos = _dec_meta_map(blob, pos)
        (clen,) = struct.unpack_from(">q", blob, pos)
        pos += 8
        content = blob[pos : pos + clen]
        pos += clen
        _footer, pos = _dec_meta_map(blob, pos)
        (_total,) = struct.unpack_from(">q", blob, pos)
        pos += 8
        if pos != end:
            raise ValueError("log block length mismatch")
        out.append({"type": btype, "header": header, "content": content})
    return out


def encode_avro_data_block(
    records: list[dict], avro_schema: dict
) -> bytes:
    """AVRO data block content: version | count | (len + avro) each."""
    import io
    import struct

    from kissmetrics_to_database_spark.functions import avroc

    names: dict = {}
    avroc._collect_names(avro_schema, names)
    out = [
        struct.pack(">i", _AVRO_BLOCK_VERSION),
        struct.pack(">i", len(records)),
    ]
    for rec in records:
        buf = io.BytesIO()
        avroc._encode(buf, avro_schema, rec, names)
        b = buf.getvalue()
        out.append(struct.pack(">i", len(b)))
        out.append(b)
    return b"".join(out)


def decode_avro_data_block(
    content: bytes, avro_schema: dict
) -> list[dict]:
    import struct

    from kissmetrics_to_database_spark.functions import avroc

    names: dict = {}
    avroc._collect_names(avro_schema, names)
    (_ver,) = struct.unpack_from(">i", content, 0)
    (n,) = struct.unpack_from(">i", content, 4)
    pos = 8
    out = []
    for _ in range(n):
        (ln,) = struct.unpack_from(">i", content, pos)
        pos += 4
        r = avroc._Reader(content[pos : pos + ln])
        out.append(avroc._decode(r, avro_schema, names))
        pos += ln
    return out


_AVRO_OF_SPARK = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
}


def _avro_record_schema(fields: list[tuple[str, str]]) -> dict:
    """[(name, spark simpleString type)] → Avro record schema for
    log records: meta strings required, data columns nullable."""
    out = []
    for name, t in fields:
        if name.startswith("_hoodie_") and name != "_hoodie_is_deleted":
            out.append({"name": name, "type": "string"})
        elif name == "_hoodie_is_deleted":
            out.append({"name": name, "type": "boolean"})
        else:
            at = _AVRO_OF_SPARK.get(t)
            if at is None:
                raise ValueError(
                    f"unsupported log-record column type {t!r} ({name})"
                )
            out.append({"name": name, "type": ["null", at], "default": None})
    return {"type": "record", "name": "hudi_log_record", "fields": out}


def _merge_log_records(
    spark: SparkSession,
    path: str,
    base_df: DataFrame,
    slices: list[dict],
    keep_fid: bool = False,
) -> DataFrame:
    """The merge-on-read view: base rows ∪ log records, newest per
    record key wins, tombstones drop. Log blocks parse EXECUTOR-side
    (binaryFile scan + mapInPandas over the block codec) — the
    driver never touches log bytes; at 100 TB a table can carry 1e5
    log files and the parse scales with the cluster like any other
    scan. The single shuffle is the groupBy on
    ``(_hoodie_partition_path, _hoodie_record_key)`` with a
    map-side-combinable ``max_by`` — partition path is part of the
    key (r13, ADVICE r12 #2): under Hudi's default NON-global index
    the same record key legally lives in multiple partitions, and a
    key-only merge would collapse those independent rows to one
    arbitrary winner.

    Each Avro data block decodes with the WRITER schema carried in
    its own SCHEMA header (r13, ADVICE r12 #5) — Avro binary is
    untagged, so decoding with a schema reconstructed from the base
    DataFrame would silently mis-read any block whose writer ordered
    or typed fields differently (schema evolution, foreign writers).
    Decoded records map onto the output columns BY NAME; columns the
    writer didn't carry surface as null. The reconstructed schema
    remains only as a fallback for blocks missing the header."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    log_paths = [
        os.path.join(path, rel)
        for s in slices
        for _bi, _v, rel in s["logs"]
    ]
    out_schema = T.StructType(
        list(base_df.schema.fields)
        + [
            T.StructField("_hoodie_is_deleted", T.BooleanType(), False),
            T.StructField("__seq", T.StringType(), False),
            T.StructField("__fid", T.StringType(), True),
        ]
    )
    avro_schema = _avro_record_schema(
        [(f.name, f.dataType.simpleString()) for f in base_df.schema.fields]
        + [("_hoodie_is_deleted", "boolean")]
    )
    col_names = [f.name for f in out_schema.fields]

    def parse(iterator):
        for pdf in iterator:
            rows = []
            for lp in pdf["__path"]:
                m = _LOG_FILE_RE.match(os.path.basename(lp))
                lp_fid = m.group("fid") if m else None
                with open(lp, "rb") as f:
                    blob = f.read()
                for bi, blk in enumerate(decode_log_blocks(blob)):
                    if blk["type"] != _BLOCK_AVRO_DATA:
                        raise ValueError(
                            f"unsupported log block type {blk['type']}"
                        )
                    instant = blk["header"].get(_HDR_INSTANT_TIME, "")
                    hdr_schema = blk["header"].get(_HDR_SCHEMA)
                    blk_schema = (
                        json.loads(hdr_schema)
                        if hdr_schema
                        else avro_schema
                    )
                    for rec in decode_avro_data_block(
                        blk["content"], blk_schema
                    ):
                        rec = dict(rec)
                        rec["__seq"] = f"{instant}.{bi:04d}"
                        rec["__fid"] = lp_fid
                        if rec.get("_hoodie_is_deleted") is None:
                            rec["_hoodie_is_deleted"] = False
                        rows.append([rec.get(c) for c in col_names])
            yield pd.DataFrame(rows, columns=col_names)

    # Hudi log files are DOT-PREFIXED, and Hadoop's file listing
    # (binaryFile included) silently drops hidden files — real Hudi
    # readers open log streams through their own I/O for the same
    # reason. So the PATH LIST distributes (one row per log file)
    # and each task opens its files from the shared filesystem;
    # executor-parallel, no driver byte-shuffling.
    # createDataFrame parallelizes the local path list across the
    # default parallelism already (round-robin slices), so each task
    # opens a disjoint subset of log files — the explicit
    # repartition() this used to carry only added a round-robin
    # exchange (one extra job per MoR merge; a table's snapshot read,
    # DML predicate scan and compaction each pay it) without changing
    # the distribution (r14 optimization round, guide §2.4).
    logs_df = spark.createDataFrame(
        [(p,) for p in sorted(log_paths)], "__path string"
    ).mapInPandas(parse, schema=out_schema)
    base_tagged = (
        base_df.withColumn("_hoodie_is_deleted", F.lit(False))
        .withColumn(
            # base instants strictly precede any attached log
            # instant, and keys are unique within a slice's base
            # file — the record's own commit time is a valid
            # monotone sequence
            "__seq",
            F.col("_hoodie_commit_time").cast("string"),
        )
        .withColumn(
            "__fid",
            F.split(F.col("_hoodie_file_name"), "_").getItem(0),
        )
    )
    un = base_tagged.select(*col_names).unionByName(logs_df)
    merge_keys = ["_hoodie_partition_path", "_hoodie_record_key"]
    payload = [c for c in col_names if c not in merge_keys]
    merged = (
        un.groupBy(*merge_keys)
        .agg(
            F.max_by(F.struct(*payload), F.col("__seq")).alias("__r")
        )
        .select(*merge_keys, "__r.*")
    )
    keep = [f.name for f in base_df.schema.fields] + (
        ["__fid"] if keep_fid else []
    )
    return merged.filter(~F.col("_hoodie_is_deleted")).select(*keep)


_AVRO_OF_PANDAS = {
    "int64": "long",
    "int32": "int",
    "float64": "double",
    "float32": "float",
    "object": "string",
    "bool": "boolean",
}


class HudiMorFixtureWriter(HudiFixtureWriter):
    """MERGE_ON_READ commit emitter (r12): deltacommits append
    spec-framed LOG files (Avro data blocks) to file groups instead
    of rewriting base files; unmatched keys still open new base-file
    groups (a deltacommit legally carries both); deletes ride as
    ``_hoodie_is_deleted=true`` records (the public payload
    convention); ``request_compaction``/``compact`` emit the pending
    marker and the completing ``commit`` that folds logs into new
    base files at the requested instant. Fixture/test use only, like
    every *FixtureWriter here."""

    def __init__(
        self,
        path: str,
        key_col: str,
        partition_col: str | None = None,
    ) -> None:
        super().__init__(path, key_col, partition_col)
        with open(
            os.path.join(path, ".hoodie", "hoodie.properties"),
            "w",
            encoding="utf-8",
        ) as f:
            f.write(
                "hoodie.table.name="
                + os.path.basename(path.rstrip("/"))
                + "\nhoodie.table.type=MERGE_ON_READ"
                + "\nhoodie.table.version=6\n"
            )
        self._base_instant: dict[tuple[str, str], str] = {}
        self._log_ver: dict[tuple[str, str], int] = {}
        self._data_cols: list[str] | None = None
        self._dtypes: dict[str, str] = {}
        self.pending_compaction: str | None = None

    # record the base instant for every base file the parent writes
    def _write_base_file(self, part, fid, instant, pdf):
        rel, name = super()._write_base_file(part, fid, instant, pdf)
        self._base_instant[(part, fid)] = instant
        if self._data_cols is None:
            self._data_cols = [
                c for c in pdf.columns if c != "_ct"
            ]
            self._dtypes = {
                c: str(pdf[c].dtype) for c in self._data_cols
            }
        return rel, name

    def insert(self, pdf) -> str:
        """Initial inserts publish as deltacommit (the MoR shape) but
        still write base parquet files per new group."""
        instant = self._next_instant()
        p2s: dict[str, list] = {}
        for pval, sub in self._by_partition(pdf):
            part = self._part_path(pval)
            self._n_group += 1
            fid = f"fg{self._n_group:06d}-0"
            rel, _ = self._write_base_file(
                part, fid, instant,
                sub.assign(_ct=instant).reset_index(drop=True),
            )
            p2s.setdefault(part, []).append(
                self._stats(part, fid, rel, sub, 0)
            )
        self._publish(
            instant, "deltacommit", {"partitionToWriteStats": p2s}
        )
        return instant

    def _avro_schema(self) -> dict:
        fields = []
        part_col = self.partition_col
        ordered = [
            c for c in (self._data_cols or []) if c != part_col
        ] + ([part_col] if part_col else [])
        meta_and_data = (
            [(m, "string") for m in META_COLS]
            + [
                (c, _AVRO_OF_PANDAS[self._dtypes[c]])
                for c in ordered
            ]
            + [("_hoodie_is_deleted", "boolean")]
        )
        for name, t in meta_and_data:
            if name.startswith("_hoodie_") and name != "_hoodie_is_deleted":
                fields.append({"name": name, "type": "string"})
            elif name == "_hoodie_is_deleted":
                fields.append({"name": name, "type": "boolean"})
            else:
                fields.append(
                    {"name": name, "type": ["null", t], "default": None}
                )
        return {
            "type": "record",
            "name": "hudi_log_record",
            "fields": fields,
        }

    def _append_log(
        self, part: str, fid: str, instant: str, records: list[dict]
    ) -> str:
        base_inst = self._base_instant[(part, fid)]
        ver = self._log_ver.get((part, fid), 0) + 1
        self._log_ver[(part, fid)] = ver
        name = f".{fid}_{base_inst}.log.{ver}_0-0-0"
        rel = os.path.join(part, name) if part else name
        schema = self._avro_schema()
        content = encode_avro_data_block(records, schema)
        block = encode_log_block(
            _BLOCK_AVRO_DATA,
            {
                _HDR_INSTANT_TIME: instant,
                _HDR_SCHEMA: json.dumps(schema),
            },
            content,
        )
        abs_path = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(abs_path) or self.path, exist_ok=True)
        # one block per commit; a second commit to the same (group,
        # base-instant) rolls a new .log.<version> file — both shapes
        # exist in real tables, this fixture emits the latter
        with open(abs_path, "wb") as f:
            f.write(block)
        return rel

    def _log_record(
        self, row: dict, instant: str, name: str, part: str,
        deleted: bool = False,
    ) -> dict:
        self._seqno += 1
        part_col = self.partition_col
        ordered = [
            c for c in (self._data_cols or []) if c != part_col
        ] + ([part_col] if part_col else [])
        rec = {
            "_hoodie_commit_time": instant,
            "_hoodie_commit_seqno": f"{instant}_0_{self._seqno}",
            "_hoodie_record_key": str(row[self.key_col]),
            "_hoodie_partition_path": part,
            "_hoodie_file_name": name,
            "_hoodie_is_deleted": bool(deleted),
        }
        for c in ordered:
            v = row.get(c)
            if v is None or (deleted and c != self.key_col):
                rec[c] = None
            elif self._dtypes[c] == "object":
                rec[c] = str(v)
            elif self._dtypes[c] in ("float64", "float32"):
                rec[c] = float(v)
            elif self._dtypes[c] == "bool":
                rec[c] = bool(v)
            else:
                rec[c] = int(v)
        return rec

    def delta_upsert(self, pdf) -> str:
        """One deltacommit: matched keys APPEND a log file to their
        group; unmatched keys open new base-file groups."""
        import pandas as pd

        instant = self._next_instant()
        p2s: dict[str, list] = {}
        remaining = pdf
        for (part, fid), cur in sorted(self.groups.items()):
            keys = set(cur[self.key_col])
            hit = remaining[
                remaining.apply(
                    lambda r: self._part_path(
                        r[self.partition_col]
                        if self.partition_col
                        else None
                    )
                    == part
                    and r[self.key_col] in keys,
                    axis=1,
                )
            ]
            if not len(hit):
                continue
            base_inst = self._base_instant[(part, fid)]
            recs = [
                self._log_record(dict(r), instant, "", part)
                for _, r in hit.iterrows()
            ]
            rel = self._append_log(part, fid, instant, recs)
            p2s.setdefault(part, []).append(
                {
                    "fileId": fid,
                    "path": rel.replace(os.sep, "/"),
                    "numWrites": int(len(hit)),
                    "numUpdateWrites": int(len(hit)),
                    "baseInstantTime": base_inst,
                    "totalWriteBytes": os.path.getsize(
                        os.path.join(self.path, rel)
                    ),
                }
            )
            merged = cur[~cur[self.key_col].isin(set(hit[self.key_col]))]
            merged = pd.concat(
                [merged, hit.assign(_ct=instant)], ignore_index=True
            ).sort_values(self.key_col).reset_index(drop=True)
            self.groups[(part, fid)] = merged
            remaining = remaining[
                ~remaining[self.key_col].isin(set(hit[self.key_col]))
            ]
        for pval, sub in self._by_partition(remaining):
            part = self._part_path(pval)
            self._n_group += 1
            fid = f"fg{self._n_group:06d}-0"
            rel, _ = self._write_base_file(
                part, fid, instant,
                sub.assign(_ct=instant).reset_index(drop=True),
            )
            p2s.setdefault(part, []).append(
                self._stats(part, fid, rel, sub, 0)
            )
        self._publish(
            instant, "deltacommit", {"partitionToWriteStats": p2s}
        )
        return instant

    def delta_delete(self, keys) -> str:
        """One deltacommit of tombstone log records
        (``_hoodie_is_deleted=true``) for the given record keys."""
        instant = self._next_instant()
        p2s: dict[str, list] = {}
        todo = set(keys)
        for (part, fid), cur in sorted(self.groups.items()):
            hit = cur[cur[self.key_col].isin(todo)]
            if not len(hit):
                continue
            recs = [
                self._log_record(
                    dict(r), instant, "", part, deleted=True
                )
                for _, r in hit.iterrows()
            ]
            rel = self._append_log(part, fid, instant, recs)
            p2s.setdefault(part, []).append(
                {
                    "fileId": fid,
                    "path": rel.replace(os.sep, "/"),
                    "numWrites": int(len(hit)),
                    "numDeletes": int(len(hit)),
                    "totalWriteBytes": os.path.getsize(
                        os.path.join(self.path, rel)
                    ),
                }
            )
            self.groups[(part, fid)] = cur[
                ~cur[self.key_col].isin(set(hit[self.key_col]))
            ].reset_index(drop=True)
            todo -= set(hit[self.key_col])
        self._publish(
            instant, "deltacommit", {"partitionToWriteStats": p2s}
        )
        return instant

    def request_compaction(self) -> str:
        """Pending compaction: the requested marker lands and NEW
        logs roll forward to the requested base instant — readers
        must keep merging the old slice until the compaction
        COMPLETES."""
        instant = self._next_instant()
        meta = os.path.join(self.path, ".hoodie")
        for suffix in (".compaction.requested", ".compaction.inflight"):
            with open(os.path.join(meta, instant + suffix), "w") as f:
                f.write("")
        for key in self.groups:
            self._base_instant[key] = instant
        self.pending_compaction = instant
        return instant

    def compact(self) -> str:
        """Complete the pending compaction: fold each group's merged
        state into a new base file AT the requested instant and
        publish the ``commit``."""
        if self.pending_compaction is None:
            raise ValueError("no pending compaction")
        instant = self.pending_compaction
        p2s: dict[str, list] = {}
        for (part, fid), cur in sorted(self.groups.items()):
            rel, _ = self._write_base_file(part, fid, instant, cur)
            p2s.setdefault(part, []).append(
                self._stats(part, fid, rel, cur, 0)
            )
        self._publish(instant, "commit", {"partitionToWriteStats": p2s})
        self.pending_compaction = None
        return instant


def log_records_df(
    spark: SparkSession, path: str, rels: list[str]
) -> DataFrame:
    """The records of the given log files as a DataFrame (meta
    columns + data columns + ``_hoodie_is_deleted``), typed from the
    Avro schema the first block's SCHEMA header carries. One tiny
    driver read fetches that header (metadata-scale); the record
    parse itself distributes exactly like ``_merge_log_records``.
    Used by the commit tailer to stream a deltacommit's rows."""
    import pandas as pd
    from pyspark.sql import types as T

    if not rels:
        raise ValueError("no log files")
    first = os.path.join(path, rels[0])
    with open(first, "rb") as f:
        blob = f.read()
    blk0 = decode_log_blocks(blob)[0]
    avro_schema = json.loads(blk0["header"][_HDR_SCHEMA])
    spark_of = {
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "string": T.StringType(),
        "boolean": T.BooleanType(),
    }

    def styp(t):
        if isinstance(t, list):  # ["null", X]
            t = [x for x in t if x != "null"][0]
        return spark_of[t]

    fields = [
        T.StructField(f["name"], styp(f["type"]), True)
        for f in avro_schema["fields"]
    ]
    out_schema = T.StructType(
        fields + [T.StructField("__seq", T.StringType(), True)]
    )
    col_names = [f.name for f in out_schema.fields]
    paths = [os.path.join(path, r) for r in rels]

    def parse(iterator):
        for pdf in iterator:
            rows = []
            for lp in pdf["__path"]:
                with open(lp, "rb") as f:
                    b = f.read()
                for bi, blk in enumerate(decode_log_blocks(b)):
                    if blk["type"] != _BLOCK_AVRO_DATA:
                        raise ValueError(
                            f"unsupported log block type {blk['type']}"
                        )
                    sch = json.loads(blk["header"][_HDR_SCHEMA])
                    instant = blk["header"].get(_HDR_INSTANT_TIME, "")
                    for rec in decode_avro_data_block(
                        blk["content"], sch
                    ):
                        rec = dict(rec)
                        rec["__seq"] = f"{instant}.{bi:04d}"
                        rows.append([rec.get(c) for c in col_names])
            yield pd.DataFrame(rows, columns=col_names)

    return (
        spark.createDataFrame(
            [(p,) for p in sorted(paths)], "__path string"
        )
        .repartition(min(len(paths), 32))
        .mapInPandas(parse, schema=out_schema)
        .drop("__seq")
    )


# ---------------------------------------------------------------------------
# Production copy-on-write writer (r12): distributed insert + upsert
# ---------------------------------------------------------------------------


def _next_instant_after(path: str) -> str:
    """Monotone 17-digit instant: max(completed, pending) + 1.
    Deterministic (counter, not wall clock) so fixtures and oracle
    queries hash stably; real instants are opaque ordered strings to
    every reader, so the choice is invisible downstream."""
    meta_dir = os.path.join(path, ".hoodie")
    mx = 20240101000000000
    if os.path.isdir(meta_dir):
        for name in os.listdir(meta_dir):
            m = re.match(r"^(\d{14,17})\.", name)
            if m:
                mx = max(mx, int(m.group(1)))
    return f"{mx + 1:017d}"


def _publish_instant(
    path: str, instant: str, action: str, metadata: dict
) -> None:
    """requested → inflight → completed, the completed file landing
    PUT-IF-ABSENT — two writers racing on the same instant cannot
    clobber each other; the loser gets ``commit.CommitConflict`` and
    retries at the next instant (the caller's loop)."""
    meta = os.path.join(path, ".hoodie")
    for suffix in (f".{action}.requested", f".{action}.inflight"):
        fp = os.path.join(meta, instant + suffix)
        if not os.path.exists(fp):
            with open(fp, "w"):
                pass
    commit.publish_if_absent(
        os.path.join(meta, f"{instant}.{action}"),
        json.dumps(metadata).encode(),
    )


def write_hudi(
    df: DataFrame,
    path: str,
    key_col: str,
    partition_col: str | None = None,
    n_buckets: int = 4,
    table_type: str = "COPY_ON_WRITE",
) -> str:
    """PRODUCTION distributed Hudi CoW insert (r12) — the landing
    half the trio was missing (Delta: ``write_delta``; Iceberg:
    ``write_iceberg``; Hudi read paths shipped r11/r12 but the only
    writer was the pandas fixture class). Emits the table-v6 layout
    the readers replay: hoodie.properties, hive-style partition
    dirs, base files named ``<fileId>_<writeToken>_<instant>.parquet``
    carrying the five ``_hoodie_*`` meta columns, and a completed
    ``commit`` instant whose partitionToWriteStats names every file.

    File groups use a BUCKET layout (fileId = pmod(hash(key),
    n_buckets) per partition — Hudi's public bucket-index shape), so
    ``upsert_hudi`` can route a key to its group WITHOUT reading any
    index: the write plan is one repartition on (partition, bucket)
    and one task per file group, fully distributed; only the commit
    JSON (one stat per FILE) is driver-side, the same metadata-scale
    contract as the Delta/Iceberg writers here.

    ``table_type="MERGE_ON_READ"`` (r13, VERDICT r12 #3) initializes
    a MoR table: the bulk insert still writes base files (Hudi's own
    MoR bulk-insert shape), but publishes a ``deltacommit`` and
    later ``upsert_hudi`` calls APPEND log files to affected groups
    instead of rewriting their bases — see ``_upsert_hudi_mor_once``
    and ``compact_hudi``.

    Returns the committed instant."""
    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise ValueError(f"unknown table_type {table_type!r}")
    if key_col not in df.columns:
        raise ValueError(f"key column {key_col!r} not in DataFrame")
    if partition_col is not None and partition_col not in df.columns:
        raise ValueError(
            f"partition column {partition_col!r} not in DataFrame"
        )
    os.makedirs(os.path.join(path, ".hoodie"), exist_ok=True)
    props_fp = os.path.join(path, ".hoodie", "hoodie.properties")
    with PipelineLock(os.path.join(path, ".hoodie", "_writer.lock")):
        if not os.path.exists(props_fp):
            with open(props_fp, "w", encoding="utf-8") as f:
                f.write(
                    "hoodie.table.name="
                    + os.path.basename(path.rstrip("/"))
                    + f"\nhoodie.table.type={table_type}"
                    + "\nhoodie.table.version=6"
                    + f"\nhoodie.table.recordkey.fields={key_col}"
                    + (
                        f"\nhoodie.table.partition.fields={partition_col}"
                        if partition_col
                        else ""
                    )
                    + f"\nkmdb.bucket.count={int(n_buckets)}\n"
                )
        else:
            props = _read_properties(props_fp)
            if props.get("hoodie.table.recordkey.fields") != key_col:
                raise ValueError(
                    "key column mismatch with existing table"
                )
            n_buckets = int(props.get("kmdb.bucket.count", n_buckets))
            table_type = props.get(
                "hoodie.table.type", "COPY_ON_WRITE"
            )
            if hudi_timeline(path):
                # bucket layout: a second bulk insert would open a
                # NEW base file in existing groups and shadow their
                # rows under the latest-slice rule — route through
                # upsert_hudi, which merges
                raise ValueError(
                    "table already has data — use upsert_hudi "
                    "(bulk insert only initializes a table)"
                )
        for _attempt in range(commit.MAX_ATTEMPTS):
            instant = _next_instant_after(path)
            try:
                return _write_hudi_files(
                    df,
                    path,
                    key_col,
                    partition_col,
                    n_buckets,
                    instant,
                    existing=None,
                    action=(
                        "deltacommit"
                        if table_type == "MERGE_ON_READ"
                        else "commit"
                    ),
                )
            except commit.CommitConflict:
                continue
        raise commit.CommitConflict(
            f"lost {commit.MAX_ATTEMPTS} commit races under {path}"
        )


def _write_hudi_files(
    df: DataFrame,
    path: str,
    key_col: str,
    partition_col: str | None,
    n_buckets: int,
    instant: str,
    existing: DataFrame | None,
    updated_keys_df: DataFrame | None = None,
    action_counts: dict | None = None,
    action: str = "commit",
    extra_stats: dict[str, list] | None = None,
) -> str:
    """Shared distributed write tail for insert and upsert: tag meta
    columns, repartition on (partition, bucket) so each file group
    writes as ONE task, stage hive-style, rename to the embedded
    ``_hoodie_file_name``, publish the commit.

    Base-file names embed a PER-WRITER uuid as the write token (r13,
    ADVICE r12 #4): two racing writers compute the same next instant
    via ``_next_instant_after``, and with a fixed token both would
    rename staged files onto identical destinations — the loser's
    rename silently replacing the winner's already-committed data
    before the put-if-absent commit even ran. A per-writer token
    makes destination paths collision-free; the commit JSON records
    the exact winning paths, so readers never see the loser's
    orphans (which are also unlinked on a lost race, below)."""
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    spark = df.sparkSession
    part_expr = (
        F.concat(F.lit(f"{partition_col}="), F.col(partition_col).cast("string"))
        if partition_col
        else F.lit("")
    )
    token = _uuid.uuid4().hex[:8]
    bucket = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets))
    fid = F.format_string("b%05d-0", bucket)
    fname = F.format_string(
        f"b%05d-0_{token}_%s.parquet", bucket, F.lit(instant)
    )
    tagged = (
        df.withColumn("_hoodie_commit_time", F.lit(instant))
        if "_hoodie_commit_time" not in df.columns
        else df
    )
    tagged = (
        tagged.withColumn(
            "_hoodie_commit_seqno",
            F.format_string(
                "%s_0_%d",
                F.col("_hoodie_commit_time"),
                F.monotonically_increasing_id(),
            ),
        )
        .withColumn("_hoodie_record_key", F.col(key_col).cast("string"))
        .withColumn("_hoodie_partition_path", part_expr)
        .withColumn("_hoodie_file_name", fname)
        .withColumn("__fid", fid)
    )
    meta_first = META_COLS + [
        c for c in df.columns if c not in META_COLS and c != "__fid"
    ]
    tagged = tagged.select(*meta_first, "__fid")
    # one output file per (partition dir, file group)
    shuffle_keys = ["_hoodie_partition_path", "__fid"]
    staged = tagged.repartition(*[F.col(c) for c in shuffle_keys])
    seg = _uuid.uuid4().hex[:12]
    stage = os.path.join(path, f"_staging-{seg}")
    data_cols = [
        c
        for c in meta_first
        if c != partition_col or partition_col is None
    ]
    (
        staged.withColumn("__p", F.col("_hoodie_partition_path"))
        .select(*data_cols, "__fid", "__p")
        .write.mode("overwrite")
        .partitionBy("__p", "__fid")
        .parquet(stage)
    )
    # rename staged files to the embedded layout name
    p2s: dict[str, list] = {}
    n_rows_of: dict[tuple[str, str], int] = {}
    import pyarrow.parquet as pq

    for root, _dirs, names in os.walk(stage):
        for name in sorted(names):
            if not name.endswith(".parquet") or name.startswith("_"):
                continue
            rel_dir = os.path.relpath(root, stage)
            comps = [c for c in rel_dir.split(os.sep) if c]
            from urllib.parse import unquote

            part = ""
            fid_v = None
            for comp in comps:
                k, _, raw = comp.partition("=")
                if k == "__p":
                    part = unquote(raw)
                    if part == "__HIVE_DEFAULT_PARTITION__":
                        part = ""
                elif k == "__fid":
                    fid_v = unquote(raw)
            final_name = f"{fid_v}_{token}_{instant}.parquet"
            final_rel = (
                os.path.join(part, final_name) if part else final_name
            )
            os.makedirs(
                os.path.dirname(os.path.join(path, final_rel))
                or path,
                exist_ok=True,
            )
            os.rename(
                os.path.join(root, name),
                os.path.join(path, final_rel),
            )
            n = int(
                pq.read_metadata(os.path.join(path, final_rel)).num_rows
            )
            p2s.setdefault(part, []).append(
                {
                    "fileId": fid_v,
                    "path": final_rel.replace(os.sep, "/"),
                    "numWrites": n,
                    "numUpdateWrites": 0,
                    "totalWriteBytes": os.path.getsize(
                        os.path.join(path, final_rel)
                    ),
                }
            )
    shutil.rmtree(stage, ignore_errors=True)
    for part, stats in (extra_stats or {}).items():
        p2s.setdefault(part, []).extend(stats)
    md = {"partitionToWriteStats": p2s}
    if action_counts:
        md.update(action_counts)
    try:
        _publish_instant(path, instant, action, md)
    except RuntimeError:
        # lost the put-if-absent race: our uuid-token files are
        # invisible orphans (readers list from commit metadata) —
        # unlink them before the caller retries at the next instant
        for stats in p2s.values():
            for st in stats:
                try:
                    os.unlink(os.path.join(path, st["path"]))
                except OSError:
                    pass
        raise
    return instant


def upsert_hudi(
    spark: SparkSession,
    path: str,
    source: DataFrame,
) -> str:
    """PRODUCTION distributed Hudi CoW UPSERT (r12): matched record
    keys replace their current version, new keys insert — the
    bucket-index route: a key's file group is pmod(hash(key),
    n_buckets), so affected groups resolve WITHOUT scanning any
    index, untouched file groups are never read or rewritten, and
    each affected group rewrites as one task (existing survivors,
    with their ORIGINAL ``_hoodie_commit_time`` preserved per the
    spec, unioned with the new record versions stamped at the new
    instant — incremental pulls depend on exactly that). Commit
    metadata is one stat per rewritten FILE.

    NON-GLOBAL index contract (Hudi's own for bucket/bloom
    non-global indexes): the record key is matched WITHIN the
    source row's partition — a source row carrying a different
    partition value than the key's current row INSERTS into the new
    partition and leaves the old row in place. Callers needing
    global-key semantics must route partition changes as
    delete+insert. Returns the committed instant.

    Isolation (r13, VERDICT r12 #2 adjudication): a lost
    put-if-absent race re-runs ``_upsert_hudi_once`` FROM SCRATCH —
    it re-resolves ``_latest_slices_mor`` and re-scans the touched
    groups against the post-race snapshot, so there is no stale
    read set to validate (contrast ``merge_delta``, whose retry
    re-commits a pre-built action set and therefore carries an
    explicit read-predicate check). Different-instant interleaves
    are serialized by the table-directory ``PipelineLock`` both
    writers must traverse."""
    from pyspark.sql import functions as F

    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    props = _read_properties(
        os.path.join(path, ".hoodie", "hoodie.properties")
    )
    key_col = props["hoodie.table.recordkey.fields"]
    partition_col = props.get("hoodie.table.partition.fields") or None
    n_buckets = int(props.get("kmdb.bucket.count", 4))
    mor = props.get("hoodie.table.type") == "MERGE_ON_READ"
    if key_col not in source.columns:
        raise ValueError(f"source is missing key column {key_col!r}")
    once = _upsert_hudi_mor_once if mor else _upsert_hudi_once
    with PipelineLock(os.path.join(path, ".hoodie", "_writer.lock")):
        for _attempt in range(commit.MAX_ATTEMPTS):
            instant = _next_instant_after(path)
            try:
                return once(
                    spark,
                    path,
                    source,
                    key_col,
                    partition_col,
                    n_buckets,
                    instant,
                )
            except commit.CommitConflict:
                continue
        raise commit.CommitConflict(
            f"lost {commit.MAX_ATTEMPTS} commit races under {path}"
        )


def _upsert_hudi_once(
    spark, path, source, key_col, partition_col, n_buckets, instant
) -> str:
    from pyspark.sql import functions as F

    bucket = F.pmod(
        F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)
    )
    src = source.withColumn("__fid", F.format_string("b%05d-0", bucket))
    part_expr = (
        F.concat(
            F.lit(f"{partition_col}="),
            F.col(partition_col).cast("string"),
        )
        if partition_col
        else F.lit("")
    )
    src = src.withColumn("__part", part_expr).cache()
    # affected file groups: metadata-scale collect (one row per GROUP)
    affected = {
        (r["__part"], r["__fid"])
        for r in src.select("__part", "__fid").distinct().collect()
    }
    slices, _ = _latest_slices_mor(path, None)
    live = {(s["part"], s["fid"]): s for s in slices}
    touched = [
        live[k] for k in sorted(affected & set(live.keys()))
    ]
    n_upd = 0
    if touched:
        cur = _scan_files(
            spark, path, [(s["part"], s["base"]) for s in touched]
        )
        # anti-join on (PARTITION, key), not key alone (r13, ADVICE
        # r12 #3): `cur` spans every touched (partition, bucket)
        # group, and under the documented non-global contract a key
        # existing in partitions A and B must only be replaced in
        # the partition its source row targets — a key-only anti
        # would silently drop B's row when a source batch updating
        # the key in A happens to touch B's group too.
        survivors = cur.join(
            src.select(
                F.col(key_col).cast("string").alias("__k"),
                F.col("__part").alias("__srcpart"),
            ),
            on=(F.col("_hoodie_record_key") == F.col("__k"))
            & (F.col("_hoodie_partition_path") == F.col("__srcpart")),
            how="left_anti",
        )
        # n_upd = rows the anti-join removes = rows the SEMI join
        # keeps: one count job instead of two full scans of the
        # touched groups (cur.count() + survivors.count() — r13
        # optimization round, guide §1.2); the anti-join itself then
        # executes exactly once, inside the rewrite below.
        n_upd = cur.join(
            src.select(
                F.col(key_col).cast("string").alias("__k"),
                F.col("__part").alias("__srcpart"),
            ),
            on=(F.col("_hoodie_record_key") == F.col("__k"))
            & (F.col("_hoodie_partition_path") == F.col("__srcpart")),
            how="left_semi",
        ).count()
    else:
        survivors = None
    new_rows = src.drop("__fid", "__part").withColumn(
        "_hoodie_commit_time", F.lit(instant)
    )
    if survivors is not None:
        data_cols = [
            c for c in survivors.columns if not c.startswith("_hoodie_")
        ]
        merged = survivors.select(
            "_hoodie_commit_time", *data_cols
        ).unionByName(
            new_rows.select("_hoodie_commit_time", *data_cols)
        )
    else:
        merged = new_rows
    # survivors keep their original commit time; the write tail
    # re-tags everything else. Untouched groups: rows from OTHER
    # buckets never enter `merged`, so their files are never
    # rewritten — but the rewrite of an affected group must replay
    # rows from affected groups only, which `merged` already is.
    return _write_hudi_files(
        merged,
        path,
        key_col,
        partition_col,
        n_buckets,
        instant,
        existing=None,
        action_counts={"kmdb-num-update-writes": int(n_upd)},
    )


def _pending_compaction(path: str) -> str | None:
    """The newest requested-but-not-completed compaction instant, or
    None. Writers must roll NEW log files' base-instant forward to
    it (the spec's pending-compaction contract the read path already
    honors) so their records apply on top of the compacted base."""
    meta = os.path.join(path, ".hoodie")
    if not os.path.isdir(meta):
        return None
    pend = None
    for name in os.listdir(meta):
        m = re.match(r"^(\d{14,17})\.compaction\.requested$", name)
        if m and not os.path.exists(
            os.path.join(meta, f"{m.group(1)}.commit")
        ):
            pend = max(pend or "", m.group(1))
    return pend


def _log_append_stats_df(
    path: str,
    rows: DataFrame,
    key_col: str,
    instant: str,
    token: str,
    slice_meta: dict[tuple[str, str], tuple[str, int]],
    deleted: bool = False,
) -> DataFrame:
    """EXECUTOR-side log-file appends (r13, VERDICT r12 #3 — the
    write half of the MoR path): ``rows`` (tagged ``__part``/
    ``__fid``) group on (partition, file group) via applyInPandas;
    each task encodes ONE spec-framed Avro data block (writer schema
    in the SCHEMA header) and writes `.{fid}_{baseInstant}.log.
    {ver}_{token}` next to the group's base file — the driver never
    touches log bytes, mirroring the read path's contract. The
    per-writer ``token`` keeps racing writers collision-free.
    ``slice_meta`` maps (part, fid) → (base_instant, next_version):
    metadata-scale, one entry per LIVE group. Returns the LAZY
    stats DataFrame (one row per log file) — the plan is one
    hashpartitioning(__part, __fid) shuffle into the Arrow kernel,
    no join anywhere (asserted in PLANS.md
    ``op:hudi_mor_log_append``).

    Single-pass group routing (r14 optimization round, guide §1.2):
    a group NOT in ``slice_meta`` (no live slice — its rows must
    open a new base-file group) writes nothing and returns a MARKER
    row (``rel`` NULL), so the caller learns the affected-group
    split from the same job that writes the logs — the separate
    distinct().collect() discovery pass and its semi-join are gone
    (one Spark job less per MoR upsert/delete commit)."""
    import pandas as pd
    from pyspark.sql import types as T

    data_fields = [
        (f.name, f.dataType.simpleString())
        for f in rows.schema.fields
        if f.name not in ("__part", "__fid")
    ]
    avro_schema = _avro_record_schema(
        [(m, "string") for m in META_COLS]
        + data_fields
        + [("_hoodie_is_deleted", "boolean")]
    )
    data_names = [n for n, _ in data_fields]
    out_schema = T.StructType(
        [
            T.StructField("part", T.StringType()),
            T.StructField("fid", T.StringType()),
            T.StructField("rel", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("size", T.LongType()),
        ]
    )

    def _py(v):
        if v is None or (isinstance(v, float) and v != v):
            return None
        return v.item() if hasattr(v, "item") else v

    def write_group(key, pdf):
        part, fid = key[0], key[1]
        meta = slice_meta.get((part, fid))
        if meta is None:
            # no live slice: marker row, nothing written — the
            # caller routes these rows to a base-file write
            return pd.DataFrame(
                [[part, fid, None, len(pdf), 0]],
                columns=["part", "fid", "rel", "n", "size"],
            )
        binst, ver = meta
        recs = []
        for i, row in enumerate(pdf.to_dict("records")):
            rec = {
                "_hoodie_commit_time": instant,
                "_hoodie_commit_seqno": f"{instant}_0_{i}",
                "_hoodie_record_key": str(row[key_col]),
                "_hoodie_partition_path": part,
                "_hoodie_file_name": "",
                "_hoodie_is_deleted": bool(deleted),
            }
            for c in data_names:
                rec[c] = _py(row.get(c))
            recs.append(rec)
        block = encode_log_block(
            _BLOCK_AVRO_DATA,
            {
                _HDR_INSTANT_TIME: instant,
                _HDR_SCHEMA: json.dumps(avro_schema),
            },
            encode_avro_data_block(recs, avro_schema),
        )
        name = f".{fid}_{binst}.log.{ver}_{token}"
        rel = os.path.join(part, name) if part else name
        abs_fp = os.path.join(path, rel)
        os.makedirs(os.path.dirname(abs_fp) or path, exist_ok=True)
        commit.replace_atomically(abs_fp, block)
        return pd.DataFrame(
            [
                [
                    part,
                    fid,
                    rel.replace(os.sep, "/"),
                    len(recs),
                    len(block),
                ]
            ],
            columns=["part", "fid", "rel", "n", "size"],
        )

    return rows.groupBy("__part", "__fid").applyInPandas(
        write_group, schema=out_schema
    )


def _append_log_files_distributed(
    spark: SparkSession,
    path: str,
    rows: DataFrame,
    key_col: str,
    instant: str,
    token: str,
    slice_meta: dict[tuple[str, str], tuple[str, int]],
    deleted: bool = False,
) -> tuple[dict[str, list], list[tuple[str, str]]]:
    """Execute the log-append plan (``_log_append_stats_df``) and
    fold the per-file stats into partitionToWriteStats shape —
    collected O(affected groups), the commit JSON's metadata-scale
    contract. Returns (stats, new_groups): ``new_groups`` are the
    affected (part, fid) pairs with NO live slice (marker rows from
    the kernel — their rows were not written and must open new
    base-file groups)."""
    stats = _log_append_stats_df(
        path, rows, key_col, instant, token, slice_meta, deleted
    ).collect()
    p2s: dict[str, list] = {}
    new_groups: list[tuple[str, str]] = []
    for r in stats:
        if r["rel"] is None:
            new_groups.append((r["part"], r["fid"]))
            continue
        p2s.setdefault(r["part"], []).append(
            {
                "fileId": r["fid"],
                "path": r["rel"],
                "numWrites": int(r["n"]),
                **({"numDeletes": int(r["n"])} if deleted else {}),
                "totalWriteBytes": int(r["size"]),
            }
        )
    return p2s, sorted(new_groups)


def _mor_slice_meta(
    path: str, slices: list[dict]
) -> dict[tuple[str, str], tuple[str, int]]:
    """(part, fid) → (log base-instant, next log version) for every
    live slice, with the base-instant rolled forward to a pending
    compaction instant when one is requested."""
    pend = _pending_compaction(path)
    out: dict[tuple[str, str], tuple[str, int]] = {}
    for s in slices:
        binst = (
            os.path.basename(s["base"]).split("_")[-1].split(".")[0]
        )
        if pend and pend > binst:
            binst = pend
        vers = [v for bi, v, _ in s["logs"] if bi == binst]
        out[(s["part"], s["fid"])] = (binst, max(vers, default=0) + 1)
    return out


def _upsert_hudi_mor_once(
    spark, path, source, key_col, partition_col, n_buckets, instant
) -> str:
    """MERGE_ON_READ upsert (r13, VERDICT r12 #3): source rows whose
    bucket-index file group has a live slice APPEND as log records
    (one log file per affected group, written executor-side — base
    files are never read or rewritten, the O(source) commit cost
    that makes MoR the streaming-ingest shape); rows routing to
    groups with no live slice open NEW base-file groups. Both land
    in ONE ``deltacommit`` (spec-legal), published put-if-absent
    with the caller's retry loop. Inserts of new keys into an
    EXISTING group also ride as log records — the merge-on-read
    union surfaces them (the Flink-connector upsert shape)."""
    from pyspark.sql import functions as F

    bucket = F.pmod(
        F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)
    )
    part_expr = (
        F.concat(
            F.lit(f"{partition_col}="),
            F.col(partition_col).cast("string"),
        )
        if partition_col
        else F.lit("")
    )
    src = (
        source.withColumn("__fid", F.format_string("b%05d-0", bucket))
        .withColumn("__part", part_expr)
        .cache()
    )
    slices, _ = _latest_slices_mor(path, None)
    meta_all = _mor_slice_meta(path, slices)
    import uuid as _uuid

    token = _uuid.uuid4().hex[:8]
    # ONE pass (r14 optimization round, guide §1.2): the log-append
    # kernel receives every source row grouped by (part, fid) with
    # the full live-slice meta (metadata-scale) — groups WITH a live
    # slice write their log file, groups WITHOUT return marker rows.
    # The separate distinct().collect() affected-group discovery and
    # its broadcast semi-join are folded away.
    log_stats, new_groups = _append_log_files_distributed(
        spark,
        path,
        src,
        key_col,
        instant,
        token,
        meta_all,
    )
    try:
        if new_groups:
            # some source rows open NEW base-file groups: route them
            # through the staged distributed base write, which also
            # publishes the combined deltacommit
            new_group_rows = src.join(
                F.broadcast(
                    spark.createDataFrame(
                        list(new_groups),
                        "__part string, __fid string",
                    )
                ),
                on=["__part", "__fid"],
                how="left_semi",
            ).drop("__fid", "__part")
            return _write_hudi_files(
                new_group_rows,
                path,
                key_col,
                partition_col,
                n_buckets,
                instant,
                existing=None,
                action="deltacommit",
                extra_stats=log_stats,
            )
        # pure log-append commit (the steady streaming-ingest shape):
        # no staging job at all — publish the log stats directly
        _publish_instant(
            path,
            instant,
            "deltacommit",
            {"partitionToWriteStats": log_stats},
        )
        return instant
    except RuntimeError:
        # lost the commit race: unlink this attempt's log files too
        # (the base-file cleanup in _write_hudi_files covers bases)
        for stats in log_stats.values():
            for st in stats:
                try:
                    os.unlink(os.path.join(path, st["path"]))
                except OSError:
                    pass
        raise
    finally:
        src.unpersist()


def delete_hudi(
    spark: SparkSession, path: str, predicate: str
) -> str:
    """Row-level DELETE on a MERGE_ON_READ Hudi table written by
    this engine (r13): matching rows of the merged snapshot become
    TOMBSTONE log records (``_hoodie_is_deleted=true``) appended to
    their bucket-index file groups in one ``deltacommit`` — no base
    file is read beyond the predicate scan or ever rewritten. SQL
    DELETE semantics (NULL-predicate rows survive). Requires the
    bucket layout (``kmdb.bucket.count``) so a matched row's file
    group resolves from its key alone; foreign fixture layouts
    (fgNNN file ids) can't be routed and raise. Returns the
    committed instant (unchanged when nothing matches)."""
    from pyspark.sql import functions as F

    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    props = _read_properties(
        os.path.join(path, ".hoodie", "hoodie.properties")
    )
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError(
            "delete_hudi appends tombstone logs — a MERGE_ON_READ "
            "table is required (CoW deletes: route through "
            "upsert_hudi with the surviving rows)"
        )
    if "kmdb.bucket.count" not in props:
        raise ValueError(
            "delete_hudi needs the bucket-index layout this "
            "engine's writer emits (kmdb.bucket.count)"
        )
    key_col = props["hoodie.table.recordkey.fields"]
    partition_col = props.get("hoodie.table.partition.fields") or None
    n_buckets = int(props["kmdb.bucket.count"])
    with PipelineLock(os.path.join(path, ".hoodie", "_writer.lock")):
        snap = read_hudi(spark, path, keep_meta=True)
        hit = F.coalesce(F.expr(predicate), F.lit(False))
        matched = snap.filter(hit).drop(
            *[c for c in META_COLS if c != "_hoodie_partition_path"]
        )
        bucket = F.pmod(
            F.xxhash64(F.col(key_col).cast("string")),
            F.lit(n_buckets),
        )
        rows = matched.withColumn(
            "__fid", F.format_string("b%05d-0", bucket)
        ).withColumnRenamed("_hoodie_partition_path", "__part")
        rows = rows.cache()
        slices, _ = _latest_slices_mor(path, None)
        meta_all = _mor_slice_meta(path, slices)
        import uuid as _uuid

        token = _uuid.uuid4().hex[:8]
        for _attempt in range(commit.MAX_ATTEMPTS):
            instant = _next_instant_after(path)
            # single pass (r14, guide §1.2): the kernel writes the
            # tombstone logs AND reports the affected groups — the
            # old distinct().collect() discovery job is gone. Every
            # matched row's group is live by construction (bucket
            # routing was asserted above); marker rows would mean a
            # foreign layout and must fail loudly, not drop deletes.
            p2s, new_groups = _append_log_files_distributed(
                spark,
                path,
                rows,
                key_col,
                instant,
                token,
                meta_all,
                deleted=True,
            )
            if new_groups:
                rows.unpersist()
                raise ValueError(
                    "DELETE matched rows whose bucket-routed file "
                    f"group has no live slice: {new_groups[:3]} — "
                    "foreign file-group layout?"
                )
            if not p2s:
                rows.unpersist()
                tl = hudi_timeline(path)
                return tl[-1]["instant"] if tl else ""
            try:
                _publish_instant(
                    path,
                    instant,
                    "deltacommit",
                    {"partitionToWriteStats": p2s},
                )
                rows.unpersist()
                return instant
            except commit.CommitConflict:
                for stats in p2s.values():
                    for st in stats:
                        try:
                            os.unlink(os.path.join(path, st["path"]))
                        except OSError:
                            pass
                # another writer advanced the timeline: recompute
                # slice meta (log versions may have moved) and retry
                slices, _ = _latest_slices_mor(path, None)
                meta_all = _mor_slice_meta(path, slices)
                continue
        rows.unpersist()
        raise commit.CommitConflict(
            f"lost {commit.MAX_ATTEMPTS} commit races under {path}"
        )


def request_compaction_hudi(path: str) -> str:
    """Schedule a compaction: land the ``requested``/``inflight``
    markers at the next instant. From this point, writers roll new
    log files' base-instant forward to this instant (the read path
    keeps merging them onto the old base until the compaction
    COMPLETES — the pending-compaction contract)."""
    instant = _next_instant_after(path)
    meta = os.path.join(path, ".hoodie")
    for suffix in (".compaction.requested", ".compaction.inflight"):
        with open(os.path.join(meta, instant + suffix), "w"):
            pass
    return instant


def compact_hudi(spark: SparkSession, path: str) -> str:
    """Complete a pending compaction (requesting one first when none
    is pending) — the WRITE half of the MoR loop (r13, VERDICT r12
    #3): every slice carrying log files with base-instant < C folds
    DISTRIBUTED into one new base file per file group AT instant C,
    published as a ``commit``. The fold is the same shape as the
    read-path merge — base rows ∪ log records, newest per
    (partition, key) wins, tombstones drop — then ONE repartition on
    (partition, file group) writes each group as a single task.
    Logs appended AGAINST C by writers that interleaved between
    request and completion are untouched: their base-instant is C,
    so they keep applying on top of the new base (the interleave
    the pending-compaction contract exists for). Untouched groups
    stay on their old bases (absent from this commit's metadata).
    Returns the compaction instant."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    props = _read_properties(
        os.path.join(path, ".hoodie", "hoodie.properties")
    )
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError("compact_hudi applies to MERGE_ON_READ tables")
    partition_col = props.get("hoodie.table.partition.fields") or None
    with PipelineLock(os.path.join(path, ".hoodie", "_writer.lock")):
        inst_c = _pending_compaction(path) or request_compaction_hudi(
            path
        )
        slices, _ = _latest_slices_mor(path, None)
        todo = [
            dict(
                s,
                logs=[(bi, v, rel) for bi, v, rel in s["logs"] if bi < inst_c],
            )
            for s in slices
            if any(bi < inst_c for bi, _v, _rel in s["logs"])
        ]
        if not todo:
            # nothing to fold: withdraw the markers rather than
            # leaving writers rolling forward to a dead instant
            meta = os.path.join(path, ".hoodie")
            for suffix in (
                ".compaction.requested",
                ".compaction.inflight",
            ):
                try:
                    os.unlink(os.path.join(meta, inst_c + suffix))
                except OSError:
                    pass
            tl = hudi_timeline(path)
            return tl[-1]["instant"] if tl else inst_c
        base_df = _scan_files(
            spark, path, [(s["part"], s["base"]) for s in todo]
        )
        # per-(partition, key) newest, tombstones dropped; keep_fid
        # carries each winner's FILE GROUP through the merge (base
        # rows: from _hoodie_file_name; log rows: from the log file
        # name) so rows route back to their group for any layout —
        # bucket-index and foreign fgNNN ids alike
        merged = _merge_log_records(
            spark, path, base_df, todo, keep_fid=True
        )
        token = _uuid.uuid4().hex[:8]
        tagged = merged.withColumn(
            "__p", F.col("_hoodie_partition_path")
        ).withColumn(
            # log-origin winners carry an empty _hoodie_file_name;
            # the fold stamps every row with its NEW base file (the
            # Hudi compactor does the same) so later compactions
            # and fid-derived routing stay correct
            "_hoodie_file_name",
            F.format_string(
                f"%s_{token}_{inst_c}.parquet", F.col("__fid")
            ),
        )
        stage = os.path.join(path, f"_staging-compact-{token}")
        data_cols = [
            c
            for c in merged.columns
            if c != "__fid"
            and (c != partition_col or partition_col is None)
        ]
        (
            tagged.repartition(F.col("__p"), F.col("__fid"))
            .select(*data_cols, "__fid", "__p")
            .write.mode("overwrite")
            .partitionBy("__p", "__fid")
            .parquet(stage)
        )
        import shutil
        from urllib.parse import unquote

        import pyarrow.parquet as pq

        p2s: dict[str, list] = {}
        for root, _dirs, names in os.walk(stage):
            for name in sorted(names):
                if not name.endswith(".parquet") or name.startswith(
                    "_"
                ):
                    continue
                comps = [
                    c
                    for c in os.path.relpath(root, stage).split(os.sep)
                    if c
                ]
                part, fid_v = "", None
                for comp in comps:
                    k, _, raw = comp.partition("=")
                    if k == "__p":
                        part = unquote(raw)
                        if part == "__HIVE_DEFAULT_PARTITION__":
                            part = ""
                    elif k == "__fid":
                        fid_v = unquote(raw)
                final_rel = os.path.join(
                    part, f"{fid_v}_{token}_{inst_c}.parquet"
                ).lstrip(os.sep)
                os.makedirs(
                    os.path.dirname(os.path.join(path, final_rel))
                    or path,
                    exist_ok=True,
                )
                os.rename(
                    os.path.join(root, name),
                    os.path.join(path, final_rel),
                )
                n = int(
                    pq.read_metadata(
                        os.path.join(path, final_rel)
                    ).num_rows
                )
                p2s.setdefault(part, []).append(
                    {
                        "fileId": fid_v,
                        "path": final_rel.replace(os.sep, "/"),
                        "numWrites": n,
                        "totalWriteBytes": os.path.getsize(
                            os.path.join(path, final_rel)
                        ),
                    }
                )
        shutil.rmtree(stage, ignore_errors=True)
        _publish_instant(
            path,
            inst_c,
            "commit",
            {
                "partitionToWriteStats": p2s,
                "kmdb-compaction": "true",
            },
        )
        return inst_c
