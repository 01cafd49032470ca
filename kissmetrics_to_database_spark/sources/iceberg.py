"""Read-only Apache Iceberg table reader, from the PUBLIC table spec.

The second half of the lakehouse-interop gap (VERDICT r8 #3; Delta in
``sources/deltalog.py``): an Iceberg table (iceberg.apache.org/spec,
format v1/v2) is data files plus a ``metadata/`` tree —

- ``vN.metadata.json`` (+ ``version-hint.text``): table schema,
  snapshot log, ``current-snapshot-id``; each snapshot points at a
  **manifest list** (Avro) whose entries point at **manifest files**
  (Avro), whose entries carry data-file paths + status
  (1 ADDED / 0 EXISTING / 2 DELETED).

A snapshot read is: metadata JSON → its manifest list → each
manifest → data files with status ≠ DELETED → plain parquet scan of
exactly that file list. All metadata hops decode through the from-spec
Avro codec (``functions/avroc.py``) — the files are self-describing,
so no manifest schema is hardcoded here.

Scale shape: like Delta, the metadata tree is metadata-scale by
design (one Avro row per FILE); the replay is driver-side — the same
place Iceberg's own readers plan — and the data scan touches only
the snapshot's files (the log IS the pruning).

v2 merge-on-read (r10, VERDICT r9 #3): POSITIONAL delete files —
parquet of (file_path, pos) rows referenced by delete manifests
(``content`` = 1) — are applied as a distributed anti-join of the
data scan (tagged with ``_metadata.file_path`` / ``row_index``,
Spark's native per-file row position) against the delete scan. The
delete side is read as plain parquet too, so at 100 TB both sides
stay distributed; Catalyst/AQE broadcasts the delete side when it is
small (the common case — deletes are a fraction of the table).

EQUALITY deletes (r10, data_file ``content`` = 2) apply with
sequence-number scoping per the v2 spec: a delete row removes data
rows that match on the ``equality_ids`` columns AND live in a data
file whose data sequence number is STRICTLY LESS than the delete
file's — so a delete-then-reinsert keeps the reinserted row.
Sequence-number INHERITANCE (r11, VERDICT r10 #2): production v2
writers (Spark, Flink) leave entry-level ``sequence_number`` null on
ADDED entries and inherit it from the manifest-list entry's
``sequence_number`` — this reader resolves that per the spec (null +
status=ADDED → manifest-list seq; EXISTING/DELETED entries must
carry their original seq explicitly). Only when equality deletes are
present and a sequence number is resolvable neither way does the
reader raise. Positional deletes need no sequence scoping: they name
their target file explicitly and file paths are unique per table.

Honest boundary: format-version > 2 raises ValueError.

``IcebergFixtureWriter`` emits a spec-shaped metadata tree (JSON +
real Avro manifests) so tests and catalog queries round-trip real
bytes without an Iceberg distribution in the container.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kissmetrics_to_database_spark.functions import avroc
from kissmetrics_to_database_spark.sources import commit
from kissmetrics_to_database_spark.sources.deltalog import (
    _parse_conjuncts,
    _range_may_match,
    canonical_file_path,
)

_VMETA_RE = re.compile(r"^v(\d+)\.metadata\.json$")


def _latest_metadata(path: str) -> str:
    meta_dir = os.path.join(path, "metadata")
    if not os.path.isdir(meta_dir):
        raise ValueError(f"not an Iceberg table (no metadata/): {path}")
    hint_v = -1
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint, encoding="utf-8") as f:
            hint_v = int(f.read().strip())
    # hint updates are advisory under optimistic concurrency (r12):
    # a loser's stale hint write must never roll the table back, so
    # the resolved version is max(hint, scan)
    scan_v = max(
        (
            int(m.group(1))
            for m in (_VMETA_RE.match(n) for n in os.listdir(meta_dir))
            if m
        ),
        default=-1,
    )
    v = max(hint_v, scan_v)
    if v < 0:
        raise ValueError(f"no vN.metadata.json under {meta_dir}")
    return os.path.join(meta_dir, f"v{v}.metadata.json")


def table_metadata(path: str) -> dict:
    with open(_latest_metadata(path), encoding="utf-8") as f:
        meta = json.load(f)
    if int(meta.get("format-version", 1)) > 2:
        raise ValueError(
            f"Iceberg format-version {meta['format-version']} beyond "
            "this reader's declared v1/v2 scope"
        )
    return meta


def _local(path_like: str, table_path: str) -> str:
    """Manifest/data paths may be absolute URIs; the fixtures write
    table-relative paths. Strip a file: scheme, else join."""
    if path_like.startswith("file:"):
        return path_like[len("file:") :]
    if os.path.isabs(path_like):
        return path_like
    return os.path.join(table_path, path_like)


def snapshot_files(path: str, snapshot_id: int | None = None) -> dict:
    """Resolve a snapshot (default: current) to its live data files
    and live positional-delete files.
    → {snapshot_id, files, delete_files, record_count, path_map}
    where ``path_map`` maps each data file's manifest-written path
    string to its resolved local path (delete rows reference data
    files by that manifest string)."""
    meta = table_metadata(path)
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    if not snaps:
        return {
            "snapshot_id": None,
            "files": [],
            "delete_files": [],
            "record_count": 0,
            "path_map": {},
        }
    sid = (
        int(meta["current-snapshot-id"])
        if snapshot_id is None
        else int(snapshot_id)
    )
    if sid not in snaps:
        raise ValueError(f"snapshot {sid} not in table (have {sorted(snaps)})")
    mlist_path = _local(snaps[sid]["manifest-list"], path)
    with open(mlist_path, "rb") as f:
        _, mentries = avroc.read_container(f.read())
    files: list[str] = []
    delete_files: list[str] = []
    equality_deletes: list[dict] = []
    file_seq: dict[str, int | None] = {}
    file_stats: dict[str, dict] = {}
    path_map: dict[str, str] = {}
    n_rows = 0
    for me in mentries:
        with open(_local(me["manifest_path"], path), "rb") as f:
            _, entries = avroc.read_container(f.read())
        mlist_seq = me.get("sequence_number")
        for e in entries:
            if int(e["status"]) == 2:  # DELETED
                continue
            df = e["data_file"]
            fmt = str(df.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise ValueError(f"non-parquet data file ({fmt})")
            content = int(df.get("content") or 0)
            local = _local(df["file_path"], path)
            seq = e.get("sequence_number")
            if seq is None and int(e["status"]) == 1 and mlist_seq is not None:
                # v2 sequence-number inheritance (r11): ADDED entries
                # written with a null sequence number inherit the
                # manifest-list entry's — the production-writer shape
                seq = int(mlist_seq)
            if content == 0:  # data file
                files.append(local)
                file_seq[local] = None if seq is None else int(seq)
                path_map[str(df["file_path"])] = local
                n_rows += int(df.get("record_count", 0))
                file_stats[local] = {
                    "record_count": int(df.get("record_count", 0)),
                    "null_value_counts": df.get("null_value_counts"),
                    "lower_bounds": df.get("lower_bounds"),
                    "upper_bounds": df.get("upper_bounds"),
                    "partition": df.get("partition"),
                }
            elif content == 1:  # positional delete file (v2 MOR)
                delete_files.append(local)
            else:  # 2 = equality deletes (v2 MOR)
                ids = df.get("equality_ids")
                if not ids:
                    raise ValueError(
                        "equality-delete file without equality_ids"
                    )
                equality_deletes.append(
                    {
                        "path": local,
                        "sequence_number": (
                            None if seq is None else int(seq)
                        ),
                        "equality_ids": tuple(int(i) for i in ids),
                    }
                )
    return {
        "snapshot_id": sid,
        "files": sorted(files),
        "delete_files": sorted(delete_files),
        "equality_deletes": sorted(
            equality_deletes, key=lambda d: d["path"]
        ),
        "file_seq": file_seq,
        "file_stats": file_stats,
        "record_count": n_rows,
        "path_map": path_map,
    }


def _spark_schema(meta: dict) -> T.StructType:
    """Current Iceberg JSON schema → Spark StructType (primitive
    columns; nested types raise — out of this reader's scope)."""
    prims = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
        "timestamptz": T.TimestampType(),
        "string": T.StringType(),
        "uuid": T.StringType(),
        "binary": T.BinaryType(),
    }
    sid = meta.get("current-schema-id", 0)
    schemas = meta.get("schemas") or [meta.get("schema") or {}]
    schema = next(
        (s for s in schemas if s.get("schema-id", 0) == sid), schemas[0]
    )
    fields = []
    for f in schema.get("fields", []):
        t = f["type"]
        if isinstance(t, str) and t in prims:
            dt: T.DataType = prims[t]
        elif isinstance(t, str) and t.startswith("decimal("):
            p, s = t[len("decimal(") : -1].split(",")
            dt = T.DecimalType(int(p), int(s))
        else:
            raise ValueError(f"unsupported Iceberg column type {t!r}")
        fields.append(T.StructField(f["name"], dt, not f.get("required")))
    return T.StructType(fields)


def _stats_field_info(meta: dict) -> dict[str, tuple[int, str]]:
    """Current schema: column name → (field id, iceberg type string)
    for primitive columns — the key space of the manifest stats
    maps."""
    sid = meta.get("current-schema-id", 0)
    schemas = meta.get("schemas") or [meta.get("schema") or {}]
    schema = next(
        (s for s in schemas if s.get("schema-id", 0) == sid), schemas[0]
    )
    return {
        f["name"]: (int(f["id"]), f["type"])
        for f in schema.get("fields", [])
        if isinstance(f.get("type"), str)
    }


def _iceberg_file_may_match(
    st: dict | None,
    conjuncts: list[tuple[str, str, Any]],
    info: dict[str, tuple[int, str]],
    spec_fields: list[dict] | None = None,
) -> bool:
    """Evaluate one data file's manifest stats against the parsed
    conjuncts: False only when some conjunct PROVABLY matches no row
    (bounds disjoint, or the column is all-null). Files without
    stats always pass — pruning is an optimization, never a
    semantics change (the deltalog._file_may_match contract).

    ``spec_fields`` (r13, VERDICT r12 #5) enables TRANSFORM-tuple
    pruning: a bucket[N] field prunes equality conjuncts whose
    literal buckets elsewhere; truncate/day/month/year/hour are
    order-preserving, so a partition value strictly below the
    transformed literal proves no row satisfies ``col >= lit`` (and
    symmetrically) — the spec's own projection rules."""
    if not st:
        return True
    lo = {e["key"]: e["value"] for e in (st.get("lower_bounds") or [])}
    hi = {e["key"]: e["value"] for e in (st.get("upper_bounds") or [])}
    nulls = {
        e["key"]: e["value"]
        for e in (st.get("null_value_counts") or [])
    }
    part = st.get("partition") or {}
    n_rec = int(st.get("record_count") or 0)
    by_source: dict[str, list[dict]] = {}
    for fld in spec_fields or []:
        by_source.setdefault(fld["source"], []).append(fld)
    for col, op, val in conjuncts:
        for fld in by_source.get(col) or []:
            pname = fld["name"]
            if pname not in part:
                continue
            p = part[pname]
            if p is None:
                return False  # NULL partition: comparison never true
            tv = _transform_literal(fld, val)
            if tv is None:
                continue  # untransformable literal: never a guess
            tr = fld["transform"]
            try:
                if tr.startswith("bucket["):
                    if op == "=" and p != tv:
                        return False
                elif op == "=" and p != tv:
                    return False
                elif op in (">", ">=") and p < tv:
                    return False
                elif op in ("<", "<=") and p > tv:
                    return False
            except TypeError:
                continue  # incomparable: never skip on a guess
        # identity-partition tuple: an exact per-file value, usable
        # even when the manifest carries no column stats (files from
        # writers that record partitions but not bounds)
        if col in part:
            pv = part[col]
            if pv is None:
                return False  # NULL partition: comparison never true
            if not _range_may_match(op, val, pv, pv):
                return False
            continue
        fi = info.get(col)
        if fi is None:
            continue
        fid, t = fi
        if fid in lo and fid in hi:
            mn = _decode_bound(lo[fid], t)
            mx = _decode_bound(hi[fid], t)
            if mn is None or mx is None:
                continue
            if not _range_may_match(op, val, mn, mx):
                return False
        elif (
            n_rec > 0
            and nulls.get(fid) is not None
            and int(nulls[fid]) == n_rec
        ):
            return False  # all-null column: comparisons never true
    return True


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    predicate: str | None = None,
) -> DataFrame:
    """Snapshot read (default: current snapshot; pass a snapshot-id
    for time travel). Iceberg data files carry ALL columns (identity
    partition values included), so the scan is a plain parquet read
    of the resolved file list.

    A table with no snapshots, or a valid snapshot whose live file
    list is empty (e.g. a delete-all overwrite), reads as an EMPTY
    DataFrame typed from the table schema — mirroring read_delta
    (r10, ADVICE fix), not an error.

    v2 merge-on-read: live positional-delete files are anti-joined
    against the scan on (file, row position) using Spark's native
    ``_metadata.file_path`` / ``_metadata.row_index`` parquet
    columns. Both sides are distributed scans; the delete side maps
    manifest path strings to scan URIs through a metadata-scale
    broadcast (one row per data FILE)."""
    state = snapshot_files(path, snapshot_id)
    if predicate and state["files"]:
        # Data skipping (r12, VERDICT r11 #1 — mirrors read_delta):
        # prune data files whose manifest bounds/null counts prove no
        # row can match, then re-apply the predicate row-level. MOR
        # deletes only ever REMOVE rows, so dropping a file with no
        # predicate-matching rows is always safe.
        conjuncts = _parse_conjuncts(predicate)
        if conjuncts:
            meta_now = table_metadata(path)
            info = _stats_field_info(meta_now)
            spec_fields = _partition_spec_fields(meta_now)
            fs = state.get("file_stats") or {}
            state = dict(state)
            state["files"] = [
                f
                for f in state["files"]
                if _iceberg_file_may_match(
                    fs.get(f), conjuncts, info, spec_fields
                )
            ]
    if not state["files"]:
        out = spark.createDataFrame(
            [], _spark_schema(table_metadata(path))
        )
        return out.filter(predicate) if predicate else out
    eq_dels = state.get("equality_deletes") or []
    if not state["delete_files"] and not eq_dels:
        # schema-pinned scan (r13 #6): files written before a schema
        # evolution lack the new columns — the explicit table schema
        # makes parquet null-fill them instead of dropping them to
        # whichever file Spark samples first
        out = spark.read.schema(
            _spark_schema(table_metadata(path))
        ).parquet(*state["files"])
    else:
        tagged, cols = _tagged_snapshot(spark, path, state)
        out = tagged.select(*cols)
    return out.filter(predicate) if predicate else out


def _tagged_snapshot(
    spark: SparkSession, path: str, state: dict
) -> tuple[DataFrame, list[str]]:
    """The VISIBLE rows of a resolved snapshot, tagged with ``_uri``
    (decoded absolute data-file path) and ``_pos`` (row index) —
    positional and equality deletes already anti-joined away. Shared
    by the read path and the MOR delete writer (which needs the
    (file, position) identity of every row a predicate matches)."""
    eq_dels = state.get("equality_deletes") or []
    schema = _spark_schema(table_metadata(path))
    cols = [f.name for f in schema.fields]
    tagged = spark.read.schema(schema).parquet(*state["files"]).select(
        *cols,
        canonical_file_path(F.col("_metadata.file_path")).alias("_uri"),
        F.col("_metadata.row_index").alias("_pos"),
    )
    if state["delete_files"]:
        # manifest path string (how delete rows name data files) →
        # the decoded absolute path canonical_file_path() yields for
        # the same local file (percent-encoding normalized away —
        # r11 ADVICE: raw "file:"+abspath misses on spaces/%/UTF-8)
        ref_rows = sorted(
            {
                (ref, os.path.abspath(local))
                for ref, local in state["path_map"].items()
            }
            | {
                (local, os.path.abspath(local))
                for local in state["path_map"].values()
            }
        )
        ref_map = spark.createDataFrame(
            ref_rows, "ref string, _duri string"
        )
        dels = (
            spark.read.parquet(*state["delete_files"])
            .select(
                F.col("file_path").cast("string").alias("ref"),
                F.col("pos").cast("long").alias("_dpos"),
            )
            .join(F.broadcast(ref_map), "ref")
            .select("_duri", "_dpos")
        )
        tagged = tagged.join(
            dels,
            (tagged["_uri"] == dels["_duri"])
            & (tagged["_pos"] == dels["_dpos"]),
            "left_anti",
        )
    if eq_dels:
        if any(
            state["file_seq"].get(f) is None for f in state["files"]
        ) or any(d["sequence_number"] is None for d in eq_dels):
            raise ValueError(
                "equality deletes require a resolvable data sequence "
                "number on every data and delete entry — explicit, or "
                "inherited from the manifest-list entry for ADDED "
                "entries (v2 spec); this table has entries with "
                "neither"
            )
        meta = table_metadata(path)
        sid = meta.get("current-schema-id", 0)
        schemas = meta.get("schemas") or [meta.get("schema") or {}]
        schema = next(
            (s for s in schemas if s.get("schema-id", 0) == sid),
            schemas[0],
        )
        name_of = {int(f["id"]): f["name"] for f in schema.get("fields", [])}
        seq_rows = sorted(
            (os.path.abspath(local), int(seq))
            for local, seq in state["file_seq"].items()
        )
        seq_df = spark.createDataFrame(seq_rows, "_suri string, _seq long")
        tagged = tagged.join(
            F.broadcast(seq_df), tagged["_uri"] == seq_df["_suri"]
        ).drop("_suri")
        groups: dict[tuple, list[dict]] = {}
        for d in eq_dels:
            groups.setdefault(d["equality_ids"], []).append(d)
        for ids, dl in sorted(groups.items()):
            try:
                names = [name_of[i] for i in ids]
            except KeyError as exc:
                raise ValueError(
                    f"equality_ids {ids} not in table schema"
                ) from exc
            parts = [
                spark.read.parquet(d["path"])
                .select(
                    *[F.col(n).alias(f"_d_{n}") for n in names],
                    F.lit(int(d["sequence_number"])).alias("_dseq"),
                )
                for d in dl
            ]
            eq = parts[0]
            for p in parts[1:]:
                eq = eq.unionByName(p)
            cond = eq["_dseq"] > tagged["_seq"]
            for n in names:
                cond = cond & tagged[n].eqNullSafe(eq[f"_d_{n}"])
            tagged = tagged.join(eq, cond, "left_anti")
        tagged = tagged.drop("_seq")
    return tagged, cols


def iceberg_history(path: str) -> list[dict]:
    """Snapshot log, newest first: id, parent, operation, summary
    counts — the `.history`/`.snapshots` metadata-table readout."""
    meta = table_metadata(path)
    out = []
    for s in sorted(
        meta.get("snapshots", []),
        key=lambda s: int(s["snapshot-id"]),
        reverse=True,
    ):
        out.append(
            {
                "snapshot_id": int(s["snapshot-id"]),
                "parent_snapshot_id": (
                    int(s["parent-snapshot-id"])
                    if s.get("parent-snapshot-id") is not None
                    else None
                ),
                "operation": (s.get("summary") or {}).get("operation"),
            }
        )
    return out


_ICEBERG_TYPE_OF = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp": "timestamp",
    "string": "string",
    "binary": "binary",
}


def _iceberg_fields(schema: T.StructType) -> list[dict]:
    """Spark StructType → Iceberg JSON schema fields (primitive
    columns, sequential field ids from 1 — the create-table shape;
    the inverse of ``_spark_schema``'s primitive map)."""
    fields = []
    for i, f in enumerate(schema.fields):
        tn = f.dataType.typeName()
        if tn in _ICEBERG_TYPE_OF:
            t = _ICEBERG_TYPE_OF[tn]
        elif isinstance(f.dataType, T.DecimalType):
            t = f"decimal({f.dataType.precision},{f.dataType.scale})"
        else:
            raise ValueError(
                f"unsupported column type for Iceberg write: "
                f"{f.name}: {f.dataType.simpleString()}"
            )
        fields.append(
            {
                "id": i + 1,
                "name": f.name,
                "required": not f.nullable,
                "type": t,
            }
        )
    return fields


_BOUND_STRUCT = {
    "int": "<i",
    "date": "<i",
    "long": "<q",
    "timestamp": "<q",
    "timestamptz": "<q",
    "float": "<f",
    "double": "<d",
}


def _encode_bound(val: Any, ice_type: str) -> bytes | None:
    """Iceberg Appendix-D single-value binary serialization for the
    stats subset this writer prunes on (int/long/float/double/
    string). Returns None for types outside the subset — the column
    simply gets no bounds, pruning skips it."""
    import struct as _struct

    if ice_type == "string" and isinstance(val, str):
        return val.encode("utf-8")
    fmt = _BOUND_STRUCT.get(ice_type)
    if fmt is None or isinstance(val, bool):
        return None
    try:
        return _struct.pack(fmt, val)
    except (TypeError, _struct.error):
        return None


def _decode_bound(raw: bytes, ice_type: str) -> Any:
    """Inverse of ``_encode_bound`` (None when undecodable — the
    reader then never prunes on that column)."""
    import struct as _struct

    if ice_type == "string":
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError:
            return None
    fmt = _BOUND_STRUCT.get(ice_type)
    if fmt is None or len(raw) != _struct.calcsize(fmt):
        return None
    (v,) = _struct.unpack(fmt, raw)
    return v


def _manifest_stats(
    abs_path: str, fields: list[dict]
) -> dict[str, list | None]:
    """Per-column stats for one data file's manifest entry (r12,
    VERDICT r11 #1 — the write side of Iceberg data skipping): the
    parquet FOOTER's row-group stats folded to file-level
    lower/upper bounds + null counts, emitted in the spec's
    field-id-keyed map shape. One driver-side footer read per new
    FILE — the same metadata-scale contract as ``_footer_stats`` on
    the Delta side (deltalog.py).

    NaN guard (r14, mirrors deltalog._footer_stats): Spark's parquet
    writer publishes ``max=NaN`` for a float/double column holding
    any NaN; a NaN bound makes every ``_iceberg_file_may_match``
    comparison false and wrongly prunes the file. Bounds involving
    NaN are dropped (never pruned on that column — the safe
    direction); null counts stay."""
    import math

    import pyarrow.parquet as pq

    out: dict[str, list | None] = {
        "null_value_counts": None,
        "lower_bounds": None,
        "upper_bounds": None,
    }
    try:
        md = pq.read_metadata(abs_path)
    except Exception:
        return out
    by_name = {f["name"]: f for f in fields if isinstance(f["type"], str)}
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    nan_cols: set[str] = set()
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            if name not in by_name:
                continue
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            if not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    continue
            if not isinstance(mn, (int, float, str)) or isinstance(
                mn, bool
            ):
                continue
            if isinstance(mn, float) and (
                math.isnan(mn) or math.isnan(mx)
            ):
                nan_cols.add(name)
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    for name in nan_cols:
        mins.pop(name, None)
        maxs.pop(name, None)
    nvc = [
        {"key": int(by_name[n]["id"]), "value": int(v)}
        for n, v in sorted(nulls.items())
    ]
    lo, hi = [], []
    for n in sorted(mins):
        t = by_name[n]["type"]
        lb = _encode_bound(mins[n], t)
        ub = _encode_bound(maxs[n], t)
        if lb is None or ub is None:
            continue
        lo.append({"key": int(by_name[n]["id"]), "value": lb})
        hi.append({"key": int(by_name[n]["id"]), "value": ub})
    if nvc:
        out["null_value_counts"] = nvc
    if lo:
        out["lower_bounds"] = lo
        out["upper_bounds"] = hi
    return out


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (public algorithm; Iceberg spec Appendix B
    hashes with seed 0). Returns the UNSIGNED 32-bit result; bucket
    transforms take ``(h & 0x7FFFFFFF) % N`` per spec."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _bucket_of(v, n: int) -> int | None:
    """Iceberg bucket[N] of a Python literal: int/long hash their
    8-byte little-endian form (ints promote to long per spec),
    strings their UTF-8 bytes. None for types the spec hashes
    differently (no pruning on those — never a guess)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        data = (v & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
    elif isinstance(v, str):
        data = v.encode("utf-8")
    else:
        return None
    return (_murmur3_32(data) & 0x7FFFFFFF) % int(n)


_EPOCH_DT = None  # lazy datetime(1970, 1, 1)


def _temporal_ordinal(v, unit: str) -> int | None:
    """days/months/years/hours since epoch of a literal (string
    timestamps/dates parsed; datetime/date accepted). None when the
    literal can't be interpreted — pruning then skips the conjunct."""
    import datetime as _dt

    if isinstance(v, str):
        txt = v.strip()
        try:
            if len(txt) == 10:
                v = _dt.datetime.strptime(txt, "%Y-%m-%d")
            else:
                v = _dt.datetime.fromisoformat(txt.replace("T", " "))
        except ValueError:
            return None
    if isinstance(v, _dt.datetime):
        pass
    elif isinstance(v, _dt.date):
        v = _dt.datetime(v.year, v.month, v.day)
    else:
        return None
    if unit == "year":
        return v.year - 1970
    if unit == "month":
        return (v.year - 1970) * 12 + (v.month - 1)
    epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
    delta = v - epoch
    if unit == "day":
        return delta.days
    if unit == "hour":
        return int(delta.total_seconds() // 3600)
    return None


_SPEC_STR_RE = re.compile(
    r"^\s*(bucket|truncate|days?|months?|years?|hours?)\s*\(\s*"
    r"([A-Za-z_][A-Za-z0-9_]*)\s*(?:,\s*(\d+)\s*)?\)\s*$"
)

_TEMPORAL_CANON = {
    "day": "day", "days": "day", "month": "month", "months": "month",
    "year": "year", "years": "year", "hour": "hour", "hours": "hour",
}


def _parse_partition_spec(
    cols: list[str], df_schema
) -> list[dict]:
    """Parse writer-facing partition entries — ``"col"`` (identity),
    ``"bucket(col, N)"``, ``"truncate(col, W)"``, ``"days(col)"`` /
    ``months``/``years``/``hours`` — into spec-field dicts:
    {name, source, transform, param, result_type} with ``name``
    following Iceberg's convention (col, col_bucket, col_trunc,
    col_day, ...). ``transform`` is the spec JSON string
    (``bucket[N]``, ``truncate[W]``, ``day``...)."""
    from pyspark.sql import types as T

    type_of = {f.name: f.dataType for f in df_schema.fields}
    out = []
    for raw in cols:
        m = _SPEC_STR_RE.match(raw)
        if not m:
            src = raw.strip()
            out.append(
                {
                    "name": src,
                    "source": src,
                    "transform": "identity",
                    "param": None,
                    "result_type": None,  # source column's own type
                }
            )
            continue
        fn, src, param = m.group(1), m.group(2), m.group(3)
        if fn == "bucket":
            if not param:
                raise ValueError(f"bucket needs a count: {raw!r}")
            if not isinstance(
                type_of.get(src),
                (T.IntegerType, T.LongType, T.StringType),
            ):
                raise ValueError(
                    f"bucket over {src!r}: int/long/string only"
                )
            out.append(
                {
                    "name": f"{src}_bucket",
                    "source": src,
                    "transform": f"bucket[{param}]",
                    "param": int(param),
                    "result_type": "int",
                }
            )
        elif fn == "truncate":
            if not param:
                raise ValueError(f"truncate needs a width: {raw!r}")
            t = type_of.get(src)
            if not isinstance(
                t, (T.IntegerType, T.LongType, T.StringType)
            ):
                raise ValueError(
                    f"truncate over {src!r}: int/long/string only"
                )
            out.append(
                {
                    "name": f"{src}_trunc",
                    "source": src,
                    "transform": f"truncate[{param}]",
                    "param": int(param),
                    "result_type": (
                        "string"
                        if isinstance(t, T.StringType)
                        else "long"
                        if isinstance(t, T.LongType)
                        else "int"
                    ),
                }
            )
        else:
            unit = _TEMPORAL_CANON[fn]
            if not isinstance(
                type_of.get(src), (T.DateType, T.TimestampType)
            ):
                raise ValueError(
                    f"{unit} over {src!r}: date/timestamp only"
                )
            out.append(
                {
                    "name": f"{src}_{unit}",
                    "source": src,
                    "transform": unit,
                    "param": None,
                    "result_type": "int",
                }
            )
    return out


def _transform_expr(field: dict):
    """The Spark Column computing a spec field's partition value —
    built-in expressions only (bucket excepted: Iceberg buckets with
    seed-0 murmur3, which Spark's hash() [seed 42] can't express, so
    it rides an Arrow-batched pandas_udf over the spec algorithm)."""
    from pyspark.sql import functions as F

    src, tr = field["source"], field["transform"]
    if tr == "identity":
        return F.col(src)
    if tr.startswith("bucket["):
        import pandas as pd

        n = int(field["param"])

        def _bucket_kernel(vals):
            return vals.map(
                lambda v: None if v is None else _bucket_of(
                    v.item() if hasattr(v, "item") else v, n
                )
            ).astype("Int32")

        # real type objects (this module postpones annotations, so
        # inline hints would reach pandas_udf as strings it rejects)
        _bucket_kernel.__annotations__ = {
            "vals": pd.Series, "return": pd.Series
        }
        return F.pandas_udf(_bucket_kernel, "int")(F.col(src))
    if tr.startswith("truncate["):
        w = int(field["param"])
        if field["result_type"] == "string":
            return F.substring(F.col(src), 1, w)
        return (
            F.col(src) - F.pmod(F.col(src), F.lit(w))
        ).cast(field["result_type"])
    if tr == "day":
        return F.datediff(
            F.col(src).cast("date"), F.lit("1970-01-01").cast("date")
        )
    if tr == "month":
        return (
            (F.year(src) - F.lit(1970)) * 12 + F.month(src) - F.lit(1)
        ).cast("int")
    if tr == "year":
        return (F.year(src) - F.lit(1970)).cast("int")
    if tr == "hour":
        return F.floor(
            F.col(src).cast("double") / F.lit(3600.0)
        ).cast("int")
    raise ValueError(f"unknown transform {tr!r}")


def _transform_literal(field: dict, v):
    """Apply a spec field's transform to a PREDICATE literal (the
    pruning side). None = not computable for this literal type —
    the conjunct is then skipped, never guessed."""
    tr = field["transform"]
    if tr == "identity":
        return v
    if tr.startswith("bucket["):
        return _bucket_of(v, int(field["param"]))
    if tr.startswith("truncate["):
        w = int(field["param"])
        if isinstance(v, str):
            return v[:w]
        if isinstance(v, int) and not isinstance(v, bool):
            return v - (v % w)  # Python % floors, per spec
        return None
    if tr in ("day", "month", "year", "hour"):
        return _temporal_ordinal(v, tr)
    return None


def _partition_spec_fields(meta: dict) -> list[dict]:
    """The default partition spec's fields resolved to
    {name, source, transform, param, result_type} — the read-side
    twin of ``_parse_partition_spec``, reconstructed from table
    metadata (any writer's)."""
    specs = meta.get("partition-specs") or []
    dsid = meta.get("default-spec-id", 0)
    spec = next(
        (sp for sp in specs if sp.get("spec-id", 0) == dsid),
        {"fields": []},
    )
    sid = meta.get("current-schema-id", 0)
    schemas = meta.get("schemas") or [meta.get("schema") or {}]
    schema = next(
        (sc for sc in schemas if sc.get("schema-id", 0) == sid),
        schemas[0],
    )
    name_of = {int(f["id"]): f["name"] for f in schema.get("fields", [])}
    type_of = {
        f["name"]: f["type"]
        for f in schema.get("fields", [])
        if isinstance(f.get("type"), str)
    }
    out = []
    for f in spec.get("fields", []):
        tr = str(f.get("transform", "identity"))
        src = name_of[int(f["source-id"])]
        param = None
        m = re.match(r"^(bucket|truncate)\[(\d+)\]$", tr)
        if m:
            param = int(m.group(2))
        rt = "int"
        if tr == "identity":
            rt = type_of.get(src)
        elif tr.startswith("truncate["):
            rt = type_of.get(src, "long")
        out.append(
            {
                "name": f.get("name") or src,
                "source": src,
                "transform": tr,
                "param": param,
                "result_type": rt,
            }
        )
    return out


def _identity_partition_columns(meta: dict) -> list[str]:
    """Source column names of the table's default spec's IDENTITY
    fields (non-identity fields are skipped — callers needing the
    full spec use ``_partition_spec_fields``)."""
    return [
        f["source"]
        for f in _partition_spec_fields(meta)
        if f["transform"] == "identity"
    ]


def _typed_partition_value(raw: str | None, ice_type: str):
    if raw is None:
        return None
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type in ("float", "double"):
        return float(raw)
    if ice_type == "boolean":
        return raw.lower() == "true"
    return raw


def _manifest_schema_with_partition(part_fields: list[dict]) -> dict:
    """The base manifest schema with a per-table ``partition`` record
    spliced into data_file — Avro containers are self-describing, so
    readers decode whatever shape each manifest embeds."""
    import copy

    schema = copy.deepcopy(_MANIFEST_SCHEMA)
    prec = {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": f["name"],
                "type": ["null", _AVRO_BOUND_TYPE.get(f["type"], "string")],
                "default": None,
            }
            for f in part_fields
        ],
    }
    for fld in schema["fields"]:
        if fld["name"] == "data_file":
            fld["type"]["fields"].insert(
                2, {"name": "partition", "type": prec}
            )
    return schema


_AVRO_BOUND_TYPE = {
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "date": "int",
}


def write_iceberg(
    df: DataFrame,
    path: str,
    txn_app_id: str | None = None,
    epoch_id: int | None = None,
    partition_columns: list[str] | None = None,
) -> int:
    """Commit ``df`` to an Iceberg v2 table at ``path`` — the
    PRODUCTION append path (r11), alongside Delta's ``write_delta``
    and Hudi's ``write_hudi``/``upsert_hudi``. Emits
    spec-shaped metadata per the Iceberg v2 spec: parquet data files
    written DISTRIBUTED by Spark (staged, renamed under ``data/``),
    then driver-side ONE new Avro manifest holding only this
    snapshot's ADDED entries — prior manifests are REUSED by
    reference in the new manifest list, the spec's append fast path,
    so commit metadata cost is O(new files), not O(table) — a new
    manifest list, then vN.metadata.json published put-if-absent and
    version-hint.text replaced atomically (``sources/commit``).

    Production shapes on purpose: ADDED entries carry NULL sequence
    numbers inherited from the manifest-list entry (the
    inherit_sequence_numbers=True layout real v2 writers emit, which
    our reader resolves per spec), and snapshot/metadata carry
    ``sequence-number`` / ``last-sequence-number``.

    Exactly-once streaming: ``txn_app_id`` + ``epoch_id`` are
    recorded as snapshot-summary properties (the Flink-connector
    idempotency pattern — its max-committed-checkpoint-id lives in
    the summary); a replayed epoch ≤ the last committed one for that
    app id is skipped. Returns the committed snapshot id (the
    current one on a skipped replay).

    Partitioning (r12, VERDICT r11 #7; transforms r13, VERDICT r12
    #5): ``partition_columns`` entries are identity column names OR
    transform expressions — ``"bucket(col, N)"`` (seed-0 murmur3 per
    the spec's Appendix B, verified against its published test
    vectors), ``"truncate(col, W)"``, ``"days(col)"`` / ``months`` /
    ``years`` / ``hours`` — written as hive-style
    ``data/<field>=<val>/`` dirs, a spec-shaped ``partition-specs``
    metadata entry (``bucket[N]``/``truncate[W]``/``day``...), and
    each manifest entry carrying the TYPED partition tuple. Source
    columns always stay IN the data files (the staged write
    partitions on shadow TRANSFORM columns), so reads and
    stats-based skipping work unchanged; the read side additionally
    prunes transform tuples (bucket equality; order-preserving range
    logic for truncate/temporal — ``_iceberg_file_may_match``).
    Appends must repeat the table's spec.

    Declared scope: append-only — row-level deletes stay read-side
    features here; appends of an EVOLVED schema (new/missing
    nullable columns) commit a new schema-id, see below."""
    import hashlib
    import shutil
    import uuid

    import pyarrow.parquet as pq

    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    if (epoch_id is None) != (txn_app_id is None):
        raise ValueError("txn_app_id and epoch_id go together")
    spec_fields = _parse_partition_spec(
        list(partition_columns or []), df.schema
    )
    part_cols = [f["name"] for f in spec_fields]
    missing = [
        f["source"] for f in spec_fields if f["source"] not in df.columns
    ]
    if missing:
        raise ValueError(f"partition columns not in DataFrame: {missing}")
    os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    # The lock is a co-located-writer optimization (r12); correctness
    # comes from the put-if-absent metadata publish + bounded
    # re-replay loop: lose the race, re-read the table, re-validate
    # (schema, partitioning, epoch idempotency), re-emit manifests at
    # a fresh snapshot id, retry. Appends always win eventually.
    with PipelineLock(os.path.join(path, "metadata", "_writer.lock")):
        adds = None
        for _attempt in range(commit.MAX_ATTEMPTS):
            hint = os.path.join(path, "metadata", "version-hint.text")
            if os.path.exists(hint):
                meta = table_metadata(path)
                if int(meta.get("format-version", 2)) != 2:
                    raise ValueError(
                        "write_iceberg appends to format-version 2 tables"
                    )
                # WRITE-SIDE SCHEMA EVOLUTION (r13, VERDICT r12 #6 —
                # mirrors write_delta's mergeSchema appends): same-
                # name type conflicts raise; NEW columns append to a
                # NEW schema entry (fresh field ids, schema-id+1);
                # table columns ABSENT from the write are simply not
                # in the new data files and read back as null (the
                # schema-pinned scan below gives that for free).
                existing = _spark_schema(meta)
                have_types = {
                    f.name: f.dataType for f in existing.fields
                }
                for f in df.schema.fields:
                    old = have_types.get(f.name)
                    if old is not None and old != f.dataType:
                        raise ValueError(
                            f"column {f.name!r} type mismatch: table "
                            f"has {old.simpleString()}, write has "
                            f"{f.dataType.simpleString()}"
                        )
                new_fields = [
                    f
                    for f in df.schema.fields
                    if f.name not in have_types
                ]
                evolved_schema = None
                if new_fields:
                    schemas_now = meta.get("schemas") or [
                        meta.get("schema") or {}
                    ]
                    cur_sid0 = meta.get("current-schema-id", 0)
                    base_sch = next(
                        (
                            s
                            for s in schemas_now
                            if s.get("schema-id", 0) == cur_sid0
                        ),
                        schemas_now[0],
                    )
                    next_fid = (
                        max(
                            int(f["id"])
                            for sc in schemas_now
                            for f in sc.get("fields", [])
                        )
                        + 1
                    )
                    added = _iceberg_fields(
                        T.StructType(
                            [
                                T.StructField(f.name, f.dataType, True)
                                for f in new_fields
                            ]
                        )
                    )
                    for k, fld in enumerate(added):
                        fld["id"] = next_fid + k
                        fld["required"] = False
                    evolved_schema = {
                        "type": "struct",
                        "schema-id": max(
                            sc.get("schema-id", 0)
                            for sc in schemas_now
                        )
                        + 1,
                        "fields": list(base_sch.get("fields", []))
                        + added,
                    }
                existing_spec = [
                    (f["transform"], f["source"])
                    for f in _partition_spec_fields(meta)
                ]
                wanted_spec = [
                    (f["transform"], f["source"]) for f in spec_fields
                ]
                if existing_spec != wanted_spec:
                    raise ValueError(
                        f"table is partitioned by {existing_spec}, "
                        f"write requested {wanted_spec}"
                    )
                snaps = list(meta.get("snapshots") or [])
                if epoch_id is not None:
                    done = [
                        int((s.get("summary") or {}).get("kmdb-txn-epoch"))
                        for s in snaps
                        if (s.get("summary") or {}).get("kmdb-txn-app-id")
                        == str(txn_app_id)
                    ]
                    if done and int(epoch_id) <= max(done):
                        return int(meta["current-snapshot-id"])
                prev_mlist: list[dict] = []
                if snaps:
                    cur = next(
                        s
                        for s in snaps
                        if int(s["snapshot-id"])
                        == int(meta["current-snapshot-id"])
                    )
                    with open(_local(cur["manifest-list"], path), "rb") as f:
                        _, prev_mlist = avroc.read_container(f.read())
                # resolve the CURRENT version by scan, not the
                # advisory hint — a loser's stale hint write must
                # never make this writer re-publish an old version
                version = int(
                    re.search(
                        r"v(\d+)\.metadata\.json$",
                        _latest_metadata(path),
                    ).group(1)
                )
                schemas = meta.get("schemas") or [meta.get("schema")]
                if evolved_schema is not None:
                    schemas = list(schemas) + [evolved_schema]
                table_uuid = meta.get("table-uuid") or uuid.uuid4().hex
            else:
                meta = None
                evolved_schema = None
                snaps, prev_mlist, version = [], [], 0
                schemas = [
                    {
                        "type": "struct",
                        "schema-id": 0,
                        "fields": _iceberg_fields(df.schema),
                    }
                ]
                table_uuid = hashlib.md5(
                    os.path.abspath(path).encode()
                ).hexdigest()

            if adds is None:
                # distributed data write into a staging dir, renamed under
                # data/ (same-filesystem rename); record counts come from the
                # parquet footers — metadata-scale driver work, one per FILE
                seg = uuid.uuid4().hex[:12]
                stage = os.path.join(path, f"_staging-{seg}")
                if part_cols:
                    # source columns must STAY in the data files
                    # (spec); partitionBy would strip them, so the
                    # write partitions on SHADOW columns holding each
                    # spec field's TRANSFORMED value and the dirs are
                    # renamed into the hive layout below
                    out_df = df
                    for fld in spec_fields:
                        out_df = out_df.withColumn(
                            f"__p_{fld['name']}", _transform_expr(fld)
                        )
                    # hash-distribute by the transformed partition
                    # values before the partitioned write (r13
                    # optimization round, guide §6 — the spec's own
                    # write.distribution-mode=hash): one data file
                    # per live partition tuple instead of one per
                    # (upstream task × tuple)
                    out_df = out_df.repartition(
                        *[F.col(f"__p_{c}") for c in part_cols]
                    )
                    out_df.write.mode("overwrite").partitionBy(
                        *[f"__p_{c}" for c in part_cols]
                    ).parquet(stage)
                else:
                    df.write.mode("overwrite").parquet(stage)
                # rel, rows, bytes, {part col: raw dir value}
                adds: list[tuple[str, int, int, dict]] = []
                i = 0
                from urllib.parse import unquote

                for root, _dirs, names in os.walk(stage):
                    for name in sorted(names):
                        if not name.endswith(".parquet") or name.startswith("_"):
                            continue
                        rel_dir = os.path.relpath(root, stage)
                        rel_dir = "" if rel_dir == "." else rel_dir
                        pvals: dict[str, str | None] = {}
                        hive_dir = ""
                        if rel_dir:
                            comps = [c for c in rel_dir.split(os.sep) if c]
                            for c_name, comp in zip(part_cols, comps):
                                pname, _, raw = comp.partition("=")
                                if pname != f"__p_{c_name}":
                                    raise ValueError(
                                        f"unexpected staging dir {comp!r}"
                                    )
                                pvals[c_name] = (
                                    None
                                    if raw == "__HIVE_DEFAULT_PARTITION__"
                                    else unquote(raw)
                                )
                            hive_dir = "/".join(
                                f"{c}={'__HIVE_DEFAULT_PARTITION__' if pvals[c] is None else pvals[c]}"
                                for c in part_cols
                            )
                        rel = (
                            f"data/{hive_dir}/f-{seg}-{i:05d}.parquet"
                            if hive_dir
                            else f"data/f-{seg}-{i:05d}.parquet"
                        )
                        i += 1
                        os.makedirs(
                            os.path.dirname(os.path.join(path, rel)),
                            exist_ok=True,
                        )
                        os.rename(
                            os.path.join(root, name), os.path.join(path, rel)
                        )
                        adds.append(
                            (
                                rel,
                                int(
                                    pq.read_metadata(
                                        os.path.join(path, rel)
                                    ).num_rows
                                ),
                                os.path.getsize(os.path.join(path, rel)),
                                pvals,
                            )
                        )
                shutil.rmtree(stage, ignore_errors=True)

            sid = (
                max((int(s["snapshot-id"]) for s in snaps), default=999) + 1
            )
            snap_seq = len(snaps) + 1
            cur_sid = (
                evolved_schema["schema-id"]
                if evolved_schema is not None
                else (meta or {}).get("current-schema-id", 0)
            )
            cur_schema = next(
                (s for s in schemas if s.get("schema-id", 0) == cur_sid),
                schemas[0],
            )
            type_of_col = {
                f["name"]: f["type"]
                for f in cur_schema.get("fields", [])
                if isinstance(f.get("type"), str)
            }
            part_fields = [
                {
                    "name": f["name"],
                    "type": (
                        type_of_col[f["source"]]
                        if f["transform"] == "identity"
                        else f["result_type"]
                    ),
                }
                for f in spec_fields
            ]

            def _typed_tuple(fld: dict, raw: str | None):
                if raw is None:
                    return None
                if fld["transform"] == "identity":
                    return _typed_partition_value(
                        raw, type_of_col[fld["source"]]
                    )
                if fld["result_type"] in ("int", "long"):
                    return int(raw)
                return raw
            manifest_schema = (
                _manifest_schema_with_partition(part_fields)
                if part_cols
                else _MANIFEST_SCHEMA
            )
            entries = [
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": None,  # inherited (production shape)
                    "data_file": {
                        "content": 0,
                        "file_path": rel,
                        "file_format": "PARQUET",
                        "record_count": n,
                        "file_size_in_bytes": sz,
                        "equality_ids": None,
                        # r12 (#7): the spec's partition tuple, typed
                        # (transform fields carry the TRANSFORMED
                        # value — r13 #5)
                        **(
                            {
                                "partition": {
                                    fld["name"]: _typed_tuple(
                                        fld, pv.get(fld["name"])
                                    )
                                    for fld in spec_fields
                                }
                            }
                            if part_cols
                            else {}
                        ),
                        # r12: per-column bounds + null counts from the
                        # parquet footer — the read side prunes on them
                        **_manifest_stats(
                            os.path.join(path, rel),
                            cur_schema.get("fields", []),
                        ),
                    },
                }
                for rel, n, sz, pv in adds
            ]
            seg2 = uuid.uuid4().hex[:8]
            mf_rel = f"metadata/manifest-{sid}-{seg2}.avro"
            commit.replace_atomically(
                os.path.join(path, mf_rel),
                avroc.write_container(manifest_schema, entries),
            )
            mlist = list(prev_mlist) + [
                {
                    "manifest_path": mf_rel,
                    "manifest_length": os.path.getsize(
                        os.path.join(path, mf_rel)
                    ),
                    "content": 0,
                    "added_snapshot_id": sid,
                    "sequence_number": snap_seq,
                }
            ]
            mlist_rel = f"metadata/snap-{sid}-{seg2}.avro"
            commit.replace_atomically(
                os.path.join(path, mlist_rel),
                avroc.write_container(_MANIFEST_LIST_SCHEMA, mlist),
            )
            summary = {
                "operation": "append",
                "added-data-files": str(len(adds)),
                "added-records": str(sum(n for _, n, _sz, _pv in adds)),
            }
            if epoch_id is not None:
                summary["kmdb-txn-app-id"] = str(txn_app_id)
                summary["kmdb-txn-epoch"] = str(int(epoch_id))
            snap = {
                "snapshot-id": sid,
                "sequence-number": snap_seq,
                "manifest-list": mlist_rel,
                "summary": summary,
            }
            if snaps:
                snap["parent-snapshot-id"] = int(snaps[-1]["snapshot-id"])
            id_of_col = {
                f["name"]: int(f["id"])
                for f in cur_schema.get("fields", [])
            }
            new_meta = {
                "format-version": 2,
                "table-uuid": table_uuid,
                "location": path,
                "last-sequence-number": snap_seq,
                "schemas": schemas,
                "current-schema-id": cur_sid,
                "partition-specs": (meta or {}).get("partition-specs")
                or [
                    {
                        "spec-id": 0,
                        "fields": [
                            {
                                "name": f["name"],
                                "transform": f["transform"],
                                "source-id": id_of_col[f["source"]],
                                "field-id": 1000 + j,
                            }
                            for j, f in enumerate(spec_fields)
                        ],
                    }
                ],
                "default-spec-id": (meta or {}).get("default-spec-id", 0),
                "current-snapshot-id": sid,
                "snapshots": snaps + [snap],
            }
            try:
                _publish_metadata_version(path, new_meta, version + 1)
                return sid
            except commit.CommitConflict:
                continue
        raise commit.CommitConflict(
            f"lost {commit.MAX_ATTEMPTS} commit races under {path}"
        )


class IcebergConcurrentModification(RuntimeError):
    """A concurrent commit replaced a data file this transaction's
    row-level semantics depend on (positional deletes target files
    by path+position). Re-run the DML against the new snapshot."""


def _publish_metadata_version(
    path: str, new_meta: dict, version: int
) -> None:
    """PUT-IF-ABSENT publish of vN.metadata.json (r12): another
    writer holding the version raises ``commit.CommitConflict``. The
    version-hint update after a win is advisory (``_latest_metadata``
    takes the max of hint and directory scan, so a stale hint can
    never roll the table back)."""
    meta_dir = os.path.join(path, "metadata")
    commit.publish_if_absent(
        os.path.join(meta_dir, f"v{version}.metadata.json"),
        json.dumps(new_meta).encode(),
    )
    commit.replace_atomically(
        os.path.join(meta_dir, "version-hint.text"),
        str(version).encode(),
    )


def _commit_v2_snapshot(
    path: str,
    meta: dict,
    file_groups: list[tuple[list[tuple[str, int, int]], int, list | None, str]],
    operation: str,
    extra_summary: dict[str, str],
    requires_live: list[str] | None = None,
    replace_all: bool = False,
    read_conjuncts: list[tuple[str, str, Any]] | None = None,
    base_live: set[str] | None = None,
    base_deletes: set[str] | None = None,
) -> int:
    """Shared snapshot-commit tail for the v2 writers: one new Avro
    manifest per non-empty ``file_groups`` entry ``(files, content,
    equality_ids, tag)`` with entry sequence numbers NULL (inherited,
    the production shape), prior manifests reused by reference, then
    manifest list → snapshot → vN.metadata.json published
    PUT-IF-ABSENT with bounded re-replay retries (r12): losing a
    race refreshes the metadata, re-validates ``requires_live``
    (LOCAL data-file paths whose rows this commit's positional
    semantics target — a concurrent commit replacing one raises
    ``IcebergConcurrentModification``), and re-emits manifests at a
    fresh snapshot id (file names carry a per-attempt uuid so a
    loser can never clobber the winner's manifests). The caller's
    lock is a co-located-writer optimization. Returns the new
    snapshot id.

    Row-level DML callers additionally pass their READ SET (r13,
    VERDICT r12 #2 — the WriteSerializable gap): ``read_conjuncts``
    (the DML predicate's stats-decomposable conjuncts — EMPTY list
    = not decomposable, every interleaved change conflicts),
    ``base_live`` (data files at the read snapshot) and
    ``base_deletes`` (delete files at the read snapshot). On a lost
    race, (a) any interleaved data file whose manifest bounds MAY
    hold a predicate-matching row, and (b) any interleaved
    positional/equality DELETE file at all, raise
    ``IcebergConcurrentModification`` — (a) is Delta's
    ConcurrentAppendException at file-stats granularity; (b) guards
    the subtler anomaly where an interleaved equality-delete MERGE
    shadows a row this UPDATE already read, and the retry would
    resurrect its pre-merge version as a fresh data file. Appends
    provably disjoint from the predicate still retry blindly."""
    import uuid as _uuid
    for _attempt in range(commit.MAX_ATTEMPTS):
        snaps = list(meta.get("snapshots") or [])
        sid_cur = meta.get("current-snapshot-id")
        prev_mlist: list[dict] = []
        if replace_all:
            pass  # REPLACE commit: prior manifests all drop
        elif snaps and sid_cur is not None:
            cur = next(
                s for s in snaps if int(s["snapshot-id"]) == int(sid_cur)
            )
            with open(_local(cur["manifest-list"], path), "rb") as f:
                _, prev_mlist = avroc.read_container(f.read())
        sid = max((int(s["snapshot-id"]) for s in snaps), default=999) + 1
        snap_seq = int(meta.get("last-sequence-number", len(snaps))) + 1
        seg = _uuid.uuid4().hex[:8]
        summary = {"operation": operation}
        summary.update(extra_summary)
        mlist = list(prev_mlist)
        cur_sid = meta.get("current-schema-id", 0)
        schemas = meta.get("schemas") or [meta.get("schema") or {}]
        cur_schema = next(
            (s for s in schemas if s.get("schema-id", 0) == cur_sid),
            schemas[0],
        )
        for files, content, eq_ids, tag in file_groups:
            if not files:
                continue
            entries = [
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": None,  # inherited (production shape)
                    "data_file": {
                        "content": content,
                        "file_path": rel,
                        "file_format": "PARQUET",
                        "record_count": n,
                        "file_size_in_bytes": sz,
                        "equality_ids": eq_ids,
                        # r12: DATA files carry footer-derived bounds so
                        # DML-rewritten files keep pruning (delete files
                        # don't need them)
                        **(
                            _manifest_stats(
                                _local(rel, path),
                                cur_schema.get("fields", []),
                            )
                            if content == 0
                            else {}
                        ),
                    },
                }
                for rel, n, sz in files
            ]
            mf_rel = f"metadata/manifest-{sid}-{tag}-{seg}.avro"
            commit.replace_atomically(
                os.path.join(path, mf_rel),
                avroc.write_container(_MANIFEST_SCHEMA, entries),
            )
            mlist.append(
                {
                    "manifest_path": mf_rel,
                    "manifest_length": os.path.getsize(
                        os.path.join(path, mf_rel)
                    ),
                    "content": 0 if content == 0 else 1,
                    "added_snapshot_id": sid,
                    "sequence_number": snap_seq,
                }
            )
        mlist_rel = f"metadata/snap-{sid}-{seg}.avro"
        commit.replace_atomically(
            os.path.join(path, mlist_rel),
            avroc.write_container(_MANIFEST_LIST_SCHEMA, mlist),
        )
        snap = {
            "snapshot-id": sid,
            "sequence-number": snap_seq,
            "manifest-list": mlist_rel,
            "summary": summary,
        }
        if sid_cur is not None:
            snap["parent-snapshot-id"] = int(sid_cur)
        version = int(
            re.search(
                r"v(\d+)\.metadata\.json$", _latest_metadata(path)
            ).group(1)
        )
        new_meta = dict(meta)
        new_meta["last-sequence-number"] = snap_seq
        new_meta["current-snapshot-id"] = sid
        new_meta["snapshots"] = snaps + [snap]
        try:
            _publish_metadata_version(path, new_meta, version + 1)
            return sid
        except commit.CommitConflict:
            if replace_all:
                # ANY concurrent commit invalidates a whole-table
                # compaction — never silently drop its changes
                raise IcebergConcurrentModification(
                    "table changed during OPTIMIZE — re-run against "
                    "the new snapshot"
                ) from None
            meta = table_metadata(path)
            cur = snapshot_files(path)
            if requires_live:
                live = set(cur["files"])
                gone = sorted(
                    f for f in requires_live if f not in live
                )
                if gone:
                    raise IcebergConcurrentModification(
                        f"concurrent commit replaced {len(gone)} data "
                        f"file(s) this transaction targets by position "
                        f"(first: {os.path.basename(gone[0])!r}) — "
                        "re-run against the new snapshot"
                    ) from None
            if read_conjuncts is not None:
                info = _stats_field_info(meta)
                fstats = cur.get("file_stats") or {}
                new_data = [
                    f
                    for f in cur["files"]
                    if f not in (base_live or set())
                ]
                hits = [
                    f
                    for f in new_data
                    if _iceberg_file_may_match(
                        fstats.get(f), read_conjuncts, info
                    )
                ]
                cur_dels = set(cur.get("delete_files") or []) | {
                    d["path"]
                    for d in cur.get("equality_deletes") or []
                }
                new_dels = sorted(
                    cur_dels - (base_deletes or set())
                )
                if hits or new_dels:
                    what = (
                        f"{len(hits)} concurrent data file(s) that "
                        "may match this DML's read predicate "
                        f"(first: {os.path.basename(hits[0])!r})"
                        if hits
                        else f"{len(new_dels)} concurrent delete "
                        "file(s) shadowing rows this DML read "
                        f"(first: {os.path.basename(new_dels[0])!r})"
                    )
                    raise IcebergConcurrentModification(
                        f"{what} — serializable isolation: re-run "
                        "against the new snapshot"
                    ) from None
            continue
    raise commit.CommitConflict(
        f"lost {commit.MAX_ATTEMPTS} commit races under {path}"
    )


def _promote_staging(
    path: str, stage: str, prefix: str, seg: str
) -> list[tuple[str, int, int]]:
    """Move a staged distributed write's parquet parts under data/,
    dropping empty files; returns [(rel, rows, bytes)] with row
    counts from the footers (driver-side, one per FILE)."""
    import shutil

    import pyarrow.parquet as pq

    out: list[tuple[str, int, int]] = []
    i = 0
    for name in sorted(os.listdir(stage)):
        if not name.endswith(".parquet") or name.startswith("_"):
            continue
        n = int(pq.read_metadata(os.path.join(stage, name)).num_rows)
        if n == 0:
            continue
        rel = f"data/{prefix}-{seg}-{i:05d}.parquet"
        i += 1
        os.rename(os.path.join(stage, name), os.path.join(path, rel))
        out.append((rel, n, os.path.getsize(os.path.join(path, rel))))
    shutil.rmtree(stage, ignore_errors=True)
    return out


def delete_iceberg(
    spark: SparkSession, path: str, predicate: str
) -> int:
    """Row-level DELETE on an Iceberg v2 table — MERGE-ON-READ (r11):
    instead of rewriting data files (the Delta ``delete_delta``
    copy-on-write shape), commit a POSITIONAL-DELETE file naming the
    matched rows by (data-file path, row position) — the spec's
    content=1 delete file — plus a deletes manifest and a new
    snapshot whose manifest list reuses every prior manifest by
    reference. Data bytes are never rewritten; the reader
    anti-joins the delete rows away at scan time (the
    ``read_iceberg`` MOR path this module already implements, so the
    write side round-trips through the same machinery other engines'
    tables do).

    ``predicate`` is a SQL boolean over the table columns; SQL
    DELETE semantics (NULL predicate rows survive). Matching rows
    are located with one distributed scan of the VISIBLE snapshot
    (prior positional/equality deletes already applied — a row
    deleted twice would be spec-legal but wasteful); the delete file
    is written distributed, sorted by (file_path, pos) as the spec
    requires. Returns the committed snapshot id — unchanged when
    nothing matches (no empty snapshots).

    Why merge-on-read here and copy-on-write for Delta: the two
    writers deliberately exercise BOTH industry deletion strategies
    — MOR's O(matched rows) commit cost vs CoW's O(affected files)
    rewrite — and the read paths for each were already in place."""
    import uuid

    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    with PipelineLock(os.path.join(path, "metadata", "_writer.lock")):
        meta = table_metadata(path)
        if int(meta.get("format-version", 2)) != 2:
            raise ValueError(
                "positional deletes are an Iceberg v2 feature"
            )
        state = snapshot_files(path)
        if not state["files"]:
            return int(meta["current-snapshot-id"])
        tagged, _cols = _tagged_snapshot(spark, path, state)
        hit = F.coalesce(F.expr(predicate), F.lit(False))
        # manifest path string is how delete rows must name data
        # files (the reader maps it back through path_map)
        ref_rows = sorted(
            (os.path.abspath(local), ref)
            for ref, local in state["path_map"].items()
        )
        ref_map = spark.createDataFrame(
            ref_rows, "_uri string, file_path string"
        )
        dels = (
            tagged.where(hit)
            .select("_uri", "_pos")
            .join(F.broadcast(ref_map), "_uri")
            .select(
                F.col("file_path"), F.col("_pos").cast("long").alias("pos")
            )
            .sort("file_path", "pos")
        )
        seg = uuid.uuid4().hex[:12]
        stage = os.path.join(path, f"_staging-del-{seg}")
        dels = dels.persist()
        # the positional read set: data files this commit's delete
        # rows target — metadata-scale (one row per FILE); a racing
        # commit replacing one of these invalidates the positions.
        # collect_set fold, not distinct().collect() (r14, guide
        # §1.2): one set per task to a single reducer, no
        # hash-distinct exchange of every delete row.
        referenced = [
            state["path_map"][p]
            for p in dels.agg(
                F.collect_set("file_path").alias("__f")
            ).first()["__f"]
            if p in state["path_map"]
        ]
        dels.write.mode("overwrite").parquet(stage)
        dels.unpersist()
        del_files = _promote_staging(path, stage, "del", seg)
        if not del_files:
            return int(meta["current-snapshot-id"])
        return _commit_v2_snapshot(
            path,
            meta,
            [(del_files, 1, None, "posdel")],
            "delete",
            {
                "added-delete-files": str(len(del_files)),
                "added-position-deletes": str(
                    sum(n for _, n, _ in del_files)
                ),
                "kmdb-delete-predicate": predicate,
            },
            requires_live=referenced,
            read_conjuncts=_parse_conjuncts(predicate),
            base_live=set(state["files"]),
            base_deletes=set(state.get("delete_files") or [])
            | {
                d["path"]
                for d in state.get("equality_deletes") or []
            },
        )


def update_iceberg(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str,
) -> int:
    """Row-level UPDATE — merge-on-read (r11): ONE snapshot carrying
    a positional-delete file for the matched rows AND their updated
    versions as new data files. Positional deletes are
    sequence-unscoped by position identity (the new files' rows have
    different (file, pos)), so the pair is race-free within the
    snapshot. Assignments evaluate against the OLD row in one
    simultaneous projection (UPDATE semantics; column swaps are
    safe); NULL-predicate rows untouched. Data bytes of existing
    files are never rewritten — the matched-row scan is the only
    data read, and the new files carry only the updated rows.
    Returns the committed snapshot id (unchanged when nothing
    matches)."""
    import uuid

    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    if not set_exprs:
        raise ValueError("update_iceberg needs at least one assignment")
    with PipelineLock(os.path.join(path, "metadata", "_writer.lock")):
        meta = table_metadata(path)
        if int(meta.get("format-version", 2)) != 2:
            raise ValueError(
                "positional deletes are an Iceberg v2 feature"
            )
        schema = _spark_schema(meta)
        cols = [f.name for f in schema.fields]
        bad = [c for c in set_exprs if c not in cols]
        if bad:
            raise ValueError(f"SET columns not in table: {bad}")
        state = snapshot_files(path)
        if not state["files"]:
            return int(meta["current-snapshot-id"])
        tagged, _cols = _tagged_snapshot(spark, path, state)
        hit = F.coalesce(F.expr(predicate), F.lit(False))
        matched = tagged.where(hit).cache()
        ref_rows = sorted(
            (os.path.abspath(local), ref)
            for ref, local in state["path_map"].items()
        )
        ref_map = spark.createDataFrame(
            ref_rows, "_uri string, file_path string"
        )
        dels = (
            matched.select("_uri", "_pos")
            .join(F.broadcast(ref_map), "_uri")
            .select(
                F.col("file_path"),
                F.col("_pos").cast("long").alias("pos"),
            )
            .sort("file_path", "pos")
        )
        updated = matched.select(
            *[
                F.expr(set_exprs[c]).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in cols
            ]
        )
        seg = uuid.uuid4().hex[:12]
        del_stage = os.path.join(path, f"_staging-udel-{seg}")
        dels = dels.persist()
        # collect_set fold — see delete_iceberg (r14, guide §1.2)
        referenced = [
            state["path_map"][p]
            for p in dels.agg(
                F.collect_set("file_path").alias("__f")
            ).first()["__f"]
            if p in state["path_map"]
        ]
        dels.write.mode("overwrite").parquet(del_stage)
        dels.unpersist()
        data_stage = os.path.join(path, f"_staging-upd-{seg}")
        updated.write.mode("overwrite").parquet(data_stage)
        matched.unpersist()
        del_files = _promote_staging(path, del_stage, "del", seg)
        data_files = _promote_staging(path, data_stage, "f", seg)
        if not del_files:
            return int(meta["current-snapshot-id"])
        return _commit_v2_snapshot(
            path,
            meta,
            [
                (del_files, 1, None, "posdel"),
                (data_files, 0, None, "data"),
            ],
            "overwrite",
            {
                "added-delete-files": str(len(del_files)),
                "added-position-deletes": str(
                    sum(n for _, n, _ in del_files)
                ),
                "added-data-files": str(len(data_files)),
                "added-records": str(sum(n for _, n, _ in data_files)),
                "kmdb-update-predicate": predicate,
            },
            requires_live=referenced,
            read_conjuncts=_parse_conjuncts(predicate),
            base_live=set(state["files"]),
            base_deletes=set(state.get("delete_files") or [])
            | {
                d["path"]
                for d in state.get("equality_deletes") or []
            },
        )


def merge_iceberg(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
) -> int:
    """MERGE (upsert) into an Iceberg v2 table — the EQUALITY-DELETE
    shape (r11): ONE snapshot carrying (a) an equality-delete file
    (content=2) holding the source's key tuples with ``equality_ids``
    = the key columns' schema field ids, and (b) the appended source
    rows as new data files. Sequence-number scoping does the rest at
    read time: both manifests inherit the snapshot's sequence number,
    and the spec applies an equality delete only to data files with a
    STRICTLY SMALLER sequence number — so old rows matching a key
    vanish while the same snapshot's new rows survive. This is the
    upsert layout streaming CDC writers (e.g. the Flink connector)
    emit; no data file is ever read or rewritten at commit time —
    commit cost is O(source), not O(affected files) (contrast:
    ``merge_delta`` rewrites matched files copy-on-write;
    ``delete_iceberg`` locates row positions with a scan).

    Contract: ``source`` carries the table's full column set; source
    keys must be unique (checked); every existing row sharing a
    matched key is replaced by the one source row — including rows a
    prior snapshot's equality delete already shadows (shadowing
    twice is spec-legal and read-correct). NOTE this is UPSERT
    (key-replace) semantics, inherent to the equality-delete layout:
    dup-key target rows COLLAPSE to the one source row, unlike
    ``merge_delta`` (r12), which matches Delta MERGE by updating
    each matched row. Callers needing per-row update semantics on
    dup-key Iceberg targets must dedup first or use the
    copy-on-write path. Returns the snapshot id.

    Isolation (r13, VERDICT r12 #2 adjudication): unlike
    ``delete_iceberg``/``update_iceberg`` this verb needs NO
    concurrent-append read-set validation, because its read set is
    EMPTY — it never scans target rows. A concurrent append that
    lands source-key-matching rows commits at a LOWER sequence
    number, so this merge's equality delete shadows those rows too:
    the raced outcome is exactly the append→merge serial order,
    which is a valid serialization. (Delta's CoW ``merge_delta``
    has no such property — it reads matched files — hence its
    retry carries the key-range read check.)"""
    import uuid

    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    if not on:
        raise ValueError("merge_iceberg needs at least one key column")
    with PipelineLock(os.path.join(path, "metadata", "_writer.lock")):
        meta = table_metadata(path)
        if int(meta.get("format-version", 2)) != 2:
            raise ValueError(
                "equality deletes are an Iceberg v2 feature"
            )
        schema = _spark_schema(meta)
        if [f.name for f in schema.fields] != list(source.columns):
            raise ValueError(
                f"schema mismatch: table has "
                f"{[f.name for f in schema.fields]}, "
                f"merge source has {list(source.columns)}"
            )
        sid_cur = meta.get("current-snapshot-id")
        schemas = meta.get("schemas") or [meta.get("schema") or {}]
        sch = next(
            (
                s
                for s in schemas
                if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
            ),
            schemas[0],
        )
        id_of = {f["name"]: int(f["id"]) for f in sch.get("fields", [])}
        missing = [c for c in on if c not in id_of]
        if missing:
            raise ValueError(f"key columns not in table schema: {missing}")

        src = source.cache()
        # count_distinct over a STRUCT so NULL key fields still count
        # as (distinct) keys — a bare count_distinct(cols...) drops
        # NULL-bearing rows and would mis-report "duplicate keys".
        n_src, n_keys = src.agg(
            F.count(F.lit(1)),
            F.count_distinct(F.struct(*[F.col(c) for c in on])),
        ).first()
        if n_src != n_keys:
            src.unpersist()
            raise ValueError(
                f"merge_iceberg source has duplicate keys on {on} "
                f"({n_src} rows, {n_keys} distinct keys)"
            )

        seg = uuid.uuid4().hex[:12]
        # (a) the equality-delete file: the source's key tuples
        del_stage = os.path.join(path, f"_staging-eqd-{seg}")
        src.select(*on).write.mode("overwrite").parquet(del_stage)
        # (b) the new data files
        data_stage = os.path.join(path, f"_staging-mrg-{seg}")
        src.write.mode("overwrite").parquet(data_stage)
        src.unpersist()

        eq_files = _promote_staging(path, del_stage, "eqdel", seg)
        data_files = _promote_staging(path, data_stage, "f", seg)
        if not data_files and not eq_files:
            return int(sid_cur)
        return _commit_v2_snapshot(
            path,
            meta,
            [
                (eq_files, 2, [id_of[c] for c in on], "deletes"),
                (data_files, 0, None, "data"),
            ],
            "overwrite",
            {
                "added-data-files": str(len(data_files)),
                "added-records": str(sum(n for _, n, _ in data_files)),
                "added-delete-files": str(len(eq_files)),
                "added-equality-deletes": str(
                    sum(n for _, n, _ in eq_files)
                ),
                "kmdb-merge-on": ",".join(on),
            },
        )


def optimize_iceberg(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """OPTIMIZE (bin-pack compaction) for Iceberg v2 tables this
    engine writes (r12) — the Delta ``optimize_delta`` one format
    over: reads the CURRENT merged view (positional and equality
    deletes applied), rewrites it as ``ceil(live_bytes /
    target_file_bytes)`` data files, and commits a snapshot with
    summary ``operation=replace`` whose manifest list carries ONLY
    the new manifest — old data AND delete files leave the snapshot
    (deletes are folded in), while time travel to prior snapshots
    keeps working because their manifest lists are untouched.
    Spec-correct consumers (our tailer included) skip replace
    snapshots, so streaming survives the compaction.

    Concurrency: the commit publishes put-if-absent; ANY concurrent
    commit raises ``IcebergConcurrentModification`` (a whole-table
    rewrite must never silently drop a racing writer's changes).
    Returns the committed snapshot id (current one when there is
    nothing to compact)."""
    import math
    import uuid

    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    with PipelineLock(os.path.join(path, "metadata", "_writer.lock")):
        meta = table_metadata(path)
        state = snapshot_files(path)
        if not state["files"]:
            return int(meta.get("current-snapshot-id") or 0)
        live_bytes = sum(
            os.path.getsize(f) for f in state["files"]
        )
        n_out = max(1, math.ceil(live_bytes / target_file_bytes))
        df = read_iceberg(spark, path)
        seg = uuid.uuid4().hex[:12]
        stage = os.path.join(path, f"_staging-opt-{seg}")
        df.coalesce(n_out).write.mode("overwrite").parquet(stage)
        data_files = _promote_staging(path, stage, "f", seg)
        return _commit_v2_snapshot(
            path,
            meta,
            [(data_files, 0, None, "data")],
            "replace",
            {
                "added-data-files": str(len(data_files)),
                "added-records": str(sum(n for _, n, _ in data_files)),
                "removed-data-files": str(len(state["files"])),
                "kmdb-optimize-target-bytes": str(int(target_file_bytes)),
            },
            replace_all=True,
        )


def expire_iceberg_snapshots(
    path: str, retain_last: int = 2, dry_run: bool = False
) -> dict:
    """Iceberg's expireSnapshots maintenance action (r11): drop all
    but the last ``retain_last`` snapshots from the table metadata
    and delete every file (data, manifest, manifest list) referenced
    ONLY by the expired ones. The current snapshot is always
    retained. Commits a new vN.metadata.json + version-hint through
    the same atomic rename as the writer, under the writer lock.

    Returns {expired_snapshot_ids, deleted_files} (``dry_run`` lists
    without deleting or committing)."""
    from kissmetrics_to_database_spark.sources.lock import PipelineLock

    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    with PipelineLock(os.path.join(path, "metadata", "_writer.lock")):
        meta = table_metadata(path)
        snaps = list(meta.get("snapshots") or [])
        if len(snaps) <= retain_last:
            return {"expired_snapshot_ids": [], "deleted_files": []}
        keep, drop = snaps[-int(retain_last):], snaps[: -int(retain_last)]
        cur = int(meta["current-snapshot-id"])
        if cur not in {int(s["snapshot-id"]) for s in keep}:
            raise ValueError(
                "current snapshot falls outside the retention window"
            )

        def refs(snapshot: dict) -> set[str]:
            out = {str(snapshot["manifest-list"])}
            with open(_local(snapshot["manifest-list"], path), "rb") as f:
                _, mentries = avroc.read_container(f.read())
            for me in mentries:
                out.add(str(me["manifest_path"]))
                with open(_local(me["manifest_path"], path), "rb") as f:
                    _, entries = avroc.read_container(f.read())
                for e in entries:
                    if int(e["status"]) != 2:
                        out.add(str(e["data_file"]["file_path"]))
            return out

        live: set[str] = set()
        for s in keep:
            live |= refs(s)
        dead: set[str] = set()
        for s in drop:
            dead |= refs(s)
        doomed = sorted(dead - live)
        if not dry_run:
            for rel in doomed:
                local = _local(rel, path)
                if os.path.exists(local):
                    os.remove(local)
            version = int(
                re.search(
                    r"v(\d+)\.metadata\.json$", _latest_metadata(path)
                ).group(1)
            )
            new_meta = {**meta, "snapshots": keep}
            # put-if-absent (r12): a racing writer wins cleanly; the
            # expiration is advisory maintenance, so just re-raise —
            # the caller re-runs against the new snapshot list
            _publish_metadata_version(path, new_meta, version + 1)
        return {
            "expired_snapshot_ids": [int(s["snapshot-id"]) for s in drop],
            "deleted_files": doomed,
        }


# ---------------------------------------------------------------------------
# fixture writer (spec-shaped bytes for round-trips; not a production writer)
# ---------------------------------------------------------------------------

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "default": None,
        },
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "default": 0},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                        "default": None,
                    },
                    # per-column stats (r12, VERDICT r11 #1): the
                    # spec's field-id-keyed maps, Avro-encoded as
                    # arrays of key/value records like production
                    # manifests; bounds hold Appendix-D single-value
                    # binary serializations
                    {
                        "name": "null_value_counts",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "i64_map_entry",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "long"},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                    },
                    {
                        "name": "lower_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "bin_map_entry",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                    },
                    {
                        "name": "upper_bounds",
                        "type": [
                            "null",
                            {"type": "array", "items": "bin_map_entry"},
                        ],
                        "default": None,
                    },
                ],
            },
        },
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int", "default": 0},
        {"name": "added_snapshot_id", "type": ["null", "long"], "default": None},
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "default": None,
        },
    ],
}


class IcebergFixtureWriter:
    """Append/overwrite commits as real metadata bytes: parquet data
    files, Avro manifest + manifest-list per snapshot, vN.metadata.json
    + version-hint.text. Single-writer, test/fixture use only."""

    def __init__(
        self,
        path: str,
        schema_fields: list[dict],
        inherit_sequence_numbers: bool = False,
    ) -> None:
        """``inherit_sequence_numbers=True`` writes the PRODUCTION
        shape (r11, VERDICT r10 #2): ADDED manifest entries carry a
        null ``sequence_number`` and the manifest-list entry carries
        the snapshot's sequence — the layout Spark/Flink v2 writers
        emit, which readers must resolve by inheritance. False keeps
        explicit per-entry numbers (both shapes are spec-legal and
        both must read identically)."""
        self.path = path
        self.schema_fields = schema_fields  # iceberg JSON schema fields
        self.inherit_sequence_numbers = inherit_sequence_numbers
        self.version = 0
        self.snapshots: list[dict] = []
        # rel data path -> (record count, data sequence number)
        self.live: dict[str, tuple[int, int]] = {}
        # rel delete path -> {n, seq, content, equality_ids}
        self.live_deletes: dict[str, dict] = {}
        self._file_no = 0
        os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    def commit(
        self,
        pdf=None,
        remove_paths: list[str] | None = None,
        operation: str = "append",
    ) -> list[str]:
        """One snapshot: add ``pdf`` as a data file, drop
        ``remove_paths`` (table-relative). Returns added rel paths."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        for rp in remove_paths or []:
            self.live.pop(rp, None)
        added: list[str] = []
        if pdf is not None and len(pdf):
            rel = f"data/f-{self._file_no:05d}.parquet"
            self._file_no += 1
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(self.path, rel),
            )
            self.live[rel] = (len(pdf), self._next_seq())
            added.append(rel)
        return self._snapshot(added, [], operation)

    def _next_seq(self) -> int:
        """Data sequence number of the snapshot being built (v2:
        strictly increasing per commit)."""
        return len(self.snapshots) + 1

    def delete_commit(
        self,
        deletes: list[tuple[str, int]],
        operation: str = "delete",
    ) -> str:
        """One v2 merge-on-read snapshot: write ``deletes`` —
        (table-relative data path, row position) rows — as a
        positional-delete parquet file referenced by a delete
        manifest (content=1). Returns the delete file's rel path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = f"data/del-{self._file_no:05d}.parquet"
        self._file_no += 1
        pq.write_table(
            pa.Table.from_pydict(
                {
                    "file_path": [p for p, _ in deletes],
                    "pos": [int(x) for _, x in deletes],
                }
            ),
            os.path.join(self.path, rel),
        )
        self.live_deletes[rel] = {
            "n": len(deletes),
            "seq": self._next_seq(),
            "content": 1,
            "equality_ids": None,
        }
        self._snapshot([], [rel], operation)
        return rel

    def equality_delete_commit(
        self,
        pdf,
        field_ids: list[int],
        operation: str = "delete",
    ) -> str:
        """One v2 merge-on-read snapshot with an EQUALITY-delete file:
        ``pdf`` holds the delete rows' values for the columns named
        by ``field_ids`` (table-schema field ids). The delete applies
        to rows matching those values in data files with a STRICTLY
        SMALLER sequence number — later appends of the same values
        survive. Returns the delete file's rel path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = f"data/eqdel-{self._file_no:05d}.parquet"
        self._file_no += 1
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(self.path, rel),
        )
        self.live_deletes[rel] = {
            "n": len(pdf),
            "seq": self._next_seq(),
            "content": 2,
            "equality_ids": [int(i) for i in field_ids],
        }
        self._snapshot([], [rel], operation)
        return rel

    def _write_manifest(
        self, rel: str, entries: list[dict], sid: int
    ) -> dict:
        with open(os.path.join(self.path, rel), "wb") as f:
            f.write(avroc.write_container(_MANIFEST_SCHEMA, entries))
        return {
            "manifest_path": rel,
            "manifest_length": os.path.getsize(
                os.path.join(self.path, rel)
            ),
            "added_snapshot_id": sid,
        }

    def _snapshot(
        self,
        added: list[str],
        added_deletes: list[str],
        operation: str,
    ) -> list[str]:
        sid = 1000 + len(self.snapshots)
        snap_seq = len(self.snapshots) + 1  # this snapshot's sequence

        def entry(
            rel: str,
            n: int,
            content: int,
            seq: int,
            equality_ids: list[int] | None = None,
        ) -> dict:
            status = (
                1 if rel in added or rel in added_deletes else 0
            )
            # production shape: ADDED entries leave seq null for the
            # reader to inherit from the manifest list; EXISTING
            # entries always carry their original seq explicitly
            entry_seq = (
                None
                if self.inherit_sequence_numbers and status == 1
                else seq
            )
            return {
                "status": status,
                "snapshot_id": sid,
                "sequence_number": entry_seq,
                "data_file": {
                    "content": content,
                    "file_path": rel,
                    "file_format": "PARQUET",
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(
                        os.path.join(self.path, rel)
                    ),
                    "equality_ids": equality_ids,
                },
            }

        mlist_entries = []
        data_mf = self._write_manifest(
            f"metadata/manifest-{sid}.avro",
            [
                entry(rel, n, 0, seq)
                for rel, (n, seq) in sorted(self.live.items())
            ],
            sid,
        )
        mlist_entries.append(
            {**data_mf, "content": 0, "sequence_number": snap_seq}
        )
        if self.live_deletes:
            del_mf = self._write_manifest(
                f"metadata/manifest-{sid}-deletes.avro",
                [
                    entry(
                        rel,
                        d["n"],
                        d["content"],
                        d["seq"],
                        d["equality_ids"],
                    )
                    for rel, d in sorted(self.live_deletes.items())
                ],
                sid,
            )
            mlist_entries.append(
                {**del_mf, "content": 1, "sequence_number": snap_seq}
            )
        mlist_rel = f"metadata/snap-{sid}.avro"
        with open(os.path.join(self.path, mlist_rel), "wb") as f:
            f.write(
                avroc.write_container(_MANIFEST_LIST_SCHEMA, mlist_entries)
            )
        parent = self.snapshots[-1]["snapshot-id"] if self.snapshots else None
        snap = {
            "snapshot-id": sid,
            "manifest-list": mlist_rel,
            "summary": {"operation": operation},
        }
        if parent is not None:
            snap["parent-snapshot-id"] = parent
        self.snapshots.append(snap)
        self.version += 1
        meta = {
            "format-version": 2,
            "table-uuid": f"fixture-{os.path.basename(self.path)}",
            "location": self.path,
            "schemas": [
                {
                    "type": "struct",
                    "schema-id": 0,
                    "fields": self.schema_fields,
                }
            ],
            "current-schema-id": 0,
            "current-snapshot-id": sid,
            "snapshots": self.snapshots,
        }
        with open(
            os.path.join(self.path, "metadata", f"v{self.version}.metadata.json"),
            "w",
            encoding="utf-8",
        ) as f:
            json.dump(meta, f)
        with open(
            os.path.join(self.path, "metadata", "version-hint.text"),
            "w",
            encoding="utf-8",
        ) as f:
            f.write(str(self.version))
        return added
