"""End-to-end batch pipeline: the reference's process-files command,
restated as one declarative flow (SURVEY.md §3.1).

  discover new files (natural order, after watermark)
  → one multi-file NDJSON scan: each line parsed once, the repair
    pass only for lines whose parse failed, the rest quarantined
  → per-row transform (sanitize, _n null-out, _t format, md5hash,
    created_at)
  → optional exact dedup on md5hash
  → ONE materialization: the transformed batch is persisted and
    counted; the lake append and the identity step read that cache
  → lake append (schema union vs. the existing lake on read)
  → incremental identity closure from the new batch's alias pairs
  → advance watermark (only after the writes committed)

Past the bounded schema-inference sample, the input files are scanned
and parsed once per run. Where each ``PipelineResult`` count comes
from:

- ``n_rows``: the count that materializes the persisted batch;
- ``n_repaired`` and ``n_quarantined``: an ``Observation`` on the
  parse (``json_repair``), filled by that same job. A batch with no
  good row is the one exception: its quarantined lines are counted by
  a scan of their own (see ``_run_locked``);
- ``n_identity_members``: a count of the staged identity map.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession

from kissmetrics_to_database_spark.functions import events_transform
from kissmetrics_to_database_spark.operators import identity
from kissmetrics_to_database_spark.sources import ndjson
from kissmetrics_to_database_spark.sources.json_repair import _parse_observed
from kissmetrics_to_database_spark.sources.lock import PipelineLock


@dataclass
class PipelineResult:
    """Run report — the reference's counters/progress surface (A1/A5:
    before/after counts, rows/sec, elapsed; KissmetricsToDatabase.php:
    54-66,314-326,916-922) as a structured result instead of prints."""

    files: list[str] = field(default_factory=list)
    n_rows: int = 0
    n_repaired: int = 0
    n_quarantined: int = 0
    n_identity_members: int = 0
    elapsed_sec: float = 0.0

    @property
    def rows_per_sec(self) -> float:
        return round(self.n_rows / self.elapsed_sec, 2) if self.elapsed_sec else 0.0


def read_events_lake(spark: SparkSession, lake_dir: str) -> DataFrame:
    """Read the evolving events lake with schema merge across batches
    (the read-side half of S8: older files lack newer dynamic keys,
    which surface as NULL — same as the warehouse after ALTER ADD)."""
    return spark.read.option("mergeSchema", "true").parquet(
        str(Path(lake_dir) / "events")
    )


def run_incremental(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    lake_dir: str,
    fixed_date: str | None = None,
    process_identities: bool = True,
    dedup_on_fingerprint: bool = False,
) -> PipelineResult:
    """One incremental run. Idempotent: a second invocation with no
    new files writes nothing (watermark semantics, S4/S5). A lock
    file under ``state_dir`` enforces single-writer (S10)."""
    t0 = time.perf_counter()
    with PipelineLock(Path(state_dir) / "run.lock"):
        return _run_locked(
            spark,
            source_dir,
            state_dir,
            lake_dir,
            fixed_date,
            process_identities,
            dedup_on_fingerprint,
            t0,
        )


def _run_locked(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    lake_dir: str,
    fixed_date: str | None,
    process_identities: bool,
    dedup_on_fingerprint: bool,
    t0: float,
) -> PipelineResult:
    wm = ndjson.Watermark(Path(state_dir) / "watermark.json")
    session_start = wm.read()
    files = ndjson.discover_files(source_dir, after=session_start)
    if not files:
        return PipelineResult()

    # One scan feeds everything. Parsing runs once per line and the
    # repair only for lines whose parse failed (json_repair); the
    # observation counts repaired and quarantined lines in that same
    # pass, so no job re-reads the files just to count them.
    parse_counts = Observation("json_repair")
    good, quarantined = _parse_observed(spark, spark.read.text(files), parse_counts)
    transformed = events_transform.transform_events(
        good.drop("was_repaired"), fixed_date=fixed_date
    )
    if dedup_on_fingerprint:
        transformed = transformed.dropDuplicates(["md5hash"])
    transformed = transformed.persist()
    try:
        # The one materialization: this count builds the cache that
        # the lake write and the identity step then read, and fills
        # the observation on the way.
        n_rows = transformed.count()
        if n_rows:
            counts = parse_counts.get
            n_repaired = counts["n_repaired"]
            n_quarantined = counts["n_quarantined"]
        else:
            # With no good row the dedup shuffle reads nothing, and
            # AQE then drops the observed subtree from the plan, so
            # the observation never fills. No good row means no
            # repaired one; the quarantined lines get their own count.
            n_repaired, n_quarantined = 0, quarantined.count()

        transformed.write.mode("append").parquet(str(Path(lake_dir) / "events"))
        n_members = 0
        if process_identities and "_p" in transformed.columns:
            edges = identity.alias_edges_kissmetrics(transformed)
            comp_path = Path(lake_dir) / "identity_components"
            if comp_path.exists():
                # fold the new batch into the existing map — alias
                # chains that span runs must merge (the reference's
                # incremental path KTD:359-394)
                existing = spark.read.parquet(str(comp_path))
                comp = identity.update_components(existing, edges)
            else:
                comp = identity.connected_components(edges)
            # stage to a temp dir: comp's lineage may read comp_path
            tmp = str(comp_path) + ".staging"
            comp.write.mode("overwrite").parquet(tmp)
            staged = spark.read.parquet(tmp)
            n_members = staged.count()
            staged.write.mode("overwrite").parquet(str(comp_path))
            shutil.rmtree(tmp, ignore_errors=True)
        wm.advance(files[-1])
    except Exception:
        wm.rollback(session_start)
        raise
    finally:
        transformed.unpersist()

    return PipelineResult(
        files=files,
        n_rows=n_rows,
        n_repaired=n_repaired,
        n_quarantined=n_quarantined,
        n_identity_members=n_members,
        elapsed_sec=round(time.perf_counter() - t0, 3),
    )
