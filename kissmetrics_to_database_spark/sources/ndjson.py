"""Incremental NDJSON file source with a natural-order watermark.

The reference discovers numerically-named export files, sorts them
naturally (2 < 10), keeps only files strictly after a persisted
last-read watermark, and advances the watermark after each commit
(reference: src/Commands/ProcessFilesCommand.php:40-55,
src/KissmetricsToDatabase.php:165-178,714-745).

Spark restatement: Structured Streaming's file source IS this
contract (checkpointed processed-file index). For batch mode we keep
the explicit watermark — a tiny JSON state file with the same
single-writer, advance-after-commit semantics — because it lets any
orchestrator resume. Discovery is driver-side metadata (cheap);
the data read is one ``spark.read`` over the kept files, so Catalyst
still sees a single multi-file scan with full pushdown.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kissmetrics_to_database_spark.sources import commit

_NUM_RE = re.compile(r"(\d+)")


def natural_key(name: str) -> list:
    """strnatcmp-style sort key: digit runs compare numerically."""
    parts = _NUM_RE.split(os.path.basename(name))
    return [int(p) if p.isdigit() else p for p in parts]


def discover_files(
    directory: str | Path, after: str | None = None
) -> list[str]:
    """List non-hidden files in natural order, strictly after the
    watermark file name (P8 hidden-file filter + O1 natural sort +
    S4 incremental discovery)."""
    d = Path(directory)
    names = [p.name for p in d.iterdir() if p.is_file() and not p.name.startswith(".")]
    names.sort(key=natural_key)
    if after is not None:
        names = [n for n in names if natural_key(n) > natural_key(after)]
    return [str(d / n) for n in names]


@dataclass
class Watermark:
    """Persisted last-processed-file state (S5).

    advance() only after the downstream write commits — at-least-once,
    matching the reference's advance-after-commit / rollback-on-failure
    contract."""

    path: str | Path

    def read(self) -> str | None:
        p = Path(self.path)
        if not p.exists():
            return None
        return json.loads(p.read_text()).get("last_file")

    def advance(self, filename: str) -> None:
        p = Path(self.path)
        p.parent.mkdir(parents=True, exist_ok=True)
        commit.replace_atomically(
            str(p),
            json.dumps({"last_file": os.path.basename(filename)}).encode(),
        )

    def rollback(self, filename: str | None) -> None:
        """Restore the session-start value (reference: rollback to the
        file recorded when the run began on DB failure, KTD:742-745)."""
        if filename is None:
            Path(self.path).unlink(missing_ok=True)
        else:
            self.advance(filename)


def read_ndjson_incremental(
    spark: SparkSession,
    directory: str | Path,
    watermark: Watermark,
    schema=None,
) -> tuple[DataFrame | None, list[str]]:
    """Read all not-yet-processed NDJSON files as one DataFrame.

    Returns (df, files). df is None when nothing is new. The caller
    advances the watermark after its sink commit. ``input_file_name``
    is attached so per-file bookkeeping (counts, quarantine) stays
    possible inside the single scan.
    """
    files = discover_files(directory, after=watermark.read())
    if not files:
        return None, []
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(files).withColumn("_source_file", F.input_file_name())
    return df, files
