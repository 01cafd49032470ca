"""Malformed-JSON repair (SURVEY.md S3/F11).

The reference repairs Kissmetrics export lines whose string values
contain unescaped quotes/backslashes before json_decode, and logs &
skips rows that still fail (reference: helpers.php:10-22
``json_decode_sanitize``; failure paths KissmetricsToDatabase.php:
197-199, ProcessFile.php:34-36).

Spark restatement, one projection over the raw lines, all built-in
column expressions (no UDF):
1. every line is parsed once with ``from_json`` (PERMISSIVE, with a
   corrupt-record field so "failed to parse" is distinguishable from
   "parsed to all NULLs");
2. only a line whose first parse failed reaches the repair: the
   ``regexp_replace`` pass (Java regex supports the lookarounds it
   needs) and the second ``from_json`` sit under a ``CASE WHEN``, so
   clean lines never pay for them;
3. lines that still fail are flagged ``quarantined`` — counted and
   kept aside, never dropped silently.

The flagged projection sits below a ``CollectMetrics`` node (an
``observe``) that counts repaired and quarantined lines in the same
pass. The node also keeps Catalyst from pushing the good/quarantined
filters below the projection, which would copy ``from_json`` into the
filter and parse every clean line twice.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

# A quote is "inner" (needs escaping) when it is not already escaped
# and not in a JSON-structural position: not in opening position
# (right after {, [, ',' or ':', allowing spaces) and not in closing
# position (right before }, ], ',' or ':', allowing spaces). This is
# the same bracketing the reference's callback regex uses — it treats
# `"(}|, |,)` as the value terminator and addslashes everything
# inside (helpers.php:12-18). Bounded lookbehind is Java-regex legal;
# DuckDB's RE2 lacks lookbehind, but the oracle replays the identical
# semantics with ANCHORED matches on each quote's prefix/suffix
# substrings (catalog_ext.corrupt_json_repair — hash-exact).
_INNER_QUOTE = r'(?<!\\)(?<![{\[,:] {0,8})"(?!\s*[}\],:])'


def repair_json_col(col: Column) -> Column:
    """Escape unescaped inner quotes so the value parses."""
    return F.regexp_replace(col, _INNER_QUOTE, '\\\\"')


def read_ndjson_with_repair(
    spark, path_or_df, schema: T.StructType | None = None, sample_n: int = 10_000
) -> tuple[DataFrame, DataFrame]:
    """Read NDJSON with a repair pass for corrupt rows.

    Returns ``(good, quarantined)``: ``good`` has parsed rows (clean +
    successfully repaired, flagged by ``was_repaired``); ``quarantined``
    holds the raw lines that still fail. Pass a DataFrame of lines
    (column ``value``) or a path.

    Schema inference cost model (VERDICT r01 'What's wrong' #2 — no
    unbounded Python pass anywhere):
    - path input: Spark's native JSON inference scans the files once
      entirely JVM-side (same contract as the reference's two-pass
      scan, KTD:155-226);
    - DataFrame input: inference reads a BOUNDED ``sample_n``-line
      sample (one ``limit`` job). Corpora whose dynamic keys appear
      only past the sample should pass ``schema`` explicitly — the
      schema_evolution module's union-schema op computes it.
    """
    # a unique name: two calls' results may meet in one plan, and
    # Spark rejects two different observations under one name
    return _parse_observed(
        spark, path_or_df, f"json_repair_{uuid.uuid4().hex}", schema, sample_n
    )


def _parse_observed(
    spark,
    path_or_df,
    observation: Observation | str,
    schema: T.StructType | None = None,
    sample_n: int = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """The single parse behind :func:`read_ndjson_with_repair` and the
    pipeline: ``(good, quarantined)`` as documented there, where the
    shared flagged projection is observed as ``observation`` with two
    metrics, ``n_repaired`` and ``n_quarantined``.

    The metrics fill on the first action that runs the projection,
    so a caller that materializes ``good`` once gets both counts
    without scanning the input again.
    """
    is_df = isinstance(path_or_df, DataFrame)
    lines = path_or_df if is_df else spark.read.text(str(path_or_df))
    lines = lines.filter(F.length(F.trim(F.col("value"))) > 0)
    if schema is None:
        if is_df:
            sampled = [r[0] for r in lines.select("value").limit(sample_n).collect()]
            inferred = spark.read.json(
                spark.sparkContext.parallelize(sampled or ["{}"])
            ).schema
        else:
            # full-fidelity native inference, zero Python round-trips
            inferred = spark.read.json(str(path_or_df)).schema
        schema = T.StructType(
            [f for f in inferred.fields if f.name != CORRUPT_COL]
        )

    # Parse with an explicit corrupt-record field so "failed to
    # parse" is distinguishable from "parsed to all NULLs" (a valid
    # row like {} or {"a": null} must NOT be quarantined).
    aug = T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}

    def parsed_ok(c: str) -> Column:
        return F.col(c).isNotNull() & F.col(f"{c}.{CORRUPT_COL}").isNull()

    # Each step references the previous step's struct more than once;
    # Catalyst does not inline a non-cheap expression into several
    # uses, so from_json stays one evaluation per line.
    first = lines.select("value", F.from_json("value", aug, opts).alias("first"))
    ok = parsed_ok("first")
    both = first.select(
        "value",
        "first",
        F.when(~ok, F.from_json(repair_json_col(F.col("value")), aug, opts)).alias(
            "second"
        ),
    )
    ok_rep = parsed_ok("second")
    flagged = both.select(
        "value",
        F.when(ok, F.col("first")).otherwise(F.col("second")).alias("row"),
        (~ok & ok_rep).alias("was_repaired"),
        (~ok & ~ok_rep).alias("quarantined"),
    ).observe(
        observation,
        F.count_if("was_repaired").alias("n_repaired"),
        F.count_if("quarantined").alias("n_quarantined"),
    )

    good = (
        flagged.where(~F.col("quarantined"))
        .select("row.*", "was_repaired")
        .drop(CORRUPT_COL)
    )
    quarantined = flagged.where(F.col("quarantined")).select("value")
    return good, quarantined
