"""The ``query_mix`` workload: catalog queries over the cached sf0.1
tables, each run to the noop sink, in seed-shuffled rounds.

Set-up builds the table cache and makes every query's first call, so
planning, code generation, fixtures and memos are paid before timing
(and reported as ``plans.first_over_steady``). That first call collects
the result and checks it against the query's DuckDB oracle with the
comparison ``tools/oracle_check.py`` uses. The run then measures
rounds. A round calls every query once, in seed-shuffled order, and is
one op: the refresh of a dashboard built on the whole mix. A round
with a call that raised, or with a query that failed its check, counts
as failed and is not timed.

Selection (see NOTES.md): only queries whose steady call does the
full work. Queries whose second call is served by a process memo are
left out, because their steady time would time a cache hit.
"""

from __future__ import annotations

import random
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from spans import StageTotals, spark_layer
from stats import median

from kissmetrics_to_database_spark.plans import catalog
from kissmetrics_to_database_spark.session import TABLES, cache_tables

CLASSES = {
    "olap": ["tpch_q9_product_profit"],
    "events": ["sessionization"],
    "corpus": ["audio_mfcc"],
    "lakehouse": ["delta_time_travel"],
}
# Untraced rounds every run measures at least, and traced rounds a
# traced run adds.
MIN_ROUNDS = 3
MIN_TRACED_ROUNDS = 2
QUERY_CLASS = {q: c for c, qs in CLASSES.items() for q in qs}


def _call(spark, sf_dir: str, name: str) -> None:
    catalog.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def first_call(ctx, con, name: str) -> tuple[float, int, list[str]]:
    """The query's first call, collected and compared with its DuckDB
    oracle as ``tools/oracle_check.py`` does. Returns the Spark time,
    the result's row count and the problems found; the oracle's time
    is check time, not set-up."""
    from tools.oracle_check import compare

    t0 = time.perf_counter()
    sdf = catalog.QUERIES[name](ctx.spark, ctx.sf_dir).toPandas()
    t1 = time.perf_counter()
    rel = con.sql(catalog.ORACLES[name])
    types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    problems = compare(name, sdf, rel.df(), types)
    ctx.check_s += time.perf_counter() - t1
    return t1 - t0, len(sdf), problems


def run(ctx) -> dict:
    import duckdb

    ctx.start_spark()
    spark, tracer, sf = ctx.spark, ctx.tracer, ctx.sf_dir
    with ctx.setup_phase("session.cache_tables_s"):
        cache_tables(spark, sf)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    names = list(QUERY_CLASS)
    rng = random.Random(ctx.seed)
    first: dict[str, float] = {}
    rows: dict[str, int] = {}
    bad: set[str] = set()
    for q in rng.sample(names, len(names)):
        try:
            first[q], rows[q], problems = first_call(ctx, con, q)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if problems:
            bad.add(q)
            ctx.fail(f"oracle check of {q}", "; ".join(problems))
    con.close()
    ctx.setup_done()

    rounds: list[Round] = []
    while True:
        plain = [r for r in rounds if not r.traced]
        enough = len(plain) >= MIN_ROUNDS and len(rounds) - len(plain) >= (
            MIN_TRACED_ROUNDS if ctx.trace else 0)
        if (enough and sum(r.seconds for r in plain) >= ctx.seconds) or ctx.out_of_time():
            break
        rounds.append(one_round(ctx, len(rounds), rng.sample(names, len(names)), bad))

    ok = [r for r in rounds if r.ok]
    plain = [r for r in ok if not r.traced]
    out = {
        "attempted": len(rounds),
        "failed": len(rounds) - len(ok),
        "op_s": [r.seconds for r in plain],
        "rows_per_s": median([sum(rows.values()) / r.seconds for r in plain])
        if plain else None,
        "layer": {"session.cache_tables_s": ctx.phases["session.cache_tables_s"]},
    }
    traced = [r for r in ok if r.traced]
    if not (ctx.trace and traced and plain):
        return out
    calls = [c for r in traced for c in r.calls]
    steady = {q: median([r.calls_by_query[q] for r in plain]) for q in names}
    untraced_s = median([r.seconds for r in plain])
    L = out["layer"]
    for cls, qs in CLASSES.items():
        L[f"plans.{cls}.busy_s"] = median([c.seconds for c in calls if c.query in qs])
    L["plans.first_over_steady"] = median([first[q] / steady[q] for q in names])
    L["plans.jobs_per_call"] = median([c.stages.jobs for c in calls])
    L["trace.overhead"] = median([r.seconds for r in traced]) / untraced_s - 1.0
    L["trace.coverage"] = median([
        sum(s.seconds for s in tracer.spans
            if s.parent == "op" and s.op.startswith(f"r{r.index}-"))
        for r in traced]) / untraced_s
    L.update(spark_layer(ctx.cores, [(c.seconds, c.stages) for c in calls]))
    return out


def one_round(ctx, index: int, order: list[str], bad: set[str]) -> Round:
    """Every query once, in ``order``. A round is one op: the refresh
    of a dashboard built on the whole mix."""
    traced = ctx.trace and index % 4 in (1, 2)  # U T T U ..., as in ingest
    r = Round(index, traced)
    t_round = time.perf_counter()
    for q in order:
        c = Call(q)
        op_id = f"r{index}-{q}"
        t0 = time.perf_counter()
        with ctx.tracer.op(op_id) if traced else nullcontext() as c.stages:
            try:
                with ctx.tracer.span("plans." + QUERY_CLASS[q]) if traced else nullcontext():
                    _call(ctx.spark, ctx.sf_dir, q)
                c.seconds = time.perf_counter() - t0
            except Exception:
                ctx.fail(op_id, traceback.format_exc(limit=3))
        r.ok = r.ok and c.seconds is not None and q not in bad
        r.calls.append(c)
    r.seconds = time.perf_counter() - t_round
    return r


@dataclass
class Call:
    """One query call; ``seconds`` is None when it raised."""

    query: str
    seconds: float | None = None
    stages: StageTotals | None = None


@dataclass
class Round:
    index: int
    traced: bool
    ok: bool = True
    seconds: float = 0.0
    calls: list[Call] = field(default_factory=list)

    @property
    def calls_by_query(self) -> dict[str, float]:
        return {c.query: c.seconds for c in self.calls}
