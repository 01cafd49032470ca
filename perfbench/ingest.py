"""The two ingest workloads: ``ingest_backlog`` and ``ingest_trickle``.

Untraced ops call ``pipeline.run_incremental`` exactly as a user
would. Traced ops replay one run through the same public calls, with
the same arguments, that ``pipeline._run_locked`` makes, but with one
action per phase so that each phase's work runs inside its own span.

Every op is checked against the generator's expectation: committed,
repaired and quarantined counts, the lake's read-back row count, the
exact identity map, the watermark, and that a follow-up run with no
new files writes nothing. A failed op is counted, never timed.
"""

from __future__ import annotations

import shutil
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

import gen
from stats import median
from spans import StageTotals, spark_layer

from kissmetrics_to_database_spark import pipeline
from kissmetrics_to_database_spark.functions import events_transform
from kissmetrics_to_database_spark.operators import identity
from kissmetrics_to_database_spark.sources import ndjson
from kissmetrics_to_database_spark.sources.json_repair import read_ndjson_with_repair
from kissmetrics_to_database_spark.sources.lock import PipelineLock

# An ingest run measures at least this many ops of each kind it makes.
MIN_OPS = {"ingest_backlog": 2, "ingest_trickle": 3}


@dataclass
class Op:
    """What one measured op did, and whether it was right."""

    wall_s: float
    traced: bool
    ok: bool
    rows: int = 0
    input_bytes: int = 0
    lake_bytes_added: int = 0
    files_listed: int = 0
    repaired: int = 0
    quarantined: int = 0
    lines: int = 0
    members: int = 0
    lake_files_added: int = 0
    map_bytes: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    stages: StageTotals | None = None


@dataclass
class Target:
    """One source/state/lake triple and what a correct load leaves in it."""

    src: Path
    state: Path
    lake: Path
    rows_in_lake: int = 0


def _tree(path: Path) -> dict[str, int]:
    """Relative path -> size of every file under ``path``."""
    if not path.exists():
        return {}
    return {
        str(p.relative_to(path)): p.stat().st_size
        for p in path.rglob("*")
        if p.is_file()
    }


def _parquet_bytes(path: Path) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    sizes = [s for n, s in _tree(path).items() if n.endswith(".parquet")]
    return len(sizes), sum(sizes)


def replay(spark, tracer, src: str, state: str, lake: str) -> dict:
    """One traced run: ``_run_locked``'s calls, one action per phase.

    Returns the same counts ``PipelineResult`` carries, plus the bytes
    of identity map it wrote (staging and published copies).
    """
    with PipelineLock(Path(state) / "run.lock"):
        with tracer.span("ndjson.discover"):
            wm = ndjson.Watermark(Path(state) / "watermark.json")
            session_start = wm.read()
            files = ndjson.discover_files(src, after=session_start)
        if not files:
            return {"files": []}
        with tracer.span("json_repair.infer"):
            lines = spark.read.text(files)
            good, quarantined = read_ndjson_with_repair(spark, lines)
        with tracer.span("json_repair.parse"):
            good = good.persist()
            good.count()
        with tracer.span("events_transform"):
            transformed = events_transform.transform_events(
                good.drop("was_repaired"), fixed_date=None
            ).persist()
            n_rows = transformed.count()
        with tracer.span("json_repair.count"):
            n_repaired = good.where(F.col("was_repaired")).count()
            n_quarantined = quarantined.count()
        out = {"files": files, "n_rows": n_rows, "n_repaired": n_repaired,
               "n_quarantined": n_quarantined, "n_members": 0,
               "map_bytes": 0}
        try:
            with tracer.span("lake.write"):
                transformed.write.mode("append").parquet(str(Path(lake) / "events"))
            if "_p" in transformed.columns:
                comp_path = Path(lake) / "identity_components"
                fresh = not comp_path.exists()
                name = "identity.cc" if fresh else "identity.update"
                tmp = str(comp_path) + ".staging"
                with tracer.span(name):
                    edges = identity.alias_edges_kissmetrics(transformed)
                    if fresh:
                        comp = identity.connected_components(edges)
                    else:
                        existing = spark.read.parquet(str(comp_path))
                        comp = identity.update_components(existing, edges)
                    comp.write.mode("overwrite").parquet(tmp)
                staging_bytes = _parquet_bytes(Path(tmp))[1]
                with tracer.span(name + ".publish"):
                    staged = spark.read.parquet(tmp)
                    out["n_members"] = staged.count()
                    staged.write.mode("overwrite").parquet(str(comp_path))
                    shutil.rmtree(tmp, ignore_errors=True)
                out["map_bytes"] = staging_bytes + _parquet_bytes(comp_path)[1]
            with tracer.span("ndjson.watermark"):
                wm.advance(files[-1])
        except Exception:
            wm.rollback(session_start)
            raise
        finally:
            transformed.unpersist()
            good.unpersist()
    return out


def check(ctx, t: Target, result: dict, batch: list[gen.FileSpec],
          mapping: dict[str, str]) -> list[str]:
    """Problems with one finished op; empty when it was right."""
    spark = ctx.spark
    problems = []
    want = {
        "files": [f.name for f in batch],
        "n_rows": sum(f.committed for f in batch),
        "n_repaired": sum(f.repaired for f in batch),
        "n_quarantined": sum(f.quarantined for f in batch),
        "n_members": len(mapping),
    }
    got = dict(result, files=[Path(f).name for f in result["files"]])
    for k, v in want.items():
        if got.get(k) != v:
            problems.append(f"{k}: got {got.get(k)!r}, want {v!r}")
    lake = pipeline.read_events_lake(spark, str(t.lake))
    lake_rows = lake.count()
    # Reported, not failed: the pipeline infers its schema from a
    # bounded sample, so keys first seen later are not loaded.
    written = {events_transform.sanitize_key(k) for f in batch for k in f.keys}
    ctx.missing_keys |= written - set(lake.columns)
    if lake_rows != t.rows_in_lake + want["n_rows"]:
        problems.append(f"lake rows {lake_rows}, want {t.rows_in_lake + want['n_rows']}")
    comp = spark.read.parquet(str(t.lake / "identity_components")).collect()
    got_map = {r["member"]: r["component_id"] for r in comp}
    if len(comp) != len(got_map) or got_map != mapping:
        diff = set(got_map.items()) ^ set(mapping.items())
        problems.append(f"identity map differs in {len(diff)} entries "
                        f"({len(comp)} rows vs {len(mapping)} expected)")
    wm = ndjson.Watermark(t.state / "watermark.json").read()
    if wm != batch[-1].name:
        problems.append(f"watermark {wm!r}, want {batch[-1].name!r}")
    before = _tree(t.lake)
    again = pipeline.run_incremental(spark, str(t.src), str(t.state), str(t.lake))
    if again.files or _tree(t.lake) != before:
        problems.append("follow-up run with no new files wrote something")
    return problems


def run_op(ctx, t: Target, batch: list[gen.FileSpec], mapping: dict[str, str],
           traced: bool, op_id: str) -> Op:
    """Time one load of ``batch`` into ``t``, then check it."""
    spark, tracer = ctx.spark, ctx.tracer
    files_listed = sum(1 for _ in t.src.iterdir())
    lake_before = _parquet_bytes(t.lake / "events")
    t0 = time.perf_counter()
    try:
        if traced:
            with tracer.op(op_id) as stages:
                result = replay(spark, tracer, str(t.src), str(t.state), str(t.lake))
        else:
            stages = None
            r = pipeline.run_incremental(spark, str(t.src), str(t.state), str(t.lake))
            result = {"files": r.files, "n_rows": r.n_rows, "n_repaired": r.n_repaired,
                      "n_quarantined": r.n_quarantined, "n_members": r.n_identity_members}
        wall = time.perf_counter() - t0
        problems = check(ctx, t, result, batch, mapping)
        ctx.check_s += time.perf_counter() - t0 - wall
    except Exception:
        wall, stages = time.perf_counter() - t0, None
        problems = [traceback.format_exc(limit=3)]
    lake_after = _parquet_bytes(t.lake / "events")
    op = Op(wall_s=wall, traced=traced, ok=not problems, stages=stages,
            files_listed=files_listed)
    if problems:
        ctx.fail(op_id, "; ".join(problems))
        return op
    t.rows_in_lake += result["n_rows"]
    op.rows = result["n_rows"]
    op.input_bytes = sum(len(f.data) for f in batch)
    op.lake_bytes_added = lake_after[1] - lake_before[1]
    op.lake_files_added = lake_after[0] - lake_before[0]
    op.lines = sum(f.lines for f in batch)
    op.repaired, op.quarantined = result["n_repaired"], result["n_quarantined"]
    op.members = result["n_members"]
    if traced:
        op.layers = tracer.layer_seconds(op_id)
        op.map_bytes = result["map_bytes"]
    return op


def _fresh(root: Path, src: Path, name: str) -> Target:
    for d in ("state", "lake"):
        shutil.rmtree(root / name / d, ignore_errors=True)
    return Target(src=src, state=root / name / "state", lake=root / name / "lake")


def _measure(ctx, make_op, min_ops: int) -> list[Op]:
    """Ops until ``ctx.seconds`` of op time and ``min_ops`` of each
    kind. The traced run interleaves untraced (U) and traced (T) ops as
    U T T U U T T U ..., so a drift in op time during the run weighs on
    both kinds alike."""
    ops: list[Op] = []
    while True:
        kinds = [o.traced for o in ops]
        enough_time = sum(o.wall_s for o in ops) >= ctx.seconds
        enough_ops = kinds.count(False) >= min_ops and (
            not ctx.trace or kinds.count(True) >= min_ops
        )
        if (enough_time and enough_ops) or ctx.out_of_time():
            return ops
        traced = ctx.trace and len(ops) % 4 in (1, 2)
        ops.append(make_op(len(ops), traced))


def backlog(ctx) -> dict:
    """Each op loads the whole backlog into a fresh state and lake."""
    src = ctx.tmp / "src"
    with ctx.generating():
        g = ctx.generator()
        files = g.backlog()
        mapping = g.uf.mapping()
        gen.write_files(files, src)
    ctx.start_spark()
    # A smaller warm-up leaves the first full op still compiling: it
    # then runs about 1.5x slower than the ops after it.
    with ctx.setup_phase("warmup"):
        w = _fresh(ctx.tmp, src, "warm")
        pipeline.run_incremental(ctx.spark, str(w.src), str(w.state), str(w.lake))

    def make_op(i: int, traced: bool) -> Op:
        t = _fresh(ctx.tmp, src, "op")
        return run_op(ctx, t, files, mapping, traced, f"backlog-{i}")

    ctx.setup_done()
    ops = _measure(ctx, make_op, MIN_OPS["ingest_backlog"])
    return summarize(ctx, ops, "identity.cc")


def trickle(ctx) -> dict:
    """Set-up preloads the backlog; each op adds one new small file."""
    src = ctx.tmp / "src"
    with ctx.generating():
        g = ctx.generator()
        files = g.backlog()
        gen.write_files(files, src)
    ctx.start_spark()
    t = _fresh(ctx.tmp, src, "lake")
    with ctx.setup_phase("preload"):
        pre = run_op(ctx, t, files, g.uf.mapping(), False, "preload")
    if not pre.ok:
        raise RuntimeError("trickle preload failed its checks")

    def make_op(i: int, traced: bool) -> Op:
        f = g.trickle()
        gen.write_files([f], src)
        return run_op(ctx, t, [f], g.uf.mapping(), traced, f"trickle-{i}")

    ctx.setup_done()
    ops = _measure(ctx, make_op, MIN_OPS["ingest_trickle"])
    return summarize(ctx, ops, "identity.update")


def summarize(ctx, ops: list[Op], identity_span: str) -> dict:
    """End-to-end figures from untraced ops; per-layer from traced."""
    ok = [o for o in ops if o.ok]
    plain = [o for o in ok if not o.traced]
    out = {
        "attempted": len(ops),
        "failed": len(ops) - len(ok),
        "op_s": [o.wall_s for o in plain],
        "rows_per_s": median([o.rows / o.wall_s for o in plain]) if plain else None,
        "layer": {},
    }
    traced = [o for o in ok if o.traced]
    if not (ctx.trace and traced and plain):
        return out
    untraced_s = median([o.wall_s for o in plain])

    def med(f) -> float:
        return median([f(o) for o in traced])

    def layer(o: Op, prefix: str) -> float:
        return sum(v for k, v in o.layers.items() if k.startswith(prefix))

    covered = med(lambda o: sum(o.layers.values()))
    L = {
        "ndjson.discover_s": med(lambda o: o.layers.get("ndjson.discover", 0.0)),
        "ndjson.files_listed": med(lambda o: o.files_listed),
        "json_repair.busy_s": med(lambda o: layer(o, "json_repair.")),
        "json_repair.infer_s": med(lambda o: o.layers.get("json_repair.infer", 0.0)),
        "json_repair.repair_yield": med(lambda o: o.repaired / o.lines),
        "json_repair.quarantined": med(lambda o: o.quarantined),
        "events_transform.busy_s": med(lambda o: o.layers.get("events_transform", 0.0)),
        "lake.write_s": med(lambda o: o.layers.get("lake.write", 0.0)),
        "lake.files_written": med(lambda o: o.lake_files_added),
        "lake.bytes_written": med(lambda o: o.lake_bytes_added),
        "lake.bytes_per_input_byte": med(lambda o: o.lake_bytes_added / o.input_bytes),
        identity_span + "_s": med(lambda o: layer(o, identity_span)),
        "identity.members": med(lambda o: o.members),
        "identity.map_bytes_rewritten": med(lambda o: o.map_bytes),
        "pipeline.jobs_per_op": med(lambda o: o.stages.jobs),
        "pipeline.self_s": untraced_s - covered,
        "trace.overhead": med(lambda o: o.wall_s) / untraced_s - 1.0,
        "trace.coverage": covered / untraced_s,
    }
    L.update(spark_layer(ctx.cores, [(o.wall_s, o.stages) for o in traced]))
    out["layer"] = L
    return out
