"""ingest_drain: a closed-loop catch-up drain of a seeded JSON-lines
backlog through ``run_pipeline(streaming=True)``.

Seven jsonl sources (three vendors x two tenants plus a blank-tenant
source), dead-letter sink on, the default foreachBatch tenant-partitioned
parquet sink, availableNow, and ``maxFilesPerTrigger`` = 1 so each drain is
``FILES`` micro-batches.  Every pass drains the whole backlog into fresh
output and checkpoint directories and is checked exactly against the
generator's counts.
"""

from __future__ import annotations

import os
import shutil
import time

import common
import gen_ingest
from pulsar_ingestion_spark.operators.filterer import extract_tenant, filter_routable
from pulsar_ingestion_spark.operators.translators import cmf_to_json, union_cmf
from pulsar_ingestion_spark.plans.pipeline import (
    TRANSLATORS, PipelineSpec, SourceSpec, run_pipeline,
)
from pulsar_ingestion_spark.sources.registry import open_source

MIN_PASSES = 3      # the first timed drain still runs slower; the median leaves it out
FILES = 3            # files per source = micro-batches per drain
ROWS_PER_FILE = 600
WARMUP_ROWS = 100
MAX_FILES_PER_TRIGGER = 1


def make_inputs(run) -> None:
    base = os.path.join(run.work, "backlog")
    warm = os.path.join(run.work, "backlog-warmup")
    run.inputs = {"base": base, "expected": gen_ingest.generate(base, run.seed, FILES, ROWS_PER_FILE),
                  "warmup": (warm, gen_ingest.generate(warm, run.seed + 1, 1, WARMUP_ROWS))}


def prepare(run) -> None:
    pass  # nothing beyond the session: run_pipeline builds the plan per drain


def _spec(base: str, pass_dir: str) -> PipelineSpec:
    sources = [
        SourceSpec(kind="jsonl", translator=kind, tenant=tenant,
                   options={"path": gen_ingest.source_dir(base, i),
                            "maxFilesPerTrigger": MAX_FILES_PER_TRIGGER})
        for i, (kind, tenant) in enumerate(gen_ingest.SOURCES)
    ]
    return PipelineSpec(sources=sources, output_path=os.path.join(pass_dir, "out"),
                        checkpoint=os.path.join(pass_dir, "ckpt"),
                        dead_letter_path=os.path.join(pass_dir, "dead"))


def _batches(query) -> list[dict]:
    return [{"id": p.batchId, "rows": p.numInputRows, **p.durationMs}
            for p in query.recentProgress if p.numInputRows > 0]


def drain(run, tag: str, backlog: tuple[str, dict] | None = None) -> dict:
    """One drain, from run_pipeline() until both queries terminate, then
    the exact check (outside the timed region)."""
    spark, tr = run.spark, run.tracer
    pass_dir = common.fresh_dir(os.path.join(run.work, f"drain-{tag}"))
    base, exp = backlog or (run.inputs["base"], run.inputs["expected"])
    spec = _spec(base, pass_dir)
    t0 = time.perf_counter()
    with tr.span("run_pipeline", tag):
        handle = run_pipeline(spark, spec, streaming=True)
    with tr.span("drain", tag):
        handle.awaitTermination()
    wall = time.perf_counter() - t0
    main, dead = _batches(handle.main), _batches(handle.dead_letter)
    rec = {"pass_s": wall, "batches": main, "dead_batches": dead, "dir": pass_dir}
    if tr.enabled:
        rec["jobs"], rec["tasks"] = common.group_counts(spark, str(handle.main.runId))
    rec["check"] = check(run, spec, main, exp)
    return rec


def check(run, spec: PipelineSpec, batches: list[dict], exp: dict) -> dict:
    """in = routed + dead-lettered + unroutable, per-tenant routed counts
    and per-vendor dead-letter counts, all exact."""
    spark = run.spark
    rows_in = sum(b["rows"] for b in batches)
    routed = {r["tenantId"]: r["count"] for r in
              spark.read.parquet(spec.output_path).groupBy("tenantId").count().collect()}
    dead = {r["translator"]: r["count"] for r in
            spark.read.parquet(spec.dead_letter_path).groupBy("translator").count().collect()}
    n_routed, n_dead = sum(routed.values()), sum(dead.values())
    got = {"rows_in": rows_in, "routed": routed, "dead_by_vendor": dead,
           "unroutable": rows_in - n_routed - n_dead}
    want = {k: exp[k] for k in got}
    return {"ok": got == want, "got": got, "want": want, "routed": n_routed, "dead": n_dead,
            "bytes_out": common.dir_bytes(spec.output_path, ".parquet")}


def warmup(run) -> None:
    # one checked drain of a one-file backlog: the cold start of the
    # streaming engine (query start, codegen, the foreachBatch callback)
    # is paid here, at a fraction of a full drain's cost
    rec = drain(run, "warmup", run.inputs["warmup"])
    run.op(rec["check"]["ok"], f"ingest warm-up drain: {rec['check']}", len(rec["batches"]))


def one_pass(run, k: int) -> dict:
    tag = f"{'t' if run.tracer.enabled else 'u'}{k}"
    rec = drain(run, tag)  # a drain that raises ends the run without a result
    run.op(rec["check"]["ok"], f"ingest drain {tag}: {rec['check']}", len(rec["batches"]))
    shutil.rmtree(rec.pop("dir"), ignore_errors=True)
    return rec


def finish(run, passes) -> None:
    pass


def end_to_end(run, passes) -> dict:
    batches = [b for p in passes for b in p["batches"]]
    trig = [b["triggerExecution"] for b in batches]
    rows = run.inputs["expected"]["rows_in"]
    pass_s = common.median([p["pass_s"] for p in passes])
    run.report("ingest_rows_per_s", rows / pass_s, "1/s", len(passes))
    run.report("ingest_batch_p50_ms", common.median(trig), "ms", len(trig))
    run.report("ingest_batch_p90_ms", common.percentile(trig, 0.9), "ms", len(trig))
    return {
        "pass_s": pass_s,
        "op_ms": common.median(trig),
        "overhead_ms": common.median([b["triggerExecution"] - b["addBatch"] for b in batches]),
        "work_ms": common.median([b["addBatch"] for b in batches]),
        "batch_ms": common.median([b["triggerExecution"] for p in passes for b in p["batches"][1:]]),
        "first_batch_ms": common.median([p["batches"][0]["triggerExecution"] for p in passes]),
    }


def _batch_layers(run) -> dict:
    """Batch-mode time of the ingest path over the same backlog, cut after
    each layer: each stage is noop-written (all columns forced), three
    times, and its median is reported.  The stages are cumulative (a stage
    runs every layer before it), so a layer's own cost shows as the step
    from the previous stage; the steps are not reported, because separately
    planned stages need not cost more than the ones before them.  The sink
    stage is the real partitioned parquet write."""
    spark = run.spark
    exp_dir = os.path.join(run.work, "batch-sink")

    def stages():
        raws, goods = [], []
        for i, (kind, tenant) in enumerate(gen_ingest.SOURCES):
            raw = open_source(spark, "jsonl", streaming=False,
                              path=gen_ingest.source_dir(run.inputs["base"], i)).select("value")
            raws.append(raw)
            good, _dead = TRANSLATORS[kind](raw, tenant=tenant, dead_letter=True)
            goods.append(good.select("cmf"))
        src = raws[0]
        for r in raws[1:]:
            src = src.unionByName(r)
        cmf = union_cmf(*goods)
        wire = cmf_to_json(cmf, out_col="value").select("value")
        routed = filter_routable(extract_tenant(wire)).select("tenantId", "value")
        return [("source", src), ("translate", cmf), ("serialize", wire), ("route", routed)], routed

    times: dict[str, list[float]] = {}
    for rep in range(3):
        staged, routed = stages()
        for name, df in staged:
            t0 = time.perf_counter()
            with run.tracer.span(f"batch.{name}", f"b{rep}"):
                df.write.format("noop").mode("overwrite").save()
            times.setdefault(name, []).append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with run.tracer.span("batch.sink", f"b{rep}"):
            routed.write.mode("overwrite").partitionBy("tenantId").parquet(exp_dir)
        times.setdefault("sink", []).append(time.perf_counter() - t0)
    med = {k: common.median(v) for k, v in times.items()}
    return {"ingest.source_s": med["source"], "ingest.stage_translate_s": med["translate"],
            "ingest.stage_serialize_s": med["serialize"], "ingest.stage_route_s": med["route"],
            "ingest.stage_sink_s": med["sink"]}


def per_layer(run, traced) -> None:
    batches = [b for p in traced for b in p["batches"]]
    n_batches = max(1, len(batches))
    last = traced[-1]["check"]
    exp = run.inputs["expected"]
    run.layers.update({
        "ingest.offsets_ms": common.median([b.get("latestOffset", 0) + b.get("getBatch", 0) for b in batches]),
        "ingest.planning_ms": common.median([b.get("queryPlanning", 0) for b in batches]),
        "ingest.add_batch_ms": common.median([b["addBatch"] for b in batches]),
        "ingest.commit_ms": common.median([b.get("walCommit", 0) + b.get("commitOffsets", 0) for b in batches]),
        "ingest.dead_batch_ms": common.median([b["triggerExecution"] for p in traced for b in p["dead_batches"]]),
        "ingest.jobs_per_batch": sum(p["jobs"] for p in traced) / n_batches,
        "ingest.tasks_per_batch": sum(p["tasks"] for p in traced) / n_batches,
        "ingest.rows_in": last["got"]["rows_in"],
        "ingest.rows_dead": last["dead"],
        "ingest.rows_unroutable": last["got"]["unroutable"],
        "ingest.rows_routed": last["routed"],
        "ingest.useful_ratio": last["routed"] / max(1, last["got"]["rows_in"]),
        "ingest.bytes_written_per_byte_in": last["bytes_out"] / exp["bytes_in"],
    })
    # the per-layer batch-mode split and the single-core baseline run on
    # fresh sessions (the event-log session is already stopped)
    run.spark, _, _ = common.restart_session(run.spark)
    run.layers.update(_batch_layers(run))
    run.spark, _, _ = common.restart_session(run.spark, cores=1)
    rec = drain(run, "local1")
    run.op(rec["check"]["ok"], f"ingest local[1] drain: {rec['check']}", len(rec["batches"]))
    run.layers["ingest.local1_rows_per_s"] = exp["rows_in"] / rec["pass_s"]
