"""query_mix: one client in a closed loop.  Each round runs a fixed list
of registry queries serially on seeded tables, then feeds the next
micro-batch cut to the 15 ``streaming/`` maintainers (``maintainers.py``).

Every query is built fresh each time and executed with the ``noop``
writer, which forces every output column (``count()`` would let Catalyst
prune projected columns).  The ids come in two classes, fixed in
``metrics.QUERY_CLASSES``.  Outputs are checked once per run, before the
timed rounds, against each id's DuckDB oracle with the same comparison
``tools/selfcheck.py`` applies; the maintainers' state once per run, after
them.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import __spark_entry__ as entry
import common
import gen_tables
import maintainers
from metrics import QUERY_CLASSES
from tools.selfcheck import compare

from pulsar_ingestion_spark.session import load_tables, tables_dir

# a round is one query pass plus one micro-batch through the maintainers;
# the cuts are fed in order, so a run takes at least one full set of them
MIN_PASSES = maintainers.N_BATCHES
# Table scale per class.  The overhead ids run on small tables, where plan
# build and job scheduling dominate; the work ids on tables five times
# larger, where executor task time is most of their wall time (NOTES.md).
SCALES = {"overhead": 0.01, "work": 0.05}
IDS = [(cls, q) for cls, ids in QUERY_CLASSES.items() for q in ids]


def make_inputs(run) -> None:
    run.inputs = {"dir": {}}
    for cls, scale in SCALES.items():
        d = run.inputs["dir"][cls] = os.path.join(run.work, f"tables-{cls}")
        gen_tables.generate(d, run.seed, scale)


def prepare(run) -> None:
    run.state = run.state or {"bad": set()}
    for d in run.inputs["dir"].values():
        load_tables(run.spark, d)  # parquet footers, memoized per session
    maintainers.prepare(run, run.inputs["dir"]["overhead"])


def warmup(run) -> None:
    """The correctness pass: every id collected and compared with its
    oracle.  An id that fails here fails every timed run of it too.  Then
    the maintainers' single-batch reference run."""
    spark, dirs = run.spark, run.inputs["dir"]
    queries, oracles = entry.queries(), entry.oracle_sql()
    cons = {}
    for cls, d in dirs.items():
        con = cons[cls] = duckdb.connect()
        for t, path in tables_dir(d).items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def collect(cls_q):
        cls, q = cls_q
        try:
            return queries[q](spark, dirs[cls]).toPandas()
        except Exception as ex:  # noqa: BLE001 - a raising query is a failed check
            return ex

    def oracle(cls_q):
        cls, q = cls_q
        return cons[cls].execute(oracles[q]).df()

    # the ids are independent and only their results matter here, so
    # collect them N at a time while DuckDB computes the oracles
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=1) as duck, ThreadPoolExecutor(max_workers=common.N_CORES) as pool:
        expected = duck.submit(lambda: [oracle(x) for x in IDS])
        results = dict(zip(IDS, pool.map(collect, IDS)))
        expected = dict(zip(IDS, expected.result()))
    spark.catalog.clearCache()
    for (cls, q), got in results.items():
        if isinstance(got, Exception):
            ok, msg = False, f"raised {type(got).__name__}: {got}"
        else:
            ok, msg = compare(q, got, expected[(cls, q)])
        if not ok:
            run.state["bad"].add(q)
            run.defects.append(f"query {q} differs from its oracle: {msg}")
    for con in cons.values():
        con.close()
    # one untimed noop pass: the first noop-written pass of a process
    # still ran 15-35% slower than the next
    _queries(run, -1)
    run.report("warmup_queries_s", time.perf_counter() - t0, "s", 1)
    t0 = time.perf_counter()
    maintainers.reference(run)
    run.report("warmup_maintainers_s", time.perf_counter() - t0, "s", 1)


def _queries(run, k: int) -> dict:
    """The query part of a round: every id built and noop-written."""
    spark, dirs, tr = run.spark, run.inputs["dir"], run.tracer
    queries = entry.queries()
    rec = {"ops": []}
    t_pass = time.perf_counter()
    for cls, q in IDS:
        group = f"q:{cls}:{q}:{k}"
        if tr.enabled:
            spark.sparkContext.setJobGroup(group, q)
        ok = q not in run.state["bad"]
        with tr.span(f"q.{q}", group):
            t0 = time.perf_counter()
            try:
                with tr.span("build", group):
                    df = queries[q](spark, dirs[cls])
                t1 = time.perf_counter()
                with tr.span("execute", group):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001 - counted as a failed operation
                ok = False
                run.defects.append(f"query {q} raised {type(ex).__name__}: {ex}")
                t1 = time.perf_counter()
            t2 = time.perf_counter()
        spark.catalog.clearCache()
        op = {"cls": cls, "id": q, "build_s": t1 - t0, "exec_s": t2 - t1, "group": group}
        if tr.enabled:
            op["jobs"], op["tasks"] = common.group_counts(spark, group)
        run.op(ok, f"query {q} pass {k} failed")
        rec["ops"].append(op)
    rec["pass_s"] = time.perf_counter() - t_pass
    return rec


def one_pass(run, k: int) -> dict:
    rec = _queries(run, k)
    rec["maint"] = maintainers.one_batch(run, k)
    if run.tracer.enabled:
        run.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return rec


def finish(run, passes) -> None:
    maintainers.check(run)


def _per_id(passes) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for p in passes:
        for op in p["ops"]:
            out.setdefault(op["id"], []).append(op["build_s"] + op["exec_s"])
    return out


def end_to_end(run, passes) -> dict:
    med = {q: common.median(ts) for q, ts in _per_id(passes).items()}
    cls_geo = {cls: common.geomean([med[q] for q in ids]) for cls, ids in QUERY_CLASSES.items()}
    run.report("query_overhead_geomean_s", cls_geo["overhead"], "s", len(passes))
    run.report("query_work_geomean_s", cls_geo["work"], "s", len(passes))
    run.report("query_pass_s", common.median([p["pass_s"] for p in passes]), "s", len(passes))
    return {
        "pass_s": common.median([p["pass_s"] for p in passes]),
        "op_ms": 1000 * common.geomean(list(med.values())),
        "overhead_ms": 1000 * cls_geo["overhead"],
        "work_ms": 1000 * cls_geo["work"],
        **maintainers.end_to_end(run, passes),
    }


def per_layer(run, traced) -> None:
    n = len(traced)
    for cls, ids in QUERY_CLASSES.items():
        ops = [op for p in traced for op in p["ops"] if op["cls"] == cls]
        for q in ids:
            mine = [op for op in ops if op["id"] == q]
            run.layers[f"q.{q}.build_s"] = common.median([op["build_s"] for op in mine])
            run.layers[f"q.{q}.exec_s"] = common.median([op["exec_s"] for op in mine])
            # the evidence for the class: executor task time per core
            # against the wall time of build + execute
            busy = common.median([run.events.get(op["group"], {}).get("executor_run_s", 0.0)
                                  for op in mine]) / common.N_CORES
            wall = run.layers[f"q.{q}.build_s"] + run.layers[f"q.{q}.exec_s"]
            print(f"class {cls} {q}: build {run.layers[f'q.{q}.build_s']:.3f} s,"
                  f" execute {run.layers[f'q.{q}.exec_s']:.3f} s, executor busy {busy:.3f} s"
                  f" ({busy / wall:.2f} of wall), jobs {common.median([op['jobs'] for op in mine]):g}",
                  flush=True)
        ev = [run.events.get(op["group"], {}) for op in ops]
        run.layers.update({
            # per pass: the class's total over its ids
            f"query.{cls}.build_s": sum(op["build_s"] for op in ops) / n,
            f"query.{cls}.exec_s": sum(op["exec_s"] for op in ops) / n,
            f"query.{cls}.jobs": sum(op["jobs"] for op in ops) / n,
            f"query.{cls}.tasks": sum(op["tasks"] for op in ops) / n,
            f"query.{cls}.executor_run_s": sum(e.get("executor_run_s", 0) for e in ev) / n,
            f"query.{cls}.gc_s": sum(e.get("gc_s", 0) for e in ev) / n,
            f"query.{cls}.shuffle_bytes": sum(e.get("shuffle_bytes", 0) for e in ev) / n,
        })
    maintainers.per_layer(run, traced)
