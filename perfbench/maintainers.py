"""The 15 ``streaming/`` maintainers that ``tools/stream_bench.py`` drives,
fed deterministic micro-batch cuts; query_mix runs them between its
query passes.

Each source table is cut into ``N_BATCHES`` micro-batches by
``pmod(xxhash64(key..., seed), N_BATCHES)`` on a stable key (lineitem on
``(l_orderkey, l_linenumber)``), so batch contents depend on the seed
alone, not on core count or input splits.  Documents are cut into
ascending doc_id ranges instead: the dedup cascade promises the batch
result only for documents that arrive in id order.  Round k of the
client loop calls ``process(batch, id)`` on cut ``k % N_BATCHES``, the way
foreachBatch would; cut 0 starts a fresh set of maintainers over fresh
state roots.
The reference is the single-batch run (whole tables as batch 0), which is
also the maintainers' warm-up; the final state of the last complete set
is compared with it once per run, outside the timed region.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import common
from metrics import MAINTAINERS
from pulsar_ingestion_spark.session import load_tables
from pulsar_ingestion_spark.streaming.ann_index import (
    _write_ivf_centroids, ann_search, ivf_search, stream_ann_index, stream_ivf_index,
)
from pulsar_ingestion_spark.streaming.dedup_cascade import accepted_docs, stream_dedup_cascade
from pulsar_ingestion_spark.streaming.dim_enrich import DimEnrichMaintainer
from pulsar_ingestion_spark.streaming.mixture import MixturePlanMaintainer
from pulsar_ingestion_spark.streaming.monitor import drift_monitor, histogram
from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer
from pulsar_ingestion_spark.streaming.quantile import QuantileLogbinsStreamMaintainer
from pulsar_ingestion_spark.streaming.sampler import WeightedSampleMaintainer
from pulsar_ingestion_spark.streaming.seasonal import SeasonalGridMaintainer
from pulsar_ingestion_spark.streaming.sketches import (
    CmsStreamMaintainer, HllStreamMaintainer, MgStreamMaintainer,
)
from pulsar_ingestion_spark.streaming.skyline import SkylineStreamMaintainer
from pulsar_ingestion_spark.streaming.trend import TrendMonitor

N_BATCHES = 2
DIM, PLANES, K = 64, 8, 5
STATE_ROOTS = ("ann", "ivf", "cascade")

# maintainer -> (table, cut key columns)
SOURCES = {
    "ann_index": ("embeddings", ["vec_id"]), "ivf_index": ("embeddings", ["vec_id"]),
    "dedup_cascade": ("documents", ["doc_id"]), "mixture_plan": ("documents", ["doc_id"]),
    "skyline": ("lineitem", ["l_orderkey", "l_linenumber"]),
    "quantile_logbins": ("orders", ["o_orderkey"]), "dim_enrich": ("orders", ["o_orderkey"]),
    **{m: ("events", ["user_id"]) for m in (
        "sketch_hll", "sketch_cms", "sketch_mg", "weighted_sample", "seasonal_grid",
        "trend_monitor", "profile", "drift_monitor")},
}


def prepare(run, table_dir: str) -> None:
    """Cuts, IVF centroids and the drift reference histogram."""
    spark = run.spark
    tabs = load_tables(spark, table_dir)
    emb = tabs["embeddings"]
    cuts = {}
    for table, keys in set((t, tuple(k)) for t, k in SOURCES.values()):
        if table == "documents":
            # the dedup cascade equals the batch cascade only when documents
            # arrive in ascending doc_id order, so these cuts are id ranges
            n = tabs[table].agg(F.max("doc_id")).first()[0] + 1
            h = F.floor(F.col("doc_id") * N_BATCHES / n)
        else:
            h = F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.lit(run.seed)), F.lit(N_BATCHES))
        cuts[table] = [tabs[table].filter(h == i) for i in range(N_BATCHES)]
    # a restart re-prepares, keeping the reference and the maintainer sets
    run.state["m"] = {
        **run.state.get("m", {}),
        "tabs": tabs, "cuts": cuts,
        "cents": [(r["vec_id"], r["embedding"]) for r in
                  emb.orderBy(F.md5(F.col("vec_id").cast("string"))).limit(16).collect()],
        "ref_hist": histogram(tabs["events"].limit(10_000), "value", 10.0),
        "queries": emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding"),
    }


def _build(run, root: str) -> dict:
    """Fresh maintainers over fresh state roots under ``root``."""
    st = run.state["m"]
    os.makedirs(root, exist_ok=True)
    _write_ivf_centroids(os.path.join(root, "ivf"), st["cents"])
    return {
        "ann_index": stream_ann_index(os.path.join(root, "ann"), app_id="pb", dim=DIM,
                                      num_planes=PLANES),
        "ivf_index": stream_ivf_index(os.path.join(root, "ivf"), app_id="pb", centroids=st["cents"]),
        "dedup_cascade": stream_dedup_cascade(os.path.join(root, "cascade"), app_id="pb"),
        "sketch_hll": HllStreamMaintainer("user_id"),
        "sketch_cms": CmsStreamMaintainer("event_type"),
        "sketch_mg": MgStreamMaintainer("event_type"),
        "skyline": SkylineStreamMaintainer("l_quantity", "l_extendedprice"),
        "quantile_logbins": QuantileLogbinsStreamMaintainer("o_totalprice"),
        # keyed on the unique event_id, as in its equivalence test: the
        # maintainer treats a repeated id as a replay
        "weighted_sample": WeightedSampleMaintainer("event_type", "event_id", "value", k=5),
        "seasonal_grid": SeasonalGridMaintainer(),
        "trend_monitor": TrendMonitor(),
        "mixture_plan": MixturePlanMaintainer(),
        "profile": ProfileStreamMaintainer(["event_type", "user_id", "value"]),
        "dim_enrich": DimEnrichMaintainer("o_custkey", "o_orderkey", ["o_totalprice"]),
        "drift_monitor": drift_monitor(st["ref_hist"], "value", 10.0, os.path.join(root, "alerts.jsonl")),
    }


def _call(m, batch, batch_id: int) -> None:
    (m.apply_dim_batch if isinstance(m, DimEnrichMaintainer) else m)(batch, batch_id)


def _round(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_round(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _round(x)) for k, x in v.items()))
    return v


def _fingerprint(run, root: str, ms: dict) -> dict:
    """Each maintainer's final state through its public accessors."""
    spark, q = run.spark, run.state["m"]["queries"]
    rows = lambda df: sorted(_round(tuple(r)) for r in df.collect())  # noqa: E731
    with open(os.path.join(root, "alerts.jsonl")) as fh:
        drift_n = sum(json.loads(line)["n"] for line in fh)
    mg = ms["sketch_mg"]
    return {
        "ann_index": rows(ann_search(spark, os.path.join(root, "ann"), q, dim=DIM, k=K, num_planes=PLANES)),
        "ivf_index": rows(ivf_search(spark, os.path.join(root, "ivf"), q, k=K)),
        "dedup_cascade": rows(accepted_docs(spark, os.path.join(root, "cascade"))),
        "sketch_hll": (ms["sketch_hll"].estimate(), _round(ms["sketch_hll"].registers)),
        "sketch_cms": _round(ms["sketch_cms"].counters),
        "sketch_mg": (mg.total, sorted(mg.candidates()), [mg.estimate(t) for t in sorted(mg.candidates())]),
        "skyline": sorted(ms["skyline"].frontier()),
        "quantile_logbins": (ms["quantile_logbins"].count(),
                             [ms["quantile_logbins"].quantile(x) for x in (0.01, 0.1, 0.5, 0.9, 0.99)]),
        "weighted_sample": sorted(_round(ms["weighted_sample"].sample())),
        "seasonal_grid": sorted(_round(g) for g in ms["seasonal_grid"].grid()),
        "trend_monitor": _round(ms["trend_monitor"].snapshot()),
        "mixture_plan": sorted(_round(ms["mixture_plan"].plan())),
        "profile": _round({c: (p["n_rows"], p["n_null"], p["distinct_est"])
                           for c, p in ms["profile"].profile().items()}),
        "dim_enrich": rows(ms["dim_enrich"].snapshot_df(spark)),
        "drift_monitor": drift_n,
    }


def reference(run) -> None:
    """The single-batch run: every maintainer over its whole table as
    batch 0.  Its final state is the reference the cuts must reproduce."""
    st = run.state["m"]
    root = common.fresh_dir(os.path.join(run.work, "single"))
    ms = _build(run, root)
    # the maintainers are independent and only their final state matters
    # here, so run them N at a time
    with ThreadPoolExecutor(max_workers=common.N_CORES) as pool:
        list(pool.map(lambda name: _call(ms[name], st["tabs"][SOURCES[name][0]], 0), MAINTAINERS))
    run.spark.catalog.clearCache()
    st["reference"] = _fingerprint(run, root, ms)


def one_batch(run, k: int) -> dict:
    """Round k: cut ``k % N_BATCHES`` through every maintainer, a fresh set
    at cut 0.  Returns per-maintainer seconds and their total."""
    spark, tr, st = run.spark, run.tracer, run.state["m"]
    b = k % N_BATCHES
    tag = f"{'t' if tr.enabled else 'u'}{k - b}"
    if b == 0:
        root = common.fresh_dir(os.path.join(run.work, f"maint-{tag}"))
        st["set"] = {"root": root, "ms": _build(run, root), "tag": tag}
    ms = st["set"]["ms"]
    group = f"m:{tag}:{b}"
    if tr.enabled:
        spark.sparkContext.setJobGroup(group, group)
    per = {}
    with tr.span("maintain", group, batch=b):
        for name in MAINTAINERS:
            t0 = time.perf_counter()
            with tr.span(name, group):
                _call(ms[name], st["cuts"][SOURCES[name][0]][b], b)
            per[name] = time.perf_counter() - t0
            spark.catalog.clearCache()
    rec = {"batch": b, "per": per, "total": sum(per.values())}
    if tr.enabled:
        rec["jobs"], _tasks = common.group_counts(spark, group)
    if b == N_BATCHES - 1:
        root = st["set"]["root"]
        rec["state_bytes"] = sum(common.dir_bytes(os.path.join(root, r)) for r in STATE_ROOTS)
        if not tr.enabled:
            st["complete"] = st["set"]
    run.attempted += len(MAINTAINERS)
    return rec


def check(run) -> None:
    """Compare the last complete untraced set with the single-batch run,
    once per run and outside the timed region; a differing maintainer
    fails all of its calls in that set."""
    st = run.state["m"]
    done = st["complete"]
    got = _fingerprint(run, done["root"], done["ms"])
    for name in MAINTAINERS:
        if got[name] != st["reference"][name]:
            run.failed += N_BATCHES
            run.defects.append(f"maintainer {name} set {done['tag']}: cut state differs from single "
                               f"batch: {str(got[name])[:300]} vs {str(st['reference'][name])[:300]}")


def end_to_end(run, rounds) -> dict:
    m = [r["maint"] for r in rounds]
    steady = [x["total"] for x in m if x["batch"] > 0]
    first = [x["total"] for x in m if x["batch"] == 0]
    run.report("maintain_batch_p50_s", common.median(steady), "s", len(steady))
    run.report("maintain_first_batch_s", common.median(first), "s", len(first))
    return {"batch_ms": 1000 * common.median(steady), "first_batch_ms": 1000 * common.median(first)}


def per_layer(run, traced) -> None:
    m = [r["maint"] for r in traced]
    for name in MAINTAINERS:
        run.layers[f"maint.{name}.batch0_s"] = common.median([x["per"][name] for x in m if x["batch"] == 0])
        run.layers[f"maint.{name}.steady_s"] = common.median([x["per"][name] for x in m if x["batch"] > 0])
    run.layers["maint.jobs_per_batch"] = common.median([x["jobs"] for x in m])
    run.layers["maint.state_bytes"] = common.median([x["state_bytes"] for x in m if "state_bytes" in x])
