"""Pipeline runner — the deployment/pipeline.yaml analog.

The reference provisions: source connectors → raw-<source> topics →
translator functions → one CMF topic → Filterer → per-tenant topics
(deployment/pipeline.yaml:1-68, docs/architecture.md:105-118).  Here one
spec instantiates the same topology as one query:

    for each source: open_source → translate_<kind>
    union all branches (unionByName — the shared CMF topic)
    route: extract tenant → drop unroutable → routed sink

The translate branches are narrow (no shuffle) and fuse into the scan.
:func:`_routed_writer` is the one place a sink is chosen and
:func:`_save_or_start` the one tail that runs it, for the routed sink and
the dead-letter sink alike:

    sink              batch (streaming=False)   streaming (per micro-batch)
    publish={...}     topic sink, one append    topic sink query
    "foreachBatch"    tenantId-partitioned      the same append per batch
                      parquet append            (at-least-once in a failed epoch)
    "native"          tenantId-partitioned      Spark file sink: _spark_metadata
                      parquet append            commit log, exactly-once
    "versioned"       VersionedTable.append     manifest commit keyed by batch
                                                id: exactly-once, time travel
    dead_letter_path  parquet append            parquet file sink,
                                                checkpoint + "-dead"

Streaming queries use ``spec.checkpoint`` and availableNow by default, or
processingTime when ``spec.trigger_interval`` is set.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.filterer import (
    extract_tenant,
    filter_routable,
    topic_for_tenant,
)
from pulsar_ingestion_spark.operators.translators import (
    cmf_to_json,
    translate_calamp,
    translate_ford,
    translate_geotab,
    union_cmf,
)
from pulsar_ingestion_spark.operators.versioned import VersionedTable
from pulsar_ingestion_spark.sources.registry import open_source, open_topic_sink

TRANSLATORS = {
    "geotab": translate_geotab,
    "calamp": translate_calamp,
    "ford": translate_ford,
}


@dataclass
class SourceSpec:
    kind: str                 # source connector kind (sources/registry.py)
    translator: str           # geotab | calamp | ford
    options: dict = field(default_factory=dict)
    tenant: str = "acme"


@dataclass
class PipelineRun:
    """Handles for a running streaming pipeline: the main routed sink plus
    the dead-letter sink when configured (ADVICE r1: the dead-letter
    StreamingQuery was previously discarded, so callers could neither
    await nor observe it — with availableNow it can outlive the main
    query).  Delegates the common StreamingQuery surface so existing
    ``run_pipeline(...).awaitTermination()`` call sites keep working and
    now wait on BOTH queries."""

    main: "object"                      # pyspark StreamingQuery
    dead_letter: "object | None" = None

    def awaitTermination(self, timeout: float | None = None):  # noqa: N802 (Spark API name)
        res = self.main.awaitTermination(timeout)
        if self.dead_letter is not None:
            self.dead_letter.awaitTermination(timeout)
        return res

    def stop(self) -> None:
        for q in (self.main, self.dead_letter):
            if q is not None:
                q.stop()

    @property
    def lastProgress(self):  # noqa: N802
        return self.main.lastProgress

    @property
    def isActive(self):  # noqa: N802
        return self.main.isActive or (
            self.dead_letter is not None and self.dead_letter.isActive
        )


@dataclass
class PipelineSpec:
    sources: list[SourceSpec]
    output_path: str          # base dir for per-tenant partitioned output
    checkpoint: str | None = None
    dead_letter_path: str | None = None
    # "foreachBatch" | "native" | "versioned" — see the sink table above
    sink_mode: str = "foreachBatch"
    # None -> availableNow (drain-and-stop: backfills, tests, cron runs);
    # an interval string like "30 seconds" -> continuous micro-batching.
    trigger_interval: str | None = None
    # Topic publish (relay) mode — the reference Filterer's per-tenant
    # publish (Filterer.kt dynamic outputs): when set, the routed stream
    # goes to a topic sink instead of landing parquet.  {"kind": "pulsar"|
    # "kafka"|"eventhub"|"jsonl", "topic_template": "...{tenant}..." or
    # "topic_prefix": "...", **connector options}; a prefix P means the
    # template P{tenant} (jsonl = broker-less bridge, value lines
    # partitioned by topic dir).
    publish: dict | None = None


def build_cmf_stream(
    spark: SparkSession, spec: PipelineSpec, streaming: bool = True
) -> tuple[DataFrame, DataFrame | None]:
    """Wire sources → translators → ``(wire, dead)``: the canonical CMF
    stream (wire JSON in ``value``) and, with ``spec.dead_letter_path``
    set, the malformed originals of every source tagged by source
    kind/translator (else None) — the observable upgrade of the
    reference's log-and-vaporize policy (GeotabTranslator.kt:154-157).
    """
    if not spec.sources:
        raise ValueError("PipelineSpec.sources is empty — nothing to ingest")
    branches = []
    dead_branches = []
    for src in spec.sources:
        raw = open_source(spark, src.kind, streaming=streaming, **src.options)
        translate = TRANSLATORS[src.translator]
        if spec.dead_letter_path:
            good, dead = translate(raw.select("value"), tenant=src.tenant, dead_letter=True)
            dead_branches.append(
                dead.select(
                    F.lit(src.kind).alias("source_kind"),
                    F.lit(src.translator).alias("translator"),
                    F.col("value"),
                )
            )
        else:
            good = translate(raw.select("value"), tenant=src.tenant)
        branches.append(good.select("cmf"))
    cmf = union_cmf(*branches)
    wire = cmf_to_json(cmf, out_col="value").select("value")
    dead = reduce(DataFrame.unionByName, dead_branches) if dead_branches else None
    return wire, dead


def _checkpoint_max_batch(checkpoint: str) -> int:
    """Max batch id this Structured Streaming checkpoint has produced,
    from its ``offsets/`` (started) and ``commits/`` (finished) logs —
    file names ARE the batch ids.  -1 for a dir with no batches yet.
    Used to evidence-gate the legacy-watermark migration: a reset
    checkpoint's small ids must not inherit a large legacy watermark."""
    mx = -1
    for sub in ("offsets", "commits"):
        d = os.path.join(checkpoint, sub)
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name.isdigit():
                mx = max(mx, int(name))
    return mx


def _routed_writer(spec: PipelineSpec, out: DataFrame, streaming: bool):
    """The one place the routed sink is chosen (the module's sink table).
    Returns a configured writer, or a foreachBatch body ``fn(df, batch_id)``
    for the sinks that run their own write per batch."""
    if spec.publish is not None:
        opts = dict(spec.publish)
        kind = opts.pop("kind")
        prefix = opts.pop("topic_prefix", "tenant-")
        template = opts.pop("topic_template", prefix + "{tenant}")
        topics = out.select(topic_for_tenant(template=template).alias("__route_topic"), "value")
        return open_topic_sink(
            topics, kind, streaming=streaming, topic_column="__route_topic", **opts
        )
    if spec.sink_mode == "native":
        writer = out.writeStream if streaming else out.write
        return writer.format("parquet").partitionBy("tenantId").option("path", spec.output_path)
    if spec.sink_mode == "versioned":
        # The versioned layout is file-list based, not tenant-dir based:
        # readers filter on the tenantId COLUMN (pruned via row-group stats).
        table = VersionedTable(spec.output_path)
        if not streaming:
            return lambda batch, _batch_id: table.append(batch)
        # The checkpoint location IS the stream identity: batch ids are
        # monotonic per checkpoint, so replay-dedup state is scoped to it.
        # Resuming a pre-existing checkpoint whose history committed under
        # the legacy app-unscoped id aliases that watermark onto this one —
        # only when the checkpoint's own offsets/commits log reaches it, so
        # a RESET checkpoint (fresh ids 0..k) cannot inherit a larger legacy
        # watermark and silently swallow batches k+1..W.
        if os.path.isdir(spec.checkpoint):
            table.migrate_default_app(
                spec.checkpoint, committed_hint=_checkpoint_max_batch(spec.checkpoint)
            )
        return table.stream_batch_committer(app_id=spec.checkpoint)
    if spec.sink_mode != "foreachBatch":
        raise ValueError(f"unknown sink_mode {spec.sink_mode!r}")

    def _append_tenant_dirs(batch: DataFrame, _batch_id) -> None:
        batch.write.mode("append").partitionBy("tenantId").parquet(spec.output_path)

    return _append_tenant_dirs


def _save_or_start(frame: DataFrame, sink, spec: PipelineSpec, streaming: bool, suffix: str = ""):
    """The one tail for every writer.  Batch: append once (a foreachBatch
    body runs once over the whole ``frame``) and return None.  Streaming:
    checkpoint at ``spec.checkpoint + suffix``, trigger availableNow
    (drain-and-stop) or every ``spec.trigger_interval``, and return the
    started query."""
    if not streaming:
        if callable(sink):
            sink(frame, None)
        else:
            sink.mode("append").save()
        return None
    writer = frame.writeStream.foreachBatch(sink) if callable(sink) else sink
    writer = writer.option("checkpointLocation", spec.checkpoint + suffix)
    if spec.trigger_interval:
        return writer.trigger(processingTime=spec.trigger_interval).start()
    return writer.trigger(availableNow=True).start()


def run_pipeline(spark: SparkSession, spec: PipelineSpec, streaming: bool = True):
    """Execute the pipeline.  Streaming: returns a :class:`PipelineRun`
    holding the main sink's StreamingQuery and, when configured, the
    dead-letter sink's; batch: writes once and returns None."""
    if streaming and not spec.checkpoint:
        raise ValueError("a streaming pipeline needs PipelineSpec.checkpoint")
    wire, dead = build_cmf_stream(spark, spec, streaming=streaming)
    out = filter_routable(extract_tenant(wire)).select("tenantId", "value")
    # Per-batch observability (the reference only log-lines these —
    # GeotabTranslator.kt:154-157): routed count + distinct-tenant count
    # land in StreamingQueryProgress.observedMetrics / Observation.get.
    out = out.observe(
        "route_metrics",
        F.count(F.lit(1)).alias("routed"),
        F.approx_count_distinct("tenantId").alias("tenants"),
    )
    sink = _routed_writer(spec, out, streaming)
    dead_query = None
    if dead is not None:
        dead_writer = dead.writeStream if streaming else dead.write
        dead_writer = dead_writer.format("parquet").option("path", spec.dead_letter_path)
        dead_query = _save_or_start(dead, dead_writer, spec, streaming, suffix="-dead")
    main = _save_or_start(out, sink, spec, streaming)
    return PipelineRun(main=main, dead_letter=dead_query) if streaming else None
