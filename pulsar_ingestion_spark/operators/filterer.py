"""Filterer — content-based tenant router, Spark-first.

Reference (Filterer.kt:22-50): parse the CMF JSON, read ``meta.tenantId``
(:29), drop if null/blank (:31-34), else forward the ORIGINAL byte-identical
string (:39-45, asserted FiltererTest.kt:113) to the computed destination
``persistent://{tenantId}/integration/telemetry`` (:36).

Spark mapping (SURVEY.md §2.3):
  * tenant extraction is ``get_json_object`` on the raw string — we route
    on the parsed field but forward the original bytes, so the payload
    column is never re-serialized;
  * the drop rule is the ``filter_not_blank`` predicate;
  * the dynamic per-tenant destination becomes a partitioned sink:
    ``foreachBatch { batch.write.partitionBy("tenantId") }`` for files, or
    a per-row ``topic`` column for Kafka/Pulsar sinks.  Partitioning by
    tenant in the sink is the scale-correct analog — one shuffle-free
    write with dynamic partition overwrite, not N per-tenant jobs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TENANT_PATH = "$.meta.tenantId"


def not_blank(col: Column) -> Column:
    """The Filterer guard: NOT NULL and NOT blank-after-trim
    (Filterer.kt:31 — Kotlin isNullOrBlank)."""
    return col.isNotNull() & (F.trim(col) != F.lit(""))


def extract_tenant(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """Add ``tenantId`` parsed from the raw CMF JSON (path meta.tenantId).

    get_json_object on a malformed document yields NULL → the record is
    dropped by :func:`filter_routable`, matching the reference's
    catch-log-drop on unparseable input (FiltererTest.kt:155-163).
    """
    # explode(array(...)) Generate barrier: downstream filter + topic
    # expressions reference the extracted attribute instead of re-running
    # get_json_object per consumer (see operators/translators.py note).
    return df.withColumn(
        "tenantId", F.explode(F.array(F.get_json_object(F.col(payload_col), TENANT_PATH)))
    )


def filter_routable(df: DataFrame, tenant_col: str = "tenantId") -> DataFrame:
    """Keep only routable records (tenant present and non-blank)."""
    return df.filter(not_blank(F.col(tenant_col)))


def topic_for_tenant(
    tenant_col: str = "tenantId",
    template: str = "persistent://{tenant}/integration/telemetry",
) -> Column:
    """The computed destination (Filterer.kt:36) as a column, for sinks
    that take a per-row topic.  Every ``{tenant}`` in ``template`` is
    replaced by the tenant column, so the tenant can sit anywhere in the
    topic name; the default is the reference's layout."""
    parts = template.split("{tenant}")
    if len(parts) < 2:
        raise ValueError(f"topic template must contain '{{tenant}}' (got {template!r})")
    cols = []
    for i, part in enumerate(parts):
        if part:
            cols.append(F.lit(part))
        if i < len(parts) - 1:
            cols.append(F.col(tenant_col))
    return F.concat(*cols)


def route_to_tenant_dirs(
    df: DataFrame,
    base_path: str,
    payload_col: str = "value",
    mode: str = "append",
) -> None:
    """Batch/foreachBatch body of the dynamic sink: one partitioned write.

    Writes the ORIGINAL payload strings under ``base_path/tenantId=<t>/``.
    In streaming this is invoked via ``writeStream.foreachBatch``; the
    partitionBy keeps per-tenant file layouts without per-tenant jobs and
    scales to thousands of tenants (each partition dir is written by the
    tasks that own its rows — no extra shuffle unless requested).
    """
    routable = filter_routable(extract_tenant(df, payload_col))
    routable.select(F.col("tenantId"), F.col(payload_col)).write.mode(mode).partitionBy(
        "tenantId"
    ).parquet(base_path)
