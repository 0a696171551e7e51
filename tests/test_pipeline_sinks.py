"""run_pipeline sinks: every sink_mode in batch and streaming lands rows
that its own reader sees, the streaming checkpoint guard, and per-tenant
topic routing through the publish path."""

from __future__ import annotations

import json
import os

import pytest

from pulsar_ingestion_spark.operators.translators import cmf_to_json, translate_geotab
from pulsar_ingestion_spark.operators.versioned import VersionedTable
from pulsar_ingestion_spark.plans.pipeline import PipelineSpec, SourceSpec, run_pipeline


def _geotab(i: int) -> dict:
    return {
        "Device_ID": f"d{i}", "Vehicle_ID": f"v{i}",
        "Record_DateTime": "2024-02-02T08:00:%02dZ" % i,
        "Latitude": 1.0 + i, "Longitude": 6.0,
    }


def _write_lines(path, lines) -> str:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "a.jsonl"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return str(path)


def _read_routed(spark, sink_mode: str, path: str):
    if sink_mode == "versioned":
        return VersionedTable(path).read(spark)
    return spark.read.parquet(path)  # native streaming reads via _spark_metadata


@pytest.mark.parametrize("streaming", [False, True], ids=["batch", "streaming"])
@pytest.mark.parametrize("sink_mode", ["foreachBatch", "native", "versioned"])
def test_sink_mode_rows_visible_to_its_reader(spark, tmp_path, sink_mode, streaming):
    """Each sink_mode is honoured in both modes: a batch run with
    sink_mode="versioned" used to land plain parquet that the table's
    readers could not see."""
    geo = _write_lines(tmp_path / "geo", [json.dumps(_geotab(i)) for i in range(3)] + ["{bad"])
    cal = _write_lines(tmp_path / "cal", [
        json.dumps({"unit_id": f"u{i}", "vid": f"c{i}", "msg_ts": 1698827400 + i,
                    "gps_lat": 3.0, "gps_lon": 4.0})
        for i in range(2)
    ])
    spec = PipelineSpec(
        sources=[
            SourceSpec(kind="jsonl", translator="geotab", options={"path": geo}, tenant="t1"),
            SourceSpec(kind="jsonl", translator="calamp", options={"path": cal}, tenant="t2"),
        ],
        output_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt") if streaming else None,
        dead_letter_path=str(tmp_path / "dead"),
        sink_mode=sink_mode,
    )
    handle = run_pipeline(spark, spec, streaming=streaming)
    if streaming:
        handle.awaitTermination(120)
        assert not handle.isActive
    else:
        assert handle is None
    rows = _read_routed(spark, sink_mode, spec.output_path).collect()
    assert sorted((r["tenantId"], json.loads(r["value"])["vehicleId"]) for r in rows) == [
        ("t1", "v0"), ("t1", "v1"), ("t1", "v2"), ("t2", "c0"), ("t2", "c1"),
    ]
    dead = spark.read.parquet(spec.dead_letter_path).collect()
    assert [(r["translator"], r["value"]) for r in dead] == [("geotab", "{bad")]


def test_streaming_without_checkpoint_raises_before_sources_open(spark, tmp_path):
    """A ValueError, not an assert (which ``python -O`` strips), raised
    before any source is opened: the unknown source kind here would
    otherwise fail first."""
    spec = PipelineSpec(
        sources=[SourceSpec(kind="no-such-kind", translator="geotab")],
        output_path=str(tmp_path / "out"),
        dead_letter_path=str(tmp_path / "dead"),
    )
    with pytest.raises(ValueError, match="checkpoint"):
        run_pipeline(spark, spec, streaming=True)


def test_publish_topic_template_routes_and_passes_bytes_through(spark, tmp_path):
    """Kafka-style per-tenant topics via a template: an unroutable
    (blank-tenant) record is dropped, the routable one lands under
    ``<tenantId>.integration.telemetry`` with its wire JSON byte-identical."""
    doc = json.dumps(_geotab(0))
    spec = PipelineSpec(
        sources=[
            SourceSpec(kind="jsonl", translator="geotab",
                       options={"path": _write_lines(tmp_path / "a", [doc])}, tenant="acme-corp"),
            SourceSpec(kind="jsonl", translator="geotab",
                       options={"path": _write_lines(tmp_path / "b", [doc])}, tenant="   "),
        ],
        output_path=str(tmp_path / "unused-out"),
        publish={"kind": "jsonl", "topic_template": "{tenant}.integration.telemetry",
                 "path": str(tmp_path / "topics")},
    )
    assert run_pipeline(spark, spec, streaming=False) is None
    topics = [d for d in os.listdir(tmp_path / "topics") if d.startswith("topic=")]
    assert topics == ["topic=acme-corp.integration.telemetry"]
    published = spark.read.text(str(tmp_path / "topics" / topics[0])).collect()
    wire = cmf_to_json(
        translate_geotab(spark.createDataFrame([(doc,)], "value string"), tenant="acme-corp"),
        out_col="value",
    ).collect()
    assert [r["value"] for r in published] == [wire[0]["value"]]
