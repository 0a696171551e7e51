"""The shared batch-id high-watermark (streaming/sketches.py
ReplayGuarded) over every ADD-merging maintainer: a batch that raises
must not advance the watermark, so its retry under the same batch_id is
merged in full; a replay after success stays a no-op."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.errors import AnalysisException

from pulsar_ingestion_spark.streaming.mixture import MixturePlanMaintainer
from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer
from pulsar_ingestion_spark.streaming.quantile import QuantileLogbinsStreamMaintainer
from pulsar_ingestion_spark.streaming.seasonal import SeasonalGridMaintainer
from pulsar_ingestion_spark.streaming.sketches import (
    CmsStreamMaintainer,
    MgStreamMaintainer,
)
from pulsar_ingestion_spark.streaming.trend import TrendMonitor

N = 6

# (maintainer factory, rows merged so far)
GUARDED = {
    "cms": (lambda: CmsStreamMaintainer("event_type"),
            lambda m: sum(c for (d, _), c in m.counters.items() if d == 0)),
    "mg": (lambda: MgStreamMaintainer("event_type"), lambda m: m.total),
    "quantile": (lambda: QuantileLogbinsStreamMaintainer("value"),
                 lambda m: m.count()),
    "trend": (TrendMonitor, lambda m: m.n),
    "mixture": (MixturePlanMaintainer, lambda m: m.total_tokens()),
    "profile": (lambda: ProfileStreamMaintainer(["event_type", "user_id"]),
                lambda m: m.n_rows),
    "seasonal": (SeasonalGridMaintainer, lambda m: sum(m.n_events.values())),
}


def _events(spark):
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (t0 + dt.timedelta(hours=3 * i), i % 4, ["click", "purchase"][i % 2],
         10.0 + i, "web", "one")  # one token per text: mixture counts rows
        for i in range(N)
    ]
    return spark.createDataFrame(
        rows, "ts timestamp, user_id bigint, event_type string, value double, "
              "source string, text string"
    )


@pytest.mark.parametrize("name", sorted(GUARDED))
def test_failed_batch_is_merged_on_retry(spark, name):
    make, merged = GUARDED[name]
    m = make()
    with pytest.raises(AnalysisException):
        m(spark.range(3), 0)  # no maintainer column: the batch raises
    good = _events(spark)
    m(good, 0)  # the retry of batch 0 must be merged, not skipped
    assert merged(m) == N
    m(good, 0)  # a replay after success is still a no-op
    assert merged(m) == N
    m(good, 1)
    assert merged(m) == 2 * N
