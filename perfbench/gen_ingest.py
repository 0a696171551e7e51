"""Seeded JSON-lines backlog for the ingest drain: three vendors x two
tenants, plus one blank-tenant source whose valid records are unroutable.

Rows come from ``tools.loadgen.gen_row``.  About 2% of each source's
records are malformed, split evenly across the three dead-letter reasons
(bad JSON, a missing required field, an unparsable timestamp), and the
generator returns the exact counts the drain must reproduce.
"""

from __future__ import annotations

import json
import os
import random

from tools.loadgen import gen_row

# (vendor, tenant); the blank tenant is the unroutable source
SOURCES = [
    ("geotab", "fleet-north"), ("calamp", "fleet-north"), ("ford", "fleet-north"),
    ("geotab", "fleet-south"), ("calamp", "fleet-south"), ("ford", "fleet-south"),
    ("calamp", ""),
]
REASONS = ("bad_json", "missing_field", "bad_timestamp")
MALFORMED_SHARE = 0.02
# the first required field, and the timestamp field, of each vendor
_REQUIRED = {"geotab": "Device_ID", "calamp": "unit_id", "ford": "vin"}
_TIMESTAMP = {"geotab": "Record_DateTime", "calamp": "msg_ts", "ford": "captureTime"}


def _malformed(kind: str, row: dict, reason: str) -> str:
    if reason == "bad_json":
        return '{"truncated": '
    if reason == "missing_field":
        row.pop(_REQUIRED[kind])
    else:
        row[_TIMESTAMP[kind]] = "not-a-timestamp"
    return json.dumps(row)


def source_dir(base: str, idx: int) -> str:
    kind, tenant = SOURCES[idx]
    return os.path.join(base, f"src{idx}-{kind}-{tenant or 'blank'}")


def generate(base: str, seed: int, files: int, rows_per_file: int) -> dict:
    """Write ``files`` files of ``rows_per_file`` lines per source under
    ``base``; returns the expected counts and the input byte size."""
    exp = {"rows_in": 0, "dead": 0, "unroutable": 0, "bytes_in": 0,
           "routed": {}, "dead_by_vendor": {}, "dead_by_reason": dict.fromkeys(REASONS, 0)}
    for idx, (kind, tenant) in enumerate(SOURCES):
        rng = random.Random(seed * 1000 + idx)
        d = source_dir(base, idx)
        os.makedirs(d, exist_ok=True)
        good = dead = 0
        for f in range(files):
            lines = []
            for r in range(rows_per_file):
                i = f * rows_per_file + r
                row = gen_row(kind, i, rng)
                if rng.random() < MALFORMED_SHARE:
                    reason = REASONS[dead % len(REASONS)]
                    lines.append(_malformed(kind, row, reason))
                    exp["dead_by_reason"][reason] += 1
                    dead += 1
                else:
                    lines.append(json.dumps(row))
                    good += 1
            data = "\n".join(lines) + "\n"
            with open(os.path.join(d, f"part-{f:03d}.jsonl"), "w") as fh:
                fh.write(data)
            exp["bytes_in"] += len(data.encode())
        exp["rows_in"] += good + dead
        exp["dead"] += dead
        if dead:  # the read-back has no group for a vendor without dead letters
            exp["dead_by_vendor"][kind] = exp["dead_by_vendor"].get(kind, 0) + dead
        if tenant:
            exp["routed"][tenant] = exp["routed"].get(tenant, 0) + good
        else:
            exp["unroutable"] += good
    return exp
