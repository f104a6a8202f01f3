"""Cumulative stage metrics via the Spark status REST API — the ONE copy.

Used by bench-family tools (shuffle_audit, sf1_anchor) to
diff shuffle/input volume around a query execution.  Shared here because
the same eviction bug was previously patched in three separate copies.

Caveats every consumer inherits:

- The session must enable the UI (`spark.ui.enabled=true`; the session
  factory disables it for benchmarks) and raise
  `spark.ui.retainedStages` (the tools use 100000): the REST stage store
  evicts past the limit (default 1000), which makes cumulative diffs
  NEGATIVE once a long session rolls over (observed on the r12 q211
  anchor).
- Sums are over COMPLETED stages only; take the `before` snapshot after
  any in-flight work has finished.
"""

from __future__ import annotations

import json
import urllib.request


def stage_totals(ui: str, app_id: str) -> dict[str, int]:
    """Cumulative shuffle-write / input volume across completed stages."""
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        stages = json.load(r)
    out = {
        "shuffle_write_bytes": 0,
        "shuffle_write_records": 0,
        "input_bytes": 0,
        "input_records": 0,
    }
    for s in stages:
        out["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        out["shuffle_write_records"] += s.get("shuffleWriteRecords", 0)
        out["input_bytes"] += s.get("inputBytes", 0)
        out["input_records"] += s.get("inputRecords", 0)
    return out
