"""The benchmark's metric catalog, read from ``BENCHMARK.json`` at the
repository root, the one place workloads, metrics, units and bounds are
declared.

End-to-end metrics are reported by every workload; each workload gives
them its own unit of work (see README.md).  Per-layer metrics come from
the traced run; a layer a workload never reaches reads 0 there.
"""

from __future__ import annotations

import json
from pathlib import Path

HERE = Path(__file__).resolve().parent

_SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())

WORKLOADS = tuple(w["name"] for w in _SPEC["workloads"])
# name -> (unit, better, bound)
END_TO_END = {m["name"]: (m["unit"], m["better"], m["bound"])
              for m in _SPEC["end_to_end"]}
# name -> (unit, better)
PER_LAYER = {m["name"]: (m["unit"], m["better"]) for m in _SPEC["per_layer"]}


def headline_queries() -> list[str]:
    """The query_mix query set, pinned by the expected-results file so the
    workload does not change when the registry's headline flags do."""
    return sorted(json.loads((HERE / "expected_queries.json").read_text()))


def render(values: dict[str, float], trace: bool) -> dict:
    """The result's ``metrics`` object: every catalog metric of the run's
    kind, with its unit.  End-to-end metrics must all be measured;
    per-layer metrics a workload does not reach read 0."""
    if trace:
        return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                for name, (unit, _) in PER_LAYER.items()}
    missing = [n for n in END_TO_END if n not in values]
    if missing:
        raise KeyError(f"end-to-end metrics not measured: {missing}")
    return {name: {"value": float(values[name]), "unit": unit}
            for name, (unit, _, _) in END_TO_END.items()}
