"""Metric declarations (read from BENCHMARK.json) and the result line."""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def result_line(kind: str, values: dict[str, float], attempted: int,
                failed: int) -> str:
    """The run's last stdout line. Refuses a metric set that differs from
    the declared one, so a typo cannot pass as a missing measurement."""
    units = declared(kind)
    if set(values) != set(units):
        missing = sorted(set(units) - set(values))
        extra = sorted(set(values) - set(units))
        raise ValueError(f"{kind} metrics differ: missing={missing} extra={extra}")
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                n: {"value": float(values[n]), "unit": units[n]} for n in units
            },
        }
    )
