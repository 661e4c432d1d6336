"""Metric names and units from the repository's BENCHMARK.json."""

from __future__ import annotations

import json
import os

PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def spec() -> dict:
    with open(PATH) as f:
        return json.load(f)


def metric_names(section: str) -> list[str]:
    """Names of the `end_to_end` or `per_layer` metrics, in file order."""
    return [m["name"] for m in spec()[section]]


def units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec()[section]}
