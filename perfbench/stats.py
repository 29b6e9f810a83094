"""Small numeric helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics

import numpy as np


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], p: float) -> float:
    """p-th percentile, linear interpolation between samples (numpy's
    default); one sample is its own percentile."""
    return float(np.percentile(xs, p)) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
