"""Output checks. No Spark, so the self-tests run them directly."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracle import rowset  # noqa: E402  (the repo's oracle comparison)


def crawl_failures(visited: set[str], expected: set[str]) -> int:
    """URLs fetched but not expected plus URLs expected but not fetched."""
    return len(visited ^ expected)


def leaf_matches(rows, cols, oracle_rows, oracle_cols) -> bool:
    return sorted(cols) == sorted(oracle_cols) and rowset(rows, cols) == rowset(
        oracle_rows, oracle_cols
    )
