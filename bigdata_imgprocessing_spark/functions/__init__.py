"""Column-level helper functions shared across queries.

These encode the reference's scalar semantics (SURVEY.md §2.9) as
reusable Column builders — all built-in JVM expressions, no Python UDFs —
and the deterministic hash rules (the 40-bit md5 key and the
train/val/test split), each with its DuckDB oracle twin and, for the key,
its Python form.
"""

from .helpers import (
    duck_h40,
    duck_split,
    first_letter,
    h40,
    h40_of,
    length_bucket,
    ordered_pairs,
    split_of,
    zero_guard_div,
)

__all__ = [
    "duck_h40",
    "duck_split",
    "first_letter",
    "h40",
    "h40_of",
    "length_bucket",
    "ordered_pairs",
    "split_of",
    "zero_guard_div",
]
