"""Stable hashing shared by the kernel, Spark and the SQL oracle — pure
Python, dependency-free, so the same value comes out of executors, the
data generator and pytest without Spark.
"""

from __future__ import annotations

import hashlib


def stable_hash64(s: str) -> int:
    """Deterministic 60-bit positive hash shared with the SQL oracle:
    int of the first 15 hex chars of md5 — reproducible in Spark
    (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
    (``('0x'||substr(md5(x),1,15))::BIGINT``)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
