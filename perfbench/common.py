"""Helpers shared by the workloads."""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F


class CheckFailed(Exception):
    """An output check did not hold; the run fails."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def measure_passes(one_pass, seconds: float) -> list[dict]:
    """Run ``one_pass()`` back to back until ``seconds`` have elapsed
    (at least once); returns each pass's result."""
    results = []
    t0 = time.perf_counter()
    while not results or time.perf_counter() - t0 < seconds:
        results.append(one_pass())
    return results


def law_digest() -> list:
    """Order-independent digest of (url, extracted_text) as aggregate columns."""
    h = F.xxhash64("url", "extracted_text")
    return [F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x"),
            F.sum(F.shiftright(h, 24)).alias("s"),
            F.sum(F.col("extracted_text").isNull().cast("int")).alias("nulls")]


def digest(row) -> list:
    return [row["n"], row["x"], row["s"], row["nulls"]]
