"""Output checks every benchmark run makes.

* Join output vs a driver-side oracle: every enriched point is tested
  against every region with ``kernels.pip_even_odd`` -- no cells, no bbox
  prefilter -- and the (url, region_id) pairs must equal the engine's.
* Order-independent checksums over (url, region_id) and
  (url, tile_z, tile_x, tile_y), printed so runs of different workloads on
  the same seed can be compared.
* ``extract_text_py(html)`` on the driver must be byte-identical to the
  engine's ``extract_text`` on a hash-chosen sample of pages.
* Every timed write must still carry the work it is meant to measure: the
  ``extract_text`` and ``st_contains_point`` Python nodes and the tile
  projection, read from the executed plans (so a plan that pruned a layer
  fails the run instead of looking fast).
* Determinism pins for known (seed, pages) pairs.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (seed, pages) -> join rows; 167,897 is the repository's 500k-page pin
JOIN_ROW_PINS = {(42, 500_000): 167_897, (42, 20_000): 6_693}

MARKERS = {
    "extract_text": re.compile(r"extract_text\("),
    "st_contains_point": re.compile(r"st_contains_point\("),
    "tile_projection": re.compile(r" AS tile_x#"),
}


def checksum(rows: Iterable[tuple]) -> str:
    """Count plus the sum mod 2**64 of a 64-bit hash of each row's repr:
    equal multisets of rows give equal checksums in any order."""
    total, n = 0, 0
    for row in rows:
        digest = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8)
        total = (total + int.from_bytes(digest.digest(), "little")) % (1 << 64)
        n += 1
    return f"{n}:{total:016x}"


def region_table() -> list[tuple]:
    """[(region_id, xs, ys, ring_offsets)] straight from the pure-Python
    fixture ``synth_regions`` encodes, so the oracle shares no codec with
    the engine."""
    from spatial.synth import region_rings

    out = []
    for rid, _, rings in region_rings():
        offsets = np.cumsum([0] + [len(r) for r in rings]).tolist()
        coords = np.asarray([p for r in rings for p in r], np.float64)
        out.append((rid, coords[:, 0], coords[:, 1], offsets))
    return out


def oracle_pairs(points, regions: list[tuple]) -> set[tuple]:
    """Brute-force point-in-polygon: every point against every region."""
    from spatial.kernels import pip_even_odd

    urls = points["url"].to_numpy()
    px = points["lon"].to_numpy(np.float64)
    py = points["lat"].to_numpy(np.float64)
    pairs = set()
    for rid, xs, ys, ro in regions:
        hit = pip_even_odd(px, py, xs, ys, ro)
        pairs.update((u, rid) for u in urls[hit])
    return pairs


def extract_text_mismatches(pages: DataFrame, modulus: int = 97) -> tuple[int, int]:
    """(sampled rows, rows where the engine's extract_text differs from
    extract_text_py) over pages whose url hash is 0 mod ``modulus``."""
    from spatial.textextract import extract_text, extract_text_py

    rows = (pages.where(F.pmod(F.xxhash64("url"), F.lit(modulus)) == 0)
            .select("html", extract_text(F.col("html")).alias("engine"))
            .collect())
    bad = sum(extract_text_py(r["html"]) != r["engine"] for r in rows)
    return len(rows), bad


class PlanLog:
    """Executed SQL plans of this session, read from Spark's live SQL status
    store (kept whether or not the UI runs)."""

    def __init__(self, spark: SparkSession):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def since(self, after_id: int) -> list[tuple[int, str, str]]:
        """[(execution id, description, plan)] for executions > after_id."""
        self._bus.waitUntilEmpty()
        execs = self._store.executionsList()
        out = []
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.executionId() > after_id:
                out.append((ex.executionId(), ex.description(),
                            ex.physicalPlanDescription()))
        return out

    def last_id(self) -> int:
        seen = self.since(-1)
        return max((e for e, _, _ in seen), default=-1)


def plan_problems(executions: list[tuple[int, str, str]], label_of,
                  required: dict[str, tuple[str, ...]],
                  expected: dict[str, int]) -> list[str]:
    """Check each write execution ``label_of(description, plan)`` names
    against the markers ``required`` lists for its label, and that each
    label was written ``expected`` times."""
    problems, seen = [], {}
    for ex_id, desc, plan in executions:
        label = label_of(desc, plan)
        if label is None:
            continue
        seen[label] = seen.get(label, 0) + 1
        for marker in required[label]:
            if not MARKERS[marker].search(plan):
                problems.append(f"execution {ex_id} ({label}) lacks {marker}")
    if seen != expected:
        problems.append(f"write executions {seen} != expected {expected}")
    return problems
