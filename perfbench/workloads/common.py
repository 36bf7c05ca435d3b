"""Helpers shared by the workloads: CSV input files and an
order-insensitive row checksum that numpy computes without Spark."""

from __future__ import annotations

import os
import random

import numpy as np

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over a uint64 array (wrapping arithmetic)."""
    x = x.astype(np.uint64) + _GOLD
    x = (x ^ (x >> np.uint64(30))) * _M1
    x = (x ^ (x >> np.uint64(27))) * _M2
    return x ^ (x >> np.uint64(31))


def row_hashes(*cols: np.ndarray) -> np.ndarray:
    """One uint64 hash per row of integer columns."""
    h = np.zeros(len(cols[0]), dtype=np.uint64)
    for c in cols:
        h = mix64(h ^ c.astype(np.int64).view(np.uint64))
    return h


def checksum(*cols: np.ndarray) -> int:
    """Order-insensitive checksum: the wrapping sum of the row hashes."""
    if len(cols[0]) == 0:
        return 0
    return int(row_hashes(*cols).sum(dtype=np.uint64))


def write_csv(path: str, header: list[str], cols: list) -> int:
    """Write columns (lists or arrays, already formatted as text where
    needed) as a CSV file; returns its size in bytes."""
    lists = [c.tolist() if isinstance(c, np.ndarray) else c for c in cols]
    body = "\n".join(",".join(map(str, row)) for row in zip(*lists))
    with open(path, "w") as f:
        f.write(",".join(header) + "\n" + body + "\n")
    return os.path.getsize(path)


def staging_leftovers(warehouse: str) -> list[str]:
    """Staged or swapped-out data directories left behind by a write."""
    out = []
    for root, dirs, _files in os.walk(warehouse):
        out += [os.path.join(root, d) for d in dirs
                if d.startswith(("data.tmp-", "data.old-", "_staging"))]
    return out


class Deck:
    """Seeded schedule of op kinds. Each block of ops holds every kind as
    often as ``counts`` says, in a seeded random order, so that every run
    has nearly the same mix whatever its seed or length."""

    def __init__(self, counts: dict[str, int], seed: int) -> None:
        self.cards = [k for k, n in counts.items() for _ in range(n)]
        self.rng = random.Random(f"deck-{seed}")   # apart from other draws
        self.hand: list[str] = []

    def draw(self) -> str:
        if not self.hand:
            self.hand = list(self.cards)
            self.rng.shuffle(self.hand)
        return self.hand.pop()
