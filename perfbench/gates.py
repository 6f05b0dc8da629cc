"""Independent admission replay for the three ingest gates.

Every gate admits an offered item unless it is a near-duplicate of a
stored item or of a lower-id item of its own batch (that lower item
counts even when it is itself rejected). ``replay`` applies that rule
in plain Python to every batch offered, in order, and returns the ids
the corpus must hold. Each gate's near-duplicate test is recomputed
here from the raw items; only the parameters come from the package:

- ``incremental_dedup``: distinct lowercased 3-word shingles. A pair is
  a candidate when their MinHash signatures agree on one band (eight
  slots, each the least 4-hex-digit slice of one md5 per shingle; a
  band is two adjacent slots), and a duplicate when the shingle
  Jaccard is at least the threshold.
- ``phash_gate``: the 64-bit dHash of the package's stub thumbnail; a
  duplicate at Hamming distance at most the threshold.
- ``semantic_gate``: fixed-point vectors in cells. The cells come from
  one Lloyd step over the first batch seeded by its lowest ids; a pair
  is a duplicate when it shares a cell and its cosine reaches the
  threshold, compared in integers.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Callable

import numpy as np


def replay(batches: list[list[tuple[int, object]]], is_dup: Callable[[object, object], bool]) -> list[int]:
    """Ids admitted over ``batches`` of (id, item), offered in order."""
    stored: list[tuple[int, object]] = []
    for batch in batches:
        batch = sorted(batch, key=lambda x: x[0])
        admitted = [
            (key, item)
            for i, (key, item) in enumerate(batch)
            if not any(is_dup(item, other) for _, other in stored + batch[:i])
        ]
        stored += admitted
    return sorted(key for key, _ in stored)


def duplicate_pairs(items: list[tuple[int, object]], is_dup) -> list[tuple[int, int]]:
    """Id pairs among ``items`` that are near-duplicates of each other."""
    return [(a, b) for i, (a, x) in enumerate(items) for b, y in items[i + 1 :] if is_dup(x, y)]


# ------------------------------------------------------------------ MinHash


@dataclass(frozen=True)
class Doc:
    shingles: frozenset
    bands: tuple


def doc(text: str) -> Doc:
    from qms_datawarehouse_spark.operators.dedup import N_BANDS, N_MINHASH

    words = text.lower().split(" ")
    shingles = frozenset(" ".join(words[i : i + 3]) for i in range(len(words) - 2))
    if not shingles:
        return Doc(shingles, ())
    digests = [hashlib.md5(s.encode()).hexdigest() for s in shingles]
    slots = [min(h[4 * i : 4 * i + 4] for h in digests) for i in range(N_MINHASH)]
    return Doc(shingles, tuple((j, slots[2 * j], slots[2 * j + 1]) for j in range(N_BANDS)))


def doc_dup(a: Doc, b: Doc) -> bool:
    from qms_datawarehouse_spark.operators.dedup import JACCARD_THRESHOLD

    if not set(a.bands) & set(b.bands):
        return False
    common = len(a.shingles & b.shingles)
    return common * 1.0 / (len(a.shingles) + len(b.shingles) - common) >= JACCARD_THRESHOLD


# -------------------------------------------------------------------- dHash


def image(content: bytes) -> int:
    """64 neighbour-comparison bits of the stub thumbnail."""
    from qms_datawarehouse_spark.operators.multimodal import IMAGE_GRID_W, fake_image_grid

    grid = fake_image_grid(content)
    bits = 0
    for j in range(64):
        left = (j // 8) * IMAGE_GRID_W + j % 8
        if grid[left] < grid[left + 1]:
            bits |= 1 << j
    return bits


def image_dup(a: int, b: int) -> bool:
    from qms_datawarehouse_spark.operators.multimodal import _PHASH_T

    return bin(a ^ b).count("1") <= _PHASH_T


# ----------------------------------------------------------------- semantic


@dataclass(frozen=True)
class Vec:
    cell: int
    w: tuple  # floor(x * 1000), the cosine terms
    nn: int


def _shifted(vectors: np.ndarray) -> np.ndarray:
    return np.floor((vectors.astype(np.float64) + 1.0) * 1000.0).astype(np.int64)


def _nearest(v: np.ndarray, cents: list[tuple[int, np.ndarray]]) -> int:
    # lowest squared distance, ties to the lowest cell id
    return min((int(((v - cv) ** 2).sum()), cid) for cid, cv in cents)[1]


def centroids(ids: list[int], vectors: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """One Lloyd step over the first batch: seeds are its lowest ids,
    means are per-dimension integer means of the shifted vectors."""
    from qms_datawarehouse_spark.operators.kmeans_core import km_scaled_k

    order = np.argsort(ids)
    v = _shifted(vectors)
    k = km_scaled_k(len(ids))
    seeds = [(int(ids[i]), v[i]) for i in order[:k]]
    members: dict[int, list[np.ndarray]] = {}
    for row in v:
        members.setdefault(_nearest(row, seeds), []).append(row)
    return [(cid, np.stack(rows).sum(axis=0) // len(rows)) for cid, rows in sorted(members.items())]


def vecs(vectors: np.ndarray, cents) -> list[Vec]:
    w = np.floor(vectors.astype(np.float64) * 1000.0).astype(np.int64)
    return [
        Vec(_nearest(row, cents), tuple(int(x) for x in wr), int(sum(int(x) * int(x) for x in wr)))
        for row, wr in zip(_shifted(vectors), w)
    ]


def vec_dup(a: Vec, b: Vec) -> bool:
    from qms_datawarehouse_spark.operators.kmeans_core import _SEM_T2

    if a.cell != b.cell:
        return False
    dot = sum(x * y for x, y in zip(a.w, b.w))
    return dot > 0 and dot * dot * 10_000 >= _SEM_T2 * a.nn * b.nn
