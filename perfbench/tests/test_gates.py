"""The independent gate admission replay on hand-made items."""

from __future__ import annotations

import numpy as np

from perfbench import gates


def test_replay_keeps_the_lowest_id_and_probes_the_stored_corpus():
    same = lambda a, b: a == b  # noqa: E731
    batches = [[(2, "a"), (1, "a"), (5, "b")], [(3, "a"), (4, "c")]]
    assert gates.replay(batches, same) == [1, 4, 5]


def test_a_rejected_item_still_rejects_later_ones_of_its_batch():
    near = lambda a, b: abs(a - b) == 1  # noqa: E731
    assert gates.replay([[(1, 10), (2, 11), (3, 12)]], near) == [1]
    assert gates.duplicate_pairs([(1, 10), (2, 11), (3, 12)], near) == [(1, 2), (2, 3)]


def test_minhash_and_dhash_tests():
    text = " ".join(f"w{i}" for i in range(60))
    tweaked = text.replace("w30", "x30")
    other = " ".join(f"v{i}" for i in range(60))
    assert gates.doc_dup(gates.doc(text), gates.doc(tweaked))
    assert not gates.doc_dup(gates.doc(text), gates.doc(other))
    assert gates.doc("two words").bands == ()
    payload = b"abc defg hij " * 30
    assert gates.image_dup(gates.image(payload), gates.image(payload[:-1] + b"z"))


def test_semantic_cells_and_cosine():
    rng = np.random.default_rng(0)
    base = rng.standard_normal((16, 64)).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    cents = gates.centroids(list(range(16)), base)
    assert len(cents) == 8 and {cid for cid, _ in cents} <= set(range(8))
    near = base[3] + 0.01 * rng.standard_normal(64).astype(np.float32)
    a, b, c = gates.vecs(np.stack([base[3], near / np.linalg.norm(near), -base[3]]), cents)
    assert a.cell == b.cell and gates.vec_dup(a, b)
    assert not gates.vec_dup(a, c)
