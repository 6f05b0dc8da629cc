"""The generators are deterministic per seed: the same seed gives the
same inputs, another seed gives different ones."""

from __future__ import annotations

from perfbench import datagen


def _qms(seed: int, cycles: int = datagen.BURST_EVERY + 1) -> list:
    feed = datagen.QmsFeed(seed)
    return [feed.seed_docs()] + [feed.cycle(c) for c in range(1, cycles + 1)]


def _maintain(seed: int) -> list:
    feed = datagen.MaintainFeed(seed)
    ev = feed.base_events()
    return [
        feed.fact_rows(ev),
        feed.event_rows(ev),
        feed.customers(),
        feed.customers(moved=5),
        feed.fact_rows(feed.batch_events()),
        feed.changes(40),
        feed.documents(10),
        feed.images(10),
        feed.vectors(10),
    ]


def test_star_tables_repeat_per_seed():
    a, b = datagen.star_tables(7, 0.001), datagen.star_tables(7, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    c = datagen.star_tables(8, 0.001)
    assert not c["lineitem"].equals(a["lineitem"])


def test_qms_feed_repeats_per_seed():
    assert _qms(3) == _qms(3)
    assert _qms(3) != _qms(4)


def test_qms_feed_carries_the_edge_cases():
    landings = _qms(5)
    lines = [line for landing in landings for coll in landing.values() for line in coll]
    assert any("ገንዘብ" in line or "ባንክ" in line for line in lines)  # Amharic
    seed_tickets = landings[0]["tickets"]
    assert len(seed_tickets) > len(set(seed_tickets))  # exact replays
    bursts = [len(landing["tickets"]) for landing in landings[1:]]
    assert max(bursts) >= datagen.BURST_ROWS > min(bursts)  # trickles and a rush-hour burst


def test_qms_cycles_must_be_taken_in_order():
    feed = datagen.QmsFeed(1)
    feed.seed_docs()
    try:
        feed.cycle(2)
    except ValueError:
        return
    raise AssertionError("out-of-order cycle accepted")


def test_maintain_feed_repeats_per_seed():
    a, b, c = _maintain(9), _maintain(9), _maintain(10)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a, c))
