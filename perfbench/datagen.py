"""Seeded input generators for the three workloads.

Everything the program under test reads is made here from ``--seed``:
the same seed gives byte-identical inputs. Generation runs in numpy and
pyarrow, outside Spark, so it adds no jobs to the event log and is not
part of any timed region.

- ``write_star_tables`` writes the ten fixture tables the registered
  queries read (TPC-H-shaped star schema plus ``events``, ``documents``
  and ``embeddings``), with the schemas and value domains of the
  fixture tables TESTDATA.md describes, scaled by ``sf``.
- ``QmsFeed`` produces the QMS document stream for ``sync``: a seed
  landing file per collection, then one JSON-lines delta per collection
  per cycle.
- ``MaintainFeed`` produces the base tables and per-cycle batches for
  ``maintain``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)


def _us(ts: dt.datetime) -> int:
    return (ts - EPOCH) // dt.timedelta(microseconds=1)


def iso_us(us: int) -> str:
    """ISO-8601 UTC text with millisecond precision, as a document store
    exports it (``2024-03-01T08:00:00.123Z``)."""
    ts = EPOCH + dt.timedelta(microseconds=int(us))
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def parse_iso_us(text: str) -> int:
    ts = dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ")
    return _us(ts)


# ---------------------------------------------------------------- star tables

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "nut", "pin"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: dt.datetime, offsets) -> pa.Array:
    us = _us(base) + np.asarray(offsets, dtype=np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The fixture tables at scale ``sf`` (sf 0.1 ≈ 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(dt.datetime(1995, 1, 1), rng.integers(0, 2405, n_ord)),
            "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["F", "O"], n_line),
            "l_shipdate": _days(dt.datetime(1995, 1, 2), rng.integers(0, 2500, n_line)),
        }
    )
    gaps = rng.exponential(26e6, n_ev).astype(np.int64) + 1
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(_us(dt.datetime(2024, 1, 1)) + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
            "event_type": _choice(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lens = rng.integers(10, 101, n_doc)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), k)]) for k in lens]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": _choice(rng, _LANGS, n_doc, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return out


def write_star_tables(root: str, seed: int, sf: float) -> str:
    """Write the fixture tables as ``<root>/<name>.parquet``; returns root."""
    os.makedirs(root, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root


# ------------------------------------------------------------------ QMS feed

COLLECTIONS = ("tickets", "users", "ratings")
_SERVICES = ["ገንዘብ ማስገባት", "ገንዘብ ማውጣት", "የብድር አገልግሎት", "Account opening"]
_COMPANIES = ["አቢሲኒያ ባንክ", "ዳሽን ባንክ", "Awash Bank"]
_COMMENTS = ["በጣም ጥሩ", "ጥሩ አገልግሎት", "slow queue", None, None]
_CHANNELS = ["kiosk", "mobile", "web", None]
_ROLES = ["staff", "supervisor", None]
SOURCE = "qms"
T0_US = _us(dt.datetime(2024, 3, 1, 8, 0, 0))
CYCLE_US = 60_000_000
N_TICKETS = 5_000  # tickets in the seed landing
N_USERS = 300
TRICKLE_ROWS = 40  # tickets per ordinary cycle
BURST_EVERY = 8  # every 8th cycle is a rush-hour burst
BURST_ROWS = 2_000


class QmsFeed:
    """Deterministic QMS document stream.

    ``seed_docs()`` is the initial landing (``N_TICKETS`` tickets
    with 30 days of history); ``cycle(c)`` for c = 1, 2, … returns one
    delta per collection. Cycles must be taken in order: each depends on
    the ids and cursors of the ones before.

    Every landing includes the edges the sync path must handle:
    NULL scalars and nested fields, Amharic strings, exact replays of a
    line (same key, same cursor), a line whose cursor equals the
    previous high-water mark (dropped by the strict ``>`` delta rule), a
    late update older than the checkpoint (also dropped) and, in about
    half the deltas, one malformed line. Ticket updates mostly hit the
    most recent tickets. Every ``BURST_EVERY``-th cycle is a rush-hour
    burst of ``BURST_ROWS`` tickets; the others are trickles of
    ``TRICKLE_ROWS``. Sizes are fixed so seeds change content, not cost.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.next_ticket = 0
        self.hwm = {c: None for c in COLLECTIONS}
        self.cycles_made = 0

    # -- documents

    def _ticket(self, i: int, cur: int) -> dict:
        r = self.rng
        date = cur - int(r.integers(0, 3_600_000_000))
        called = date + int(r.integers(30_000_000, 1_800_000_000))
        served = bool(r.random() < 0.85)
        meta = None
        if r.random() < 0.8:
            tags = [str(t) for t in r.choice(["vip", "new", "repeat", "ሰላም"], int(r.integers(0, 3)), replace=False)]
            meta = {
                "priority": int(r.integers(1, 6)),
                "channel": _CHANNELS[int(r.integers(0, len(_CHANNELS)))],
                "tags": tags,
            }
        return {
            "_id": f"t{i:07d}",
            "ticketNumber": f"A-{i % 1000:03d}",
            "sequentialNumber": i % 1000,
            "companyId": f"c{i % 3}",
            "roomId": f"room{int(r.integers(0, 12))}",
            "staffId": f"u{int(r.integers(0, N_USERS)):05d}",
            "serviceName": _SERVICES[int(r.integers(0, len(_SERVICES)))],
            "date": iso_us(date),
            "calledAt": iso_us(called),
            "servedDate": iso_us(called + int(r.integers(60_000_000, 1_500_000_000))) if served else None,
            "served": served,
            "meta": meta,
            "updated_at": iso_us(cur),
        }

    def _user(self, i: int, cur: int) -> dict:
        r = self.rng
        rooms = [f"room{int(x)}" for x in r.choice(12, int(r.integers(0, 4)), replace=False)]
        return {
            "_id": f"u{i:05d}",
            "username": f"AMINFO-{i % 7:02d}-STAFF-{i}",
            "email": f"staff{i}@example.org" if r.random() < 0.9 else None,
            "role": _ROLES[int(r.integers(0, len(_ROLES)))],
            "assignedRooms": rooms,
            "meta": {"lang": "am" if r.random() < 0.5 else "en", "shift": None if r.random() < 0.3 else "day"},
            "updated_at": iso_us(cur),
        }

    def _rating(self, ticket: int, cur: int) -> dict:
        r = self.rng
        return {
            "_id": f"r{ticket:07d}",
            "ticketId": f"t{ticket:07d}",
            "userId": f"u{int(r.integers(0, N_USERS)):05d}",
            "stars": int(r.integers(1, 6)),
            "companyName": _COMPANIES[int(r.integers(0, len(_COMPANIES)))],
            "comment": _COMMENTS[int(r.integers(0, len(_COMMENTS)))],
            "updated_at": iso_us(cur),
        }

    # -- landings

    def _cursors(self, n: int, lo: int, hi: int) -> np.ndarray:
        # distinct millisecond cursors: one key never carries two payloads
        # under one cursor, so last-write-wins has a unique winner
        ms = self.rng.choice(hi // 1000 - lo // 1000, n, replace=False)
        return (lo // 1000 + np.sort(ms)) * 1000

    def _finish(self, docs: dict[str, list[dict]], lo: int) -> dict[str, list[str]]:
        """Add replays, the hwm-edge line, a late update and a malformed
        line; advance the per-collection high-water marks; render."""
        r = self.rng
        out: dict[str, list[str]] = {}
        for coll, rows in docs.items():
            lines = [json.dumps(d, ensure_ascii=False) for d in rows]
            if rows:
                for k in r.choice(len(rows), max(1, len(rows) // 50), replace=True):
                    lines.append(lines[int(k)])  # at-least-once replay
            prev = self.hwm[coll]
            if prev is not None and rows:
                edge = dict(rows[0], updated_at=iso_us(prev))
                lines.append(json.dumps(edge, ensure_ascii=False))
                late = dict(rows[-1], updated_at=iso_us(lo - 3_600_000_000))
                lines.append(json.dumps(late, ensure_ascii=False))
            if r.random() < 0.5 and lines:
                bad = lines[int(r.integers(0, len(lines)))]
                lines.append(bad[: len(bad) // 2])
            order = r.permutation(len(lines))
            out[coll] = [lines[int(k)] for k in order]
            if rows:
                top = max(parse_iso_us(d["updated_at"]) for d in rows)
                self.hwm[coll] = top if prev is None else max(prev, top)
        return out

    def seed_docs(self) -> dict[str, list[str]]:
        lo, hi = T0_US - 30 * 86_400_000_000, T0_US
        n = N_TICKETS
        cur = self._cursors(n, lo, hi)
        tickets = [self._ticket(i, int(cur[i])) for i in range(n)]
        self.next_ticket = n
        users = [self._user(i, int(c)) for i, c in enumerate(self._cursors(N_USERS, lo, hi))]
        rated = self.rng.choice(n, n // 3, replace=False)
        rcur = self._cursors(len(rated), lo, hi)
        ratings = [self._rating(int(t), int(c)) for t, c in zip(sorted(rated), rcur)]
        return self._finish({"tickets": tickets, "users": users, "ratings": ratings}, lo)

    def cycle(self, c: int) -> dict[str, list[str]]:
        if c != self.cycles_made + 1:
            raise ValueError(f"cycles must be taken in order: want {self.cycles_made + 1}, got {c}")
        self.cycles_made = c
        r = self.rng
        lo = T0_US + (c - 1) * CYCLE_US
        hi = lo + CYCLE_US
        burst = c % BURST_EVERY == 0
        n = BURST_ROWS if burst else TRICKLE_ROWS
        cur = self._cursors(n, lo, hi)
        tickets = []
        for k in range(n):
            if r.random() < 0.35:
                i = self.next_ticket
                self.next_ticket += 1
            elif r.random() < 0.8:  # most updates hit recent tickets
                i = self.next_ticket - 1 - int(r.integers(0, min(2_000, self.next_ticket)))
            else:
                i = int(r.integers(0, self.next_ticket))
            tickets.append(self._ticket(i, int(cur[k])))
        n_users = 2
        users = [
            self._user(int(i), int(cc))
            for i, cc in zip(r.integers(0, N_USERS, n_users), self._cursors(n_users, lo, hi))
        ]
        rated = sorted({int(t["_id"][1:]) for t in tickets if t["served"]})[: max(1, n // 2)]
        ratings = [self._rating(t, int(cc)) for t, cc in zip(rated, self._cursors(len(rated), lo, hi))]
        return self._finish({"tickets": tickets, "users": users, "ratings": ratings}, lo)


def write_landing(root: str, docs: dict[str, list[str]]) -> dict[str, str]:
    """Write one JSON-lines file per collection under ``root``."""
    os.makedirs(root, exist_ok=True)
    paths = {}
    for coll, lines in docs.items():
        path = os.path.join(root, f"{coll}.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        paths[coll] = path
    return paths


# -------------------------------------------------------------- maintain feed

N_EVENTS = 10_000  # events in the base fact table
N_CUSTOMERS = 1_000
BATCH_ROWS = 120  # events per cycle
DUP_SHARE = 0.2  # share of gate items that near-duplicate an earlier one


class MaintainFeed:
    """Base tables and per-cycle batches for the ``maintain`` workload.

    Events are clustered in time: each cycle's batch covers one virtual
    hour, so the rollup update touches one or two day partitions, and
    about a third of its rows update recent events. Gate batches mix
    fresh items with near-duplicates of items admitted earlier.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 3])
        self.next_event = 0
        self.clock_us = _us(dt.datetime(2024, 1, 1))
        self.cdc_seq = 0
        self.cdc_keys = 0
        self.next_doc = 0
        self.next_img = 0
        self.next_vec = 0
        self.docs: list[str] = []
        self.imgs: list[bytes] = []
        self.vecs: list[np.ndarray] = []

    def _events(self, n: int, span_us: int, updates: float) -> dict:
        r = self.rng
        ids = []
        for _ in range(n):
            if self.next_event and r.random() < updates:
                ids.append(self.next_event - 1 - int(r.integers(0, min(500, self.next_event))))
            else:
                ids.append(self.next_event)
                self.next_event += 1
        ts = self.clock_us + np.sort(r.integers(0, span_us // 1000, n)) * 1000
        self.clock_us += span_us
        return {
            "event_id": np.asarray(ids, dtype=np.int64),
            "ts": ts,
            "user_id": r.integers(0, N_CUSTOMERS, n),
            "event_type": np.asarray(_EVENT_TYPES, dtype=object)[r.integers(0, 5, n)],
            "cents": r.integers(0, 50_000, n),
        }

    @staticmethod
    def fact_rows(ev: dict) -> pa.Table:
        """Events in keyed fact shape (the merge / MV / join-MV input)."""
        return pa.table(
            {
                "_id": [f"e{i:08d}" for i in ev["event_id"]],
                "grp": ev["event_type"],
                "cust_id": pa.array(ev["user_id"], pa.int64()),
                "amount": pa.array(ev["cents"], pa.int64()),
                "updated_at": pa.array(ev["ts"], pa.timestamp("us")),
            }
        )

    @staticmethod
    def event_rows(ev: dict) -> pa.Table:
        """Events in raw stream shape (the rollup input)."""
        n = len(ev["event_id"])
        return pa.table(
            {
                "event_id": pa.array(ev["event_id"], pa.int64()),
                "ts": pa.array(ev["ts"], pa.timestamp("us")),
                "user_id": pa.array(ev["user_id"], pa.int64()),
                "event_type": ev["event_type"],
                "value": pa.array(ev["cents"].astype(np.float64)),
                "props": pa.array([None] * n, pa.string()),
            }
        )

    def base_events(self) -> dict:
        return self._events(N_EVENTS, 14 * 86_400_000_000, updates=0.0)

    def batch_events(self) -> dict:
        return self._events(BATCH_ROWS, 3_600_000_000, updates=0.35)

    def customers(self, moved: int = 0) -> pa.Table:
        """The dimension; ``moved`` > 0 returns only that many customers
        moved to the next nation group (a dimension change)."""
        r = self.rng
        if moved:
            ids = np.sort(r.choice(N_CUSTOMERS, moved, replace=False))
            nation = (self.nation[ids] + 1) % 25
            self.nation[ids] = nation
        else:
            ids = np.arange(N_CUSTOMERS)
            self.nation = r.integers(0, 25, N_CUSTOMERS)
            nation = self.nation
        self.clock_us += 1000
        return pa.table(
            {
                "_id": [f"c{i:06d}" for i in ids],
                "cust_id": pa.array(ids, pa.int64()),
                "nation_grp": pa.array(nation, pa.int64()),
                "updated_at": pa.array(np.full(len(ids), self.clock_us), pa.timestamp("us")),
            }
        )

    def changes(self, n: int) -> pa.Table:
        """A sequenced CDC feed: upserts of new and existing keys and
        deletes of existing ones, strictly increasing ``_seq``."""
        r = self.rng
        keys, ops, vals = [], [], []
        for _ in range(n):
            if self.cdc_keys == 0 or r.random() < 0.4:
                keys.append(self.cdc_keys)
                self.cdc_keys += 1
                ops.append("upsert")
            else:
                keys.append(int(r.integers(0, self.cdc_keys)))
                ops.append("delete" if r.random() < 0.3 else "upsert")
            vals.append(None if ops[-1] == "delete" else f"v{int(r.integers(0, 10**6))}")
        seq = self.cdc_seq + np.arange(1, n + 1)
        self.cdc_seq += n
        return pa.table(
            {
                "_id": [f"k{k:06d}" for k in keys],
                "_seq": pa.array(seq, pa.int64()),
                "_op": ops,
                "v": pa.array(vals, pa.string()),
            }
        )

    def _near(self, items: list, fresh, tweak, n: int):
        r = self.rng
        out = []
        for _ in range(n):
            if items and r.random() < DUP_SHARE:
                out.append(tweak(items[int(r.integers(0, len(items)))]))
            else:
                out.append(fresh())
        items.extend(out)
        return out

    def documents(self, n: int) -> pa.Table:
        r = self.rng
        words = np.asarray(_WORDS, dtype=object)

        def fresh():
            return " ".join(words[r.integers(0, len(_WORDS), int(r.integers(30, 80)))])

        def tweak(text):
            toks = text.split()
            toks[int(r.integers(0, len(toks)))] = str(words[int(r.integers(0, len(_WORDS)))])
            return " ".join(toks)

        texts = self._near(self.docs, fresh, tweak, n)
        ids = np.arange(self.next_doc, self.next_doc + n)
        self.next_doc += n
        return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})

    def images(self, n: int) -> pa.Table:
        r = self.rng

        letters = np.asarray(list("abcdefghijklmnopqrstuvwxyz"), dtype=object)

        def fresh():
            # a few repeated tokens: payloads with distinct byte-bigram
            # mixes, which the stub thumbnail keeps apart
            tokens = ["".join(letters[r.integers(0, 26, int(r.integers(1, 6)))]) for _ in range(int(r.integers(8, 16)))]
            return " ".join(tokens * int(r.integers(20, 40))).encode()

        def tweak(b):
            arr = bytearray(b)
            arr[int(r.integers(0, len(arr)))] = int(r.integers(97, 123))
            return bytes(arr)

        payloads = self._near(self.imgs, fresh, tweak, n)
        ids = np.arange(self.next_img, self.next_img + n)
        self.next_img += n
        return pa.table({"doc_id": pa.array(ids, pa.int64()), "content": pa.array(payloads, pa.binary())})

    def vectors(self, n: int) -> pa.Table:
        r = self.rng

        def unit(v):
            return (v / np.linalg.norm(v)).astype(np.float32)

        def fresh():
            return unit(r.standard_normal(64))

        def tweak(v):
            return unit(v + 0.05 * r.standard_normal(64))

        vecs = self._near(self.vecs, fresh, tweak, n)
        ids = np.arange(self.next_vec, self.next_vec + n)
        self.next_vec += n
        return pa.table(
            {"vec_id": pa.array(ids, pa.int64()), "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32()))}
        )
