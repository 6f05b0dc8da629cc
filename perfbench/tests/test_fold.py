"""The independent sync fold on a hand-made landing: an equal-cursor
duplicate, a late update, a malformed line and an Amharic string."""

from __future__ import annotations

import json

from perfbench import fold
from perfbench.datagen import parse_iso_us


def _doc(_id, cursor, service, meta=None):
    return {"_id": _id, "serviceName": service, "meta": meta, "updated_at": cursor}


def _land(path, lines):
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return {"tickets": str(path)}


def test_fold_hand_made_case(tmp_path):
    t2 = json.dumps(_doc("t2", "2024-03-01T08:00:01.000Z", "Account opening"), ensure_ascii=False)
    seed = _land(
        tmp_path / "c0.jsonl",
        [
            json.dumps(_doc("t1", "2024-03-01T08:00:00.000Z", "ገንዘብ ማስገባት"), ensure_ascii=False),
            t2,
            t2,  # equal-cursor duplicate: one row
            '{"_id": "t3", "updated_at": "2024-03-01T08:0',  # malformed: dropped
        ],
    )
    delta = _land(
        tmp_path / "c1.jsonl",
        [
            # newer cursor: replaces t1, Amharic text intact
            json.dumps(_doc("t1", "2024-03-01T08:00:05.000Z", "ገንዘብ ማውጣት", {"tags": ["ሰላም"], "channel": None}), ensure_ascii=False),
            # cursor equal to the checkpoint: dropped by the strict > rule
            json.dumps(_doc("t2", "2024-03-01T08:00:01.000Z", "changed"), ensure_ascii=False),
            # late update older than the checkpoint: dropped
            json.dumps(_doc("t4", "2024-03-01T07:00:00.000Z", "late"), ensure_ascii=False),
        ],
    )
    expected, hwm = fold.fold([seed, delta])
    rows = {d["_id"]: d for d in expected["tickets"]}
    assert sorted(rows) == ["t1", "t2"]
    assert rows["t1"]["serviceName"] == "ገንዘብ ማውጣት"
    assert rows["t2"]["serviceName"] == "Account opening"
    assert hwm["tickets"] == parse_iso_us("2024-03-01T08:00:05.000Z")


def test_canonical_matches_the_stored_shape():
    """Nested values compare as JSON with NULL fields omitted, the way
    ``to_json`` stores them; timestamps compare as microseconds."""
    doc = _doc("t1", "2024-03-01T08:00:05.000Z", "x", {"tags": ["ሰላም"], "channel": None})
    row = dict(fold.canonical(doc))
    assert row["meta"] == json.dumps({"tags": ["ሰላም"]}, ensure_ascii=False)
    assert row["updated_at"] == parse_iso_us("2024-03-01T08:00:05.000Z")
    assert row["_source"] == "qms"
