"""Driver-rotation discipline (round-3 verdict item 5), pinned
mechanically: the correctness driver records exactly the FIRST 50
registered qkeys per round (confirmed r1/r2/r3), so every qkey that
does NOT yet hold a green driver record in any committed
CORRECTNESS_r*.json must appear inside that 50-key window — otherwise a
new operator silently lands past the cap and never gets a driver
record. No Spark session needed."""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, "/root/repo")

DRIVER_CAP = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _green_recorded_keys() -> set[str]:
    """qkeys with at least one green record across all recorded rounds:
    a full SQL-oracle hash pass, or a rows-only run with > 0 rows."""
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            rec = json.load(f)
        for key, row in rec.items():
            if row.get("hash_match"):
                green.add(key)
            elif row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0:
                green.add(key)
    return green


def test_unrecorded_qkeys_inside_driver_cap():
    import __spark_entry__ as e

    names = list(e.queries())
    green = _green_recorded_keys()
    assert green, "no CORRECTNESS_r*.json records found — cannot pin rotation"
    unrecorded = [n for n in names if n not in green]
    past_cap = [n for n in unrecorded if n not in set(names[:DRIVER_CAP])]
    assert past_cap == [], (
        f"qkeys with no green driver record sit past the {DRIVER_CAP}-key "
        f"driver cap and would never be recorded: {past_cap} — check "
        "queries._rotation_order"
    )


def test_priority_covers_registry_exactly():
    """_PRIORITY must enumerate the registry exactly: no dangling names
    and no registered key missing from the rotation's ordering."""
    from dedup import queries as q

    assert set(q._PRIORITY) == set(q.REGISTRY), (
        set(q._PRIORITY) ^ set(q.REGISTRY)
    )


def _newest_green_round() -> dict[str, int]:
    """Round of each qkey's NEWEST green driver record."""
    newest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        with open(path) as f:
            rec = json.load(f)
        for key, row in rec.items():
            if row.get("hash_match") or (
                row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0
            ):
                newest[key] = max(newest.get(key, 0), rnd)
    return newest


def test_rotation_is_oldest_record_first():
    """Round-4 verdict item 1: with more keys than the 50-record cap,
    the cap must always land on the STALEST keys — unrecorded keys
    first, then newest-green-record round non-decreasing along the
    whole list. queries._PRIORITY is derived from the same records at
    import, so a newly committed CORRECTNESS_r*.json re-rotates it; this
    pins the derivation against an independent reading of the files."""
    import __spark_entry__ as e

    names = list(e.queries())
    newest = _newest_green_round()
    seq = [newest.get(n, 0) for n in names]  # 0 = unrecorded → first
    violations = [
        (names[i], seq[i], names[i + 1], seq[i + 1])
        for i in range(len(seq) - 1)
        if seq[i] > seq[i + 1]
    ]
    assert violations == [], (
        "rotation not oldest-record-first (prev_key, prev_round, key, "
        f"round): {violations[:5]} — queries._rotation_order must put keys "
        "with older newest-records first"
    )
