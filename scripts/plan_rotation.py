"""Plan the next round's driver-certification window.

The driver certifies the FIRST 50 rows of the QUERIES registry
(CORRECTNESS_r{N}.json). This script reads every CORRECTNESS_r*.json in
the repo root, classifies each current registry row as never-certified /
stale / fresh, and prints the recommended next window: never-certified
rows first (registry order), back-filled with the stalest certified rows.

Usage: python scripts/plan_rotation.py [window_size]
Then set ``_CERT_WINDOW`` in ecokg_spark/contract/__init__.py to the printed
names: ``_window_order`` moves them to positions 1..window_size of QUERIES
(and ORACLES) and leaves the ``_ROWS`` table, and so every other row's
relative order, as declared.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecokg_spark.contract import QUERIES  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _certified_rounds() -> dict[str, int]:
    """name -> latest round with a fully-green driver record."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        try:
            data = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        rows = data.get("results", data if isinstance(data, dict) else {})
        if isinstance(rows, list):
            rows = {r.get("name", r.get("query", "")): r for r in rows}
        for name, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            ok = rec.get("hash_match")
            if ok is None:
                ok = rec.get("rows_match") and rec.get("schema_match")
            if ok:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def main() -> None:
    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    latest = _certified_rounds()
    names = list(QUERIES)
    never = [n for n in names if n not in latest]
    stale = sorted((n for n in names if n in latest),
                   key=lambda n: (latest[n], names.index(n)))
    plan = (never + stale)[:window]
    print(f"# registry: {len(names)} rows; never-certified: {len(never)}; "
          f"window: {window}")
    print("# recommended window (never-certified first, then stalest):")
    for i, n in enumerate(plan, 1):
        tag = "NEVER" if n not in latest else f"r{latest[n]:02d}"
        print(f"{i:3d}. {n:30s} [{tag}]")
    rest = [n for n in names if n not in set(plan)]
    print(f"# remaining {len(rest)} rows keep their relative order after "
          "the window")


if __name__ == "__main__":
    main()
