"""Mechanical gate-window verification (the round-close set-diff check).

Asserts, against the declared registry and every CORRECTNESS_r*.json on
disk:

1. `GATE_WINDOW` (the first 50 `QUERY_ORDER` keys) has 50 distinct keys;
2. every declared key that has NO green driver row in any prior round
   (i.e. brand-new keys) is inside the window -- nothing new can miss
   its first gate;
3. no duplicates, and every window key has an `oracle_sql()` entry (or
   is a documented rows-only key).

Usage: python tools/check_window.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import __spark_entry__ as m

    qs = list(m.queries())
    window = list(m.GATE_WINDOW)
    assert len(window) == 50, f"window has {len(window)} keys, not 50"
    assert len(set(window)) == 50, "duplicate keys in GATE_WINDOW"

    ever_green: set[str] = set()
    for f in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..",
                                           "CORRECTNESS_r*.json"))):
        for k, v in json.load(open(f)).items():
            if isinstance(v, dict) and (
                v.get("hash_match") or v.get("rows_match")
            ):
                ever_green.add(k)
    never = [k for k in qs if k not in ever_green]
    missing = [k for k in never if k not in window]
    assert not missing, f"never-gated keys outside the window: {missing}"

    osql = m.oracle_sql()
    no_oracle = [k for k in window if k not in osql]
    assert not no_oracle, f"window keys without oracle_sql: {no_oracle}"
    print(
        f"window OK: 50 keys; {len(never)} never-gated all inside; "
        f"{len(qs)} declared total"
    )


if __name__ == "__main__":
    main()
