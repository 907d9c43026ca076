#!/usr/bin/env python
"""Rotation ledger: when was each oracled query last driver-hashed, and
which 50 should the next round's window seat?

Reads every committed ``CORRECTNESS_r*.json`` (the driver's 50-slot
DuckDB-oracle gate) plus the current ``queries()`` / ``oracle_sql()``
surface, then prints:

  1. the ledger (query -> last round with rows+schema+hash all green),
     grouped by round, as the markdown table COVERAGE.md embeds;
  2. the staleness invariant (VERDICT r10 item 7: no oracled non-EPS
     query older than 4 rounds) and who violates it;
  3. the proposed next window under the r12 FULL-rotation protocol:
     the 50 stalest oracled queries, with any names passed as
     ``--changed NAME ...`` seated first (rule 2: changed-this-round
     preempts staleness).

EPS queries (engine-order-sensitive rounded floats; rule 4) are listed
but never proposed — their hash-exact twins carry driver evidence.

Usage: python tools/rotation_ledger.py [--next-round N] [--changed NAME ...]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from tools.check_correctness import EPS_QUERIES  # noqa: E402

# rule 4: queries compared under a tolerance are never windowed
EPS = EPS_QUERIES.keys()
MAX_AGE_ROUNDS = 4


def load_history() -> tuple[dict[str, int], int]:
    """query -> last round whose driver artifact shows all three matches
    green, plus the latest artifact round seen."""
    hist: dict[str, int] = {}
    latest = 0
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        latest = max(latest, rnd)
        data = json.load(open(f))
        for name, rec in data.items():
            if (
                isinstance(rec, dict)
                and rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
            ):
                hist[name] = max(hist.get(name, 0), rnd)
    return hist, latest


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--next-round", type=int, default=None,
                    help="round the proposed window is FOR (default: "
                    "latest artifact round + 1)")
    ap.add_argument("--changed", nargs="*", default=[],
                    help="queries changed this round — seated first")
    args = ap.parse_args()

    hist, latest = load_history()
    nxt = args.next_round or latest + 1
    qk = list(entrymod.queries().keys())
    oracled = [q for q in qk if q in entrymod.oracle_sql()]
    rotatable = [q for q in oracled if q not in EPS]

    # EPS queries are never driver-hashed BY DESIGN (rule 4; README
    # "EPS queries") — keep them out of the staleness rows entirely so
    # the ledger never reads them as a "never"-hashed backlog.
    by_round: dict[int, list[str]] = {}
    for q in rotatable:
        by_round.setdefault(hist.get(q, 0), []).append(q)

    print(f"### Rotation ledger (as of CORRECTNESS_r{latest}; "
          f"{len(oracled)} oracled, {len(rotatable)} rotatable, "
          f"{len(EPS)} EPS)\n")
    print("| last driver-hashed | n | queries |")
    print("| --- | --- | --- |")
    for rnd in sorted(by_round, reverse=True):
        qs = sorted(by_round[rnd])
        tag = f"r{rnd}" if rnd else "never"
        print(f"| {tag} | {len(qs)} | {' '.join(qs)} |")
    eps_rows = " ".join(sorted(EPS & set(oracled)))
    if eps_rows:
        print(f"| by design: EPS, never windowed (rule 4, twins carry "
              f"evidence) | {len(EPS & set(oracled))} | {eps_rows} |")

    stale = sorted(
        q for q in rotatable if nxt - hist.get(q, 0) > MAX_AGE_ROUNDS
    )
    print(f"\ninvariant (no rotatable query older than {MAX_AGE_ROUNDS} "
          f"rounds entering r{nxt}): "
          f"{'HOLDS' if not stale else f'VIOLATED by {len(stale)}'}")
    if stale:
        print("stale:", " ".join(stale))

    unknown = [q for q in args.changed if q not in rotatable]
    if unknown:
        print(f"\nWARNING: --changed names not rotatable: {unknown}")
    changed = [q for q in args.changed if q in rotatable]
    # full-rotation proposal: changed first, then never-hashed, then by
    # ascending last-hash round; name-sorted within a tier for
    # reproducibility
    rest = sorted(
        (q for q in rotatable if q not in changed),
        key=lambda q: (hist.get(q, 0), q),
    )
    window = (changed + rest)[:50]
    print(f"\nproposed r{nxt} window (50 stalest, changed-first):")
    for i, q in enumerate(window, 1):
        last = hist.get(q, 0)
        why = ("changed" if q in changed
               else "never" if not last else f"last r{last}")
        print(f"  {i:2d}. {q} ({why})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
