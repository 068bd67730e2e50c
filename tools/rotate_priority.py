#!/usr/bin/env python3
"""Rotate __spark_entry__._PRIORITY stalest-driver-row-first.

The grading driver verifies a 50-row prefix of ``_PRIORITY`` per round
(CORRECTNESS_r{N}.json), so each round's window must refresh the OLDEST
evidence: queries whose latest driver row is red come first (position
1), then everything else ordered by the round that last verified it
(stalest vintage first); ties keep their current relative order so the
rewrite is a stable re-sort, not a reshuffle.

Usage:
    python tools/rotate_priority.py          # rewrite __spark_entry__.py
    python tools/rotate_priority.py --check  # exit 1 if a rotation is due
    python tools/rotate_priority.py --pin-file touched.txt  # one query per line

Run once at the START of each round, after reading the new
CORRECTNESS_r{N}.json (the standing rule in SURVEY section 8 and the
round-state memory); ``--check`` makes the rotation auditable without
touching the file.

``--pin-file`` (r15 verdict #7): an optimization round rewrites
queries the driver may not re-verify for many rounds under pure
stalest-first rotation; a pin file (one query name per line, # for
comments) sorts the listed TOUCHED queries ahead of the unpinned rest
— after reds, ordered stalest-first among themselves — so the next
driver window oracle-verifies this round's rewrites. The file is
committed, so the prioritization is auditable.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(REPO, "__spark_entry__.py")
USAGE = "python tools/rotate_priority.py [--check] [--pin-file FILE]"


def _vintages() -> tuple[dict[str, int], dict[str, bool], int]:
    """Latest driver round per query, red-ness of that latest row, and
    the newest round number seen."""
    vintage: dict[str, int] = {}
    red: dict[str, bool] = {}
    newest = 0
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        newest = max(newest, rnd)
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if rnd < vintage.get(name, -1):
                continue
            vintage[name] = rnd
            red[name] = not (
                row.get("rows_match")
                and row.get("schema_match")
                # rows-only checks (no oracle) carry no hash key; only
                # an explicit False is a red hash.
                and row.get("hash_match") is not False
                and not row.get("err")
            )
    return vintage, red, newest


def _rotated(
    current: list[str], pinned: frozenset[str] = frozenset()
) -> tuple[list[str], dict[str, int], dict[str, bool]]:
    vintage, red, _newest = _vintages()
    # A query the driver has never verified is maximally stale: it
    # sorts ahead of every dated row (vintage -1) but behind reds.
    # Pinned (touched-this-round) queries sort ahead of unpinned ones,
    # after reds — see the --pin-file doc.
    index = {q: i for i, q in enumerate(current)}
    order = sorted(
        current,
        key=lambda q: (
            0 if red.get(q, False) else 1,
            0 if q in pinned else 1,
            vintage.get(q, -1),
            index[q],
        ),
    )
    return order, vintage, red


def _render(
    order: list[str],
    vintage: dict[str, int],
    red: dict[str, bool],
    pinned: frozenset[str] = frozenset(),
) -> str:
    lines = ["_PRIORITY = ["]
    lines.append(
        "    # ---- driver window (50 rows/round): red-latest-driver-row"
    )
    lines.append(
        "    # queries first, then every entry ordered STALEST DRIVER ROW"
    )
    lines.append(
        "    # FIRST so each round's window refreshes the oldest evidence."
    )
    lines.append(
        "    # Regenerated per round by tools/rotate_priority.py from the"
    )
    lines.append("    # CORRECTNESS_r*.json vintages; do not hand-sort.")
    prev: object = "start"
    for q in order:
        if red.get(q, False):
            tag = "red latest driver row"
        elif q in pinned:
            tag = (
                "pinned (touched this optimization round; "
                f"last driver-verified round {vintage.get(q, -1)})"
                if q in vintage
                else "pinned (touched this optimization round; never verified)"
            )
        elif q not in vintage:
            tag = "never driver-verified"
        else:
            tag = f"last driver-verified round {vintage[q]}"
        if tag != prev:
            lines.append(f"    # -- {tag} --")
            prev = tag
        lines.append(f'    "{q}",')
    lines.append("]")
    return "\n".join(lines)


def main() -> int:
    argv = sys.argv[1:]
    check = "--check" in argv
    pinned: frozenset[str] = frozenset()
    if "--pin-file" in argv:
        i = argv.index("--pin-file") + 1
        if i == len(argv):
            print(f"usage: {USAGE}\n--pin-file needs a file argument", file=sys.stderr)
            return 2
        try:
            with open(argv[i]) as fh:
                pinned = frozenset(
                    line.strip()
                    for line in fh
                    if line.strip() and not line.lstrip().startswith("#")
                )
        except OSError as e:
            print(f"usage: {USAGE}\ncannot read pin file: {e}", file=sys.stderr)
            return 2
    src = open(ENTRY).read()
    m = re.search(r"_PRIORITY = \[.*?\n\]", src, re.S)
    if not m:
        print("no _PRIORITY list found in __spark_entry__.py")
        return 2
    # Parse only real entry lines (`    "name",`), not every double-quoted
    # token in the block — a hand-edited comment like `# see "foo"` must
    # not be mistaken for a query name and written back into the rotation.
    current = re.findall(r'^\s*"([^"]+)",?\s*$', m.group(0), re.M)
    unknown = pinned - set(current)
    if unknown:
        print(f"pin-file names not in _PRIORITY: {sorted(unknown)}")
        return 2
    order, vintage, red = _rotated(current, pinned)
    if order == current:
        print(f"up to date ({len(order)} entries; window head: {order[0]})")
        return 0
    if check:
        first = next(
            i for i, (a, b) in enumerate(zip(current, order)) if a != b
        )
        print(
            f"rotation due: first divergence at position {first + 1} "
            f"({current[first]!r} vs expected {order[first]!r})"
        )
        return 1
    block = _render(order, vintage, red, pinned)
    with open(ENTRY, "w") as fh:
        fh.write(src[: m.start()] + block + src[m.end() :])
    print(f"rotated {len(order)} entries; window head: {order[0]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
