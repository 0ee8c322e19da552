"""Generate LEDGER.md: for every registered query, the round of its most
recent driver-green correctness row (VERDICT r05 stretch item 8).

The rotation policy (README / __spark_entry__ docstring) keeps the
driver's 50-entry window on NEW / CHANGED / NEVER-PROVEN queries and
rotates burned-in entries out; the standing claim is "every entry has
held a driver-green row over since-unchanged code". This table makes the
judge's cross-reference mechanical: it scans CORRECTNESS_r*.json in
round order and records, per registry entry, the latest round whose row
was fully green (rows + schema + hash, no err) and the check mode
(hash vs rows-only for the oracle-less entries).

Since r10 (VERDICT r09 #7) the table also emits a ``next window``
column: the mechanically derived plan for the NEXT driver window under
the standing rotation rule — entries whose plan or oracle CHANGED this
round first (in registry order), then every other entry ranked by
oldest ``last green`` (registry order as the tiebreak), first 50 win.
The changed set is an input (it cannot be derived from correctness
files): pass it as ``--changed name1,name2,...``. A round's committed
PRIORITY order is expected to MATCH the plan — the judge can check
``in window`` == ``next window`` on the pre-driver table.

Run: python tools/make_ledger.py [--changed a,b,c]   (writes LEDGER.md;
rerun at each round end after the driver drops the new CORRECTNESS
file, and at round open with --changed once the round's changed set is
known). :func:`render` returns the table text without writing it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(ROOT, "LEDGER.md")
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402


def plan_next_window(
    names: list[str], greens: dict[str, tuple[int, str]], changed: list[str]
) -> list[str]:
    """The rotation rule, mechanically: changed first (registry order),
    then oldest-green (never-proven entries count as round 0 — they must
    enter the window), registry order as tiebreak; first 50."""
    changed_set = set(changed)
    unknown = changed_set - set(names)
    if unknown:
        # a typo'd/renamed changed entry silently falling out of the
        # window head would defeat the whole mechanical check (r10
        # review) — fail loudly instead
        raise SystemExit(
            f"--changed names not in the registry: {sorted(unknown)}"
        )
    idx = {n: i for i, n in enumerate(names)}
    head = [n for n in names if n in changed_set]
    tail = sorted(
        (n for n in names if n not in changed_set),
        key=lambda n: (greens.get(n, (0, ""))[0], idx[n]),
    )
    return (head + tail)[:50]


def render(changed: list[str] | None = None) -> str:
    """LEDGER.md's text for the ``changed`` set; None reuses the set
    recorded in the existing table."""
    greens: dict[str, tuple[int, str]] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)", path).group(1))
        for name, row in json.load(open(path)).items():
            if row.get("err"):
                continue
            if row.get("rows_match") and row.get("schema_match"):
                mode = "hash" if row.get("hash_match") else (
                    "rows-only" if row.get("hash_match") is None else None
                )
                if mode:
                    greens[name] = (rnd, mode)

    basis = max(
        (int(re.search(r"_r(\d+)", p).group(1))
         for p in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))),
        default=0,
    )
    if changed is None:
        # sticky changed set: a regeneration without --changed must not
        # silently wipe the round's declared plan — reuse the set
        # recorded in the existing table
        changed = []
        try:
            text = open(LEDGER).read()
            m = re.search(
                r"Changed set used for this plan:\n(.*?)\.\n", text, re.S
            )
            if m and "(none declared)" not in m.group(1):
                changed = [
                    c.strip() for c in m.group(1).split(",") if c.strip()
                ]
        except FileNotFoundError:
            pass
    names = list(entry.queries())
    oracles = set(entry.oracle_sql())
    window = set(names[:50])
    nxt = plan_next_window(names, greens, changed)
    nxt_slot = {n: i + 1 for i, n in enumerate(nxt)}
    lines = [
        "# LEDGER — driver-green provenance per registry entry",
        "",
        "Generated by `tools/make_ledger.py` from CORRECTNESS_r*.json.",
        f"**Basis: driver evidence through r{basis:02d}** (the newest",
        "CORRECTNESS file on disk at generation time) — a table committed",
        "before the CURRENT round's driver artifacts land is PRE-DRIVER",
        "for that round: its `in window` column lists the slots the next",
        "driver window will re-prove, not rows already green this round.",
        "Rerun the generator after the round's CORRECTNESS file arrives",
        "(VERDICT r08 #5).",
        "`last green` = most recent round whose external-driver row for",
        "the entry was fully green (rows + schema + value hash; entries",
        "without an oracle get the driver's weaker rows-only check).",
        "`in window` marks the entry's CURRENT slot among the first 50",
        "(the slice the driver re-proves next round). Entries past the",
        "window hold their last green row over since-unchanged plans and",
        "are re-verified every round by the full-registry self-check",
        "(SELFCHECK_r*.md).",
        "`next window` = the slot the rotation rule assigns the entry",
        "in the NEXT driver window (changed-this-round first in registry",
        "order, then oldest-green with registry order as tiebreak; first",
        "50 win — VERDICT r09 #7). Changed set used for this plan:",
        f"{', '.join(changed) if changed else '(none declared)'}.",
        "The committed PRIORITY order is expected to match the plan, so",
        "on a pre-driver table `in window` == (`next window` != —).",
        "",
        "| registry entry | last green | check | in window | next window |",
        "|---|---|---|---|---|",
    ]
    missing = []
    for name in names:
        g = greens.get(name)
        ns = f"{nxt_slot[name]}" if name in nxt_slot else "—"
        if g is None:
            missing.append(name)
            lines.append(f"| {name} | — (new this round) | "
                         f"{'hash' if name in oracles else 'rows-only'} | "
                         f"{'yes' if name in window else 'no'} | {ns} |")
        else:
            lines.append(
                f"| {name} | r{g[0]:02d} | {g[1]} | "
                f"{'yes' if name in window else 'no'} | {ns} |"
            )
    lines += [
        "",
        f"Registry: {len(names)} entries; "
        f"{len(names) - len(missing)} with a driver-green row; "
        f"{len(missing)} awaiting their first driver window "
        f"({', '.join(missing) if missing else 'none'}).",
    ]
    return "\n".join(lines) + "\n"


def main() -> None:
    changed = None
    for i, a in enumerate(sys.argv):
        if a == "--changed" and i + 1 < len(sys.argv):
            changed = [c for c in sys.argv[i + 1].split(",") if c]
    text = render(changed)
    with open(LEDGER, "w") as f:
        f.write(text)
    print(f"wrote LEDGER.md: {text.splitlines()[-1]}")


if __name__ == "__main__":
    main()
