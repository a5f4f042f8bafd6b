#!/usr/bin/env python3
"""Compare the physical-operator shape of two plan dumps.

Usage: python3 tools/plan_ops.py <plansA> <plansB>

Each directory holds one `.explain("formatted")` file per query, as written
by `graft.BenchExtra --plans <dir>`. For every query the ordered list of
physical operator names is read from the `(n) Name` headers of the
formatted plan; bracketed suffixes (`[codegen id : 2]`, `[Reuses operator
id: 7]`) and the relation a scan reads (a per-run database name) are
dropped, and expressions, aliases and `#id`s are never read, so a renamed
column or a renumbered attribute is not a difference. Prints every
query whose list differs (or that only one side has) and exits 1 if any
does, 0 otherwise.
"""
import difflib
import os
import re
import sys

HEADER = re.compile(r"^\((\d+)\) (.+?)(?: \[.*\])?\s*$")


def name(header):
    words = header.split()
    return " ".join(words[:2]) if words[0] == "Scan" else " ".join(words)


def operators(path):
    with open(path, errors="replace") as f:
        return [name(m.group(2)) for m in map(HEADER.match, f) if m]


def plans(d):
    return {n[:-4]: os.path.join(d, n) for n in os.listdir(d) if n.endswith(".txt")}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    differ = 0
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            print(f"{q}: only in {argv[1] if q in a else argv[2]}")
            differ += 1
            continue
        oa, ob = operators(a[q]), operators(b[q])
        if oa != ob:
            differ += 1
            print(f"{q}: operators differ")
            for line in difflib.unified_diff(oa, ob, argv[1], argv[2], lineterm="", n=1):
                print("  " + line)
    print(f"{len(a.keys() | b.keys())} queries, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
