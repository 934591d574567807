"""Compare the per-query row digests of two check_oracle.py --json files.

Usage: python tools/digest_diff.py PARENT.json CHANGE.json

Prints every query whose `sha256` (the digest of its sorted Spark rows)
differs between the two files, or is missing from either, and exits 1
if there is any; otherwise prints how many digests matched and exits 0.
Run check_oracle.py --json on a copy of the parent commit and on the
change, then this, to show that a refactor kept every value.
"""

from __future__ import annotations

import json
import sys


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    parent, change = (json.load(open(p))["queries"] for p in argv)
    bad = 0
    for name in sorted(set(parent) | set(change)):
        a = parent.get(name, {}).get("sha256")
        b = change.get(name, {}).get("sha256")
        if a is None or b is None or a != b:
            bad += 1
            print(f"{name}: {a or 'missing'} -> {b or 'missing'}")
    if bad:
        print(f"{bad} queries differ")
        return 1
    print(f"all {len(parent)} digests match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
