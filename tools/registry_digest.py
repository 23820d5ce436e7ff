"""Digest of the query registry: its order and every oracle's text.

A refactor that must not move a registration or change an oracle can
run this on two trees and diff the output, without starting Spark
(importing the package only builds the registry, about half a second).

Prints, one per line:

    order <n> <sha256 of the registered names joined by newlines>
    prefix <n> <the same digest over the _ROTATION_PREFIX names only>
    oracles <n> <sha256 of json.dumps({name: sql}, sort_keys=True)>
    <name> <sha256 of its oracle text>        (one line per oracle)

A change that reorders only the tail after ``_ROTATION_PREFIX`` (the
driver's verification prefix) changes ``order`` but not ``prefix``.

``--exclude a,b`` leaves the named oracles out of the combined oracle
digest (their own lines are still printed), so two trees that differ
on purpose in a few oracles can still be compared on the rest.

Run: python tools/registry_digest.py [--exclude q_a,q_b]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from document_query_system_spark.registry import (  # noqa: E402
    _ROTATION_PREFIX,
    all_specs,
    oracles,
)


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--exclude", default="", help="comma-separated oracle names")
    args = ap.parse_args()
    excluded = {n for n in args.exclude.split(",") if n}
    names = list(all_specs())
    sqls = oracles()
    kept = {n: s for n, s in sqls.items() if n not in excluded}
    print("order", len(names), _sha("\n".join(names)))
    prefix = names[: len(_ROTATION_PREFIX)]
    print("prefix", len(prefix), _sha("\n".join(prefix)))
    print("oracles", len(kept), _sha(json.dumps(kept, sort_keys=True)))
    for name in sorted(sqls):
        print(name, _sha(sqls[name]))


if __name__ == "__main__":
    main()
