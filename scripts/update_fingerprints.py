"""Rebuild QUERY_FINGERPRINTS.json from git history.

    python scripts/update_fingerprints.py          # rebuild the file
    python scripts/update_fingerprints.py --print  # list changed queries

The correctness rotation (``__spark_entry__.queries()``) ranks
queries by the round of their last hash-green check, but a check only
certifies the code it ran on. The rotation therefore treats a query as
unchecked when its current content fingerprint (oracle SQL + query
source + the source of every package function it reaches) differs from
the one recorded here for its last green check.

Each entry is computed, not stamped: for a query whose latest check in
``CORRECTNESS_r{R}.json`` was hash-green, the recorded fingerprint is the
one of the tree of the commit that added ``CORRECTNESS_r{R}.json`` (found
with ``git log --diff-filter=A``). That tree's package is exported with
``git archive`` and hashed in a subprocess that imports it first and then
loads this checkout's hashing code, so the old catalog wins the import.
The result depends on git history alone: two runs write the same bytes,
and uncommitted edits to the package do not change it. A round whose
artifact is not committed yet, or was committed together with package
edits (so that commit's tree is not the code the check ran on), records
nothing, and its queries rank as unchecked.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FP_PATH = os.path.join(REPO, "QUERY_FINGERPRINTS.json")

#: run in a subprocess: argv = (old tree, this checkout)
_HASH_OLD_TREE = """
import importlib.util, json, os, sys
old, head = sys.argv[1:3]
sys.path.insert(0, old)
import flink_start_spark.plans  # the old tree's catalog wins the import
spec = importlib.util.spec_from_file_location(
    "_fp_entry", os.path.join(head, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
json.dump(mod._content_fingerprints(), sys.stdout)
"""


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout.strip()


def _fingerprints_at(commit: str) -> dict[str, str]:
    """Content fingerprints of every query in ``commit``'s tree."""
    with tempfile.TemporaryDirectory() as tmp:
        tar_path = os.path.join(tmp, "tree.tar")
        _git("archive", "-o", tar_path, commit, "flink_start_spark")
        tree = os.path.join(tmp, "tree")
        with tarfile.open(tar_path) as tar:
            tar.extractall(tree, filter="data")
        out = subprocess.run(
            [sys.executable, "-c", _HASH_OLD_TREE, tree, REPO],
            cwd=tree,
            check=True,
            stdout=subprocess.PIPE,
            text=True,
        ).stdout
    return json.loads(out)


def rebuild() -> dict[str, dict]:
    """name -> {"fp", "round"} for every catalog query whose latest
    oracle check was hash-green, hashed at that check's commit."""
    import __spark_entry__ as entry

    catalog = entry.query_map()
    by_round: dict[int, list[str]] = {}
    for name, (rnd, green) in entry._last_verified_round().items():
        if green and name in catalog:
            by_round.setdefault(rnd, []).append(name)
    recorded = {}
    for rnd, names in sorted(by_round.items()):
        artifact = f"CORRECTNESS_r{rnd:02d}.json"
        commit = _git("log", "--diff-filter=A", "--format=%H", "--", artifact)
        if not commit:
            print(f"{artifact} is not committed; {len(names)} queries unrecorded")
            continue
        commit = commit.splitlines()[0]
        if _git("diff", "--name-only", f"{commit}^", commit, "--", "flink_start_spark"):
            # the tree then holds package edits the check never ran on
            print(f"{artifact} was committed with package edits ({commit[:9]}); "
                  f"{len(names)} queries unrecorded")
            continue
        fps = _fingerprints_at(commit)
        for name in names:
            recorded[name] = {"fp": fps[name], "round": rnd}
    return dict(sorted(recorded.items()))


def main() -> int:
    import __spark_entry__ as entry

    if "--print" in sys.argv:
        current = entry._content_fingerprints()
        recorded = entry._recorded_fingerprints()
        stale = sorted(n for n, fp in current.items() if recorded.get(n) != fp)
        print(f"{len(stale)}/{len(current)} changed since their last green check:")
        for n in stale:
            print(" ", n)
        return 0

    recorded = rebuild()
    with open(FP_PATH, "w") as f:
        json.dump(recorded, f, indent=1)
        f.write("\n")
    print(f"{len(recorded)}/{len(entry.query_map())} recorded")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
