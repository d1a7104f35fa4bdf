"""Stamp the as-checked fingerprint for every driver-green query.

The driver's CORRECTNESS_r{N}.json rows are evidence for the code that was
CHECKED, not for whatever the tree holds now.  This tool reconstructs, for
each query, the fingerprint (``queries/_fingerprint.py``: sha256 over fn
source, oracle text, and the one-hop package-import sources — fn-local AND
module-level-referenced symbols — "\x00"-joined) of the query AS OF the
tree its latest green driver row ran against, and writes the map to
``EVIDENCE_FINGERPRINTS.json`` at the repo root.  ``queries._evidence_order`` then voids evidence whose fingerprint no
longer matches the live code, re-queueing the query at the front of the next
driver window (rank -1, behind never-checked at -2).

Tree reconstruction: the driver commits ``round N: verdict/advice/
correctness/bench`` immediately after running the round-N checks, so the
PARENT of that commit is the exact tree round N's rows were produced from.
Each needed round is materialized once as a read-only git worktree under
``.scratch/`` (gitignored), and the current tree's ``_fingerprint.py``
runs against it by path in an isolated subprocess — module import only, no
SparkSession.

Run at ROUND START, right after the new CORRECTNESS artifact lands (the
round boundary commit must exist).  Idempotent; safe to re-run.

``--check`` runs the same reconstruction but WRITES NOTHING: it exits 0 if
``EVIDENCE_FINGERPRINTS.json`` already matches, nonzero with a diff summary
otherwise — the reviewer-safe mode (r11 judge note).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# Prints {name: fingerprint} for every query a tree registers, resolving
# imports against THAT tree's modules. It is run by path from the current
# tree, because historical trees predate the module.
_FINGERPRINT_SCRIPT = (
    ROOT / "cassandra_analytics_example_spark" / "queries" / "_fingerprint.py"
)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout.strip()


def _latest_green_rounds() -> dict[str, int]:
    """name -> latest round with a green driver row (hash-green, or
    rows-only for queries the CURRENT registry declares oracle-less —
    same predicate as queries._evidence_order)."""
    sys.path.insert(0, str(ROOT))
    from cassandra_analytics_example_spark.queries import REGISTRY, load_all

    load_all()
    latest: dict[str, int] = {}
    for path in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(path.stem.split("_r")[-1])
            rows = json.loads(path.read_text())
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            if name not in REGISTRY:
                continue
            rows_only_ok = (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and REGISTRY[name].oracle is None
            )
            if bool(row.get("hash_match")) or rows_only_ok:
                latest[name] = max(latest.get(name, -1), rnd)
    return latest


def _round_tree_sha(rnd: int) -> str | None:
    """SHA of the tree round ``rnd``'s driver checks ran against: the
    parent of the ``round {rnd}: verdict/...`` artifact commit.  (The
    driver may ALSO make a ``round {rnd}: end-of-round snapshot`` commit
    for uncommitted work BEFORE running the checks — that snapshot is part
    of the checked tree, so only the verdict commit marks the boundary.)

    Matching is hardened (round-9 review): the pattern anchors at line
    start so a ``Revert "round N: verdict..."`` subject cannot match, the
    search walks only the current first-parent mainline (not ``--all``,
    where an abandoned branch could carry a same-named commit), and a
    rootless boundary returns None instead of crashing on ``sha^``."""
    sha = _git(
        "log", "--format=%H", "--first-parent",
        f"--grep=^round {rnd}: verdict", "HEAD",
    ).splitlines()
    if not sha:
        return None
    try:
        return _git("rev-parse", f"{sha[-1]}^")  # oldest match, its parent
    except subprocess.CalledProcessError:
        return None  # boundary commit is the root — no checked tree before it


def _fingerprints_at(sha: str, tag: str) -> dict[str, str]:
    wt = ROOT / ".scratch" / f"stamp_{tag}"
    if wt.exists():
        subprocess.run(
            ["git", "worktree", "remove", "--force", str(wt)],
            cwd=ROOT, capture_output=True,
        )
    _git("worktree", "add", "--detach", str(wt), sha)
    try:
        proc = subprocess.run(
            [sys.executable, "-I", str(_FINGERPRINT_SCRIPT), str(wt)],
            cwd=wt, check=True, capture_output=True, text=True,
        )
        return json.loads(proc.stdout)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", str(wt)],
            cwd=ROOT, capture_output=True,
        )


def main() -> int:
    check_only = "--check" in sys.argv[1:]
    latest = _latest_green_rounds()
    by_round: dict[int, list[str]] = {}
    for name, rnd in latest.items():
        by_round.setdefault(rnd, []).append(name)

    snapshot: dict[str, dict] = {}
    for rnd in sorted(by_round):
        sha = _round_tree_sha(rnd)
        if sha is None:
            print(f"round {rnd}: no boundary commit found — skipped "
                  f"({len(by_round[rnd])} queries left unstamped)")
            continue
        fps = _fingerprints_at(sha, f"r{rnd}")
        missing = [n for n in by_round[rnd] if n not in fps]
        if missing:
            print(f"round {rnd}: {len(missing)} green names absent from "
                  f"that tree (skipped): {missing[:5]}")
        for name in by_round[rnd]:
            if name in fps:
                snapshot[name] = {"fingerprint": fps[name], "round": rnd}
        print(f"round {rnd} @ {sha[:10]}: stamped "
              f"{sum(1 for n in by_round[rnd] if n in fps)} queries")

    out = ROOT / "EVIDENCE_FINGERPRINTS.json"
    want = dict(sorted(snapshot.items()))
    if check_only:
        # read-only reviewer mode (r11 judge note: running the tool bare
        # rewrites the artifact — a reviewer verifying stamps shouldn't
        # have to restore it from git afterwards)
        try:
            have = json.loads(out.read_text())
        except (OSError, json.JSONDecodeError):
            have = None
        if have == want:
            print(f"OK: {out.name} matches the reconstructed stamps "
                  f"({len(want)} entries)")
            return 0
        have = have or {}
        added = sorted(set(want) - set(have))
        removed = sorted(set(have) - set(want))
        changed = sorted(
            n for n in set(want) & set(have) if want[n] != have[n]
        )
        print(f"DRIFT: {out.name} differs from the reconstructed stamps "
              f"(+{len(added)} -{len(removed)} ~{len(changed)})")
        for label, names in (("+", added), ("-", removed), ("~", changed)):
            for n in names[:10]:
                print(f"  {label} {n}")
        return 1
    out.write_text(json.dumps(want, indent=1))
    print(f"wrote {out.name}: {len(want)} entries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
