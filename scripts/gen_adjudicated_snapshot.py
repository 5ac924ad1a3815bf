"""Regenerate ADJUDICATED_SNAPSHOT.json — the staleness ledger for the
self-rotating driver window.

A driver CORRECTNESS row settles a key *as implemented at that time*.
If the query (or its oracle) is edited later, the old green row no
longer vouches for the new code, but the key would still be parked
behind the full never-adjudicated backlog. This ledger records, for
every SETTLED key, the source hash (function source + oracle SQL) the
key had when its latest green row was earned;
``registry._stale_keys`` treats a settled key whose CURRENT hash
differs as un-adjudicated, so edited keys automatically re-enter the
front of the next round's window — no manual DRIVER_PRIORITY edit.

Run ONCE per round, at ROUND START (right after the driver's new
CORRECTNESS_r*.json lands, BEFORE editing queries):

    python scripts/gen_adjudicated_snapshot.py

Lifecycle rule: a key whose newest settled row is from the LATEST
round file was adjudicated against the ship commit we are now sitting
on → its hash is refreshed to the current source. A key last settled
in an older round keeps its recorded hash (editing it later this
round flips it stale and requeues it; once the driver re-confirms,
the next round-start run refreshes the hash and it settles again).
Keys no longer settled are dropped. ``--rebless`` forces ALL hashes
to current (only for deliberately accepting un-readjudicated edits —
normally never needed).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassowary_spark import registry  # noqa: E402


def settled_rounds() -> dict[str, int]:
    """key -> newest round number with a SETTLED row (same settled
    definition as registry._settled_keys: 3-way pass, or no_oracle for
    keys that still have no oracle)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                d = json.load(f)
        except Exception:
            continue
        if not isinstance(d, dict):
            continue
        for k, v in d.items():
            if not isinstance(v, dict):
                continue
            ok = (
                v.get("rows_match") is True
                and v.get("schema_match") is True
                and v.get("hash_match") is True
            ) or (v.get("err") == "no_oracle" and k not in registry.ORACLES)
            if ok:
                out[k] = max(out.get(k, 0), rnd)
    return out


def _ship_commit(root: str, latest: int) -> str | None:
    """The commit the latest-round keys were adjudicated against: the
    first parent of the commit that ADDED CORRECTNESS_r{latest}.json
    (the driver commits the artifacts on top of the round's final
    builder commit)."""
    import subprocess

    try:
        add = subprocess.run(
            ["git", "log", "--diff-filter=A", "--format=%H", "-1",
             "--", f"CORRECTNESS_r{latest:02d}.json"],
            cwd=root, capture_output=True, text=True, check=True,
        ).stdout.strip()
        if not add:
            return None
        return subprocess.run(
            ["git", "rev-parse", f"{add}^"],
            cwd=root, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        return None


def _edited_since(root: str, commit: str) -> set[str]:
    """Repo-relative source paths that differ between ``commit`` and
    the WORKING TREE (committed edits since the ship commit AND
    uncommitted edits both count)."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "diff", "--name-only", commit, "--",
             "cassowary_spark", "__spark_entry__.py"],
            cwd=root, capture_output=True, text=True, check=True,
        ).stdout
        return {line.strip() for line in out.splitlines() if line.strip()}
    except Exception:
        return set()


def _key_file(root: str, key: str) -> str | None:
    """Repo-relative source file defining a registered query fn (the
    registry stores a wrapper; its ``__code__`` lives in cache.py)."""
    import inspect

    try:
        f = inspect.getsourcefile(inspect.unwrap(registry.QUERIES[key]))
        return os.path.relpath(f, root) if f else None
    except (OSError, TypeError):
        return None


def main() -> None:
    rebless = "--rebless" in sys.argv
    registry.load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "ADJUDICATED_SNAPSHOT.json")
    try:
        with open(path) as f:
            old = json.load(f)
    except Exception:
        old = {}
    old.pop("__meta__", None)
    rounds = settled_rounds()
    latest = max(rounds.values(), default=0)
    # Latest-round keys get their hash refreshed to the CURRENT source
    # — but only if their defining file is untouched since the ship
    # commit. If the script runs late (after this round already edited
    # a latest-round-settled query), blessing the current hash would
    # silently record the unadjudicated edit as adjudicated (ADVICE
    # r8). Such keys keep their old hash (if any) or are left stale.
    ship = _ship_commit(root, latest)
    edited = _edited_since(root, ship) if ship else set()
    suspect: list[str] = []
    out: dict[str, str] = {}
    for k, rnd in sorted(rounds.items()):
        if k not in registry.QUERIES:
            continue
        cur = registry.source_hash(k)
        fresh = rebless or k not in old or (
            rnd == latest and (_key_file(root, k) or "") not in edited
        )
        if rnd == latest and not rebless and (_key_file(root, k) or "") in edited:
            suspect.append(k)
        out[k] = cur if fresh else old[k]
    meta = {"latest_round": latest, "ship_commit": ship or "unknown"}
    with open(path, "w") as f:
        json.dump({**out, "__meta__": meta}, f, indent=0, sort_keys=True)
        f.write("\n")
    stale = sorted(k for k, h in out.items() if registry.source_hash(k) != h)
    # FRESHNESS.json — the r11 verdict's per-key adjudication-freshness
    # map as a COMMITTED artifact: last green round, defining module,
    # and whether the key's current source still matches the hash its
    # green row vouched for. registry.ordered() consumes the same
    # staleness signal (via _stale_keys) to auto-feed changed keys to
    # the front of the next driver window; this file makes that state
    # reviewable in the diff instead of implicit in two json files.
    fresh_path = os.path.join(root, "FRESHNESS.json")
    freshness = {
        k: {
            "last_green_round": rnd,
            "module": _key_file(root, k),
            "stale": registry.source_hash(k) != out[k],
        }
        for k, rnd in sorted(rounds.items())
        if k in registry.QUERIES
    }
    never = sorted(set(registry.QUERIES) - set(rounds))
    with open(fresh_path, "w") as f:
        json.dump(
            {
                "__meta__": {
                    "latest_round": latest,
                    "never_adjudicated": never,
                },
                **freshness,
            },
            f,
            indent=0,
            sort_keys=True,
        )
        f.write("\n")
    print(f"freshness: {len(freshness)} keys, {len(never)}"
          f" never-adjudicated -> {fresh_path}")
    print(f"snapshot: {len(out)} settled keys (latest round r{latest},"
          f" ship commit {ship or 'unknown'}) -> {path}")
    if suspect:
        print(f"WARNING: latest-round keys whose source file changed since"
              f" the ship commit — NOT re-blessed (kept prior hash or"
              f" left stale): {suspect}")
    if stale:
        print(f"STALE (will re-enter window): {stale}")


if __name__ == "__main__":
    main()
