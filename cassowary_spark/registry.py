"""Query registry powering ``__spark_entry__.queries()`` / ``oracle_sql()``.

Every operator from SURVEY.md §2 lands as a registered query: a
callable ``(spark, sf_dir) -> DataFrame`` plus (when ANSI-SQL
expressible) a DuckDB oracle string. The driver — and our own pytest
harness — runs both and compares row count + schema + order-insensitive
value hash, so computed columns must carry identical aliases on both
sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cassowary_spark import cache

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# The external driver adjudicates only the FIRST 50 queries in the dict
# returned by __spark_entry__.queries(). Python dicts preserve
# insertion order, so ordered() controls the window.
#
# ordered() rotates the never-adjudicated keys into the window,
# oldest-registered first, regardless of local pytest coverage (the
# driver's environment has surfaced divergences local runs did not);
# it reads the committed CORRECTNESS_r*.json files, so each window
# advances past whatever the previous one adjudicated.
#
# DRIVER_PRIORITY is the MANUAL override lane only: list keys here
# when they must (re-)confirm ahead of the rotation — e.g. a query
# whose semantics changed after its last green row. Keys listed here
# jump the queue; leave empty otherwise.
DRIVER_PRIORITY: tuple[str, ...] = ()


def source_hash(name: str) -> str:
    """Hash of a registered query's CURRENT implementation: function
    source + oracle SQL. Module-level constants the function reads are
    not captured — an acceptable approximation; edits overwhelmingly
    touch the function body or the oracle string."""
    import hashlib
    import inspect

    try:
        src = inspect.getsource(QUERIES[name])
    except (OSError, TypeError):  # builtins / exec'd code: fall back
        src = repr(QUERIES[name])
    return hashlib.sha256(
        (src + "\x00" + ORACLES.get(name, "")).encode()
    ).hexdigest()[:16]


def _stale_keys(settled: set[str], snapshot: dict | None = None) -> set[str]:
    """Settled keys whose implementation changed since adjudication.

    ADJUDICATED_SNAPSHOT.json (regenerated each round by
    scripts/gen_adjudicated_snapshot.py) records the source hash each
    settled key had when its green row was earned. A differing current
    hash means the green row vouches for code that no longer exists —
    the key must re-enter the window. Keys settled but absent from the
    snapshot are NOT stale (failure-safe: a missing/unregenerated
    snapshot must not churn the whole window).
    """
    import json
    import os

    if snapshot is not None:
        snap: object = snapshot
    else:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        try:
            with open(os.path.join(root, "ADJUDICATED_SNAPSHOT.json")) as f:
                snap = json.load(f)
        except Exception:
            return set()
    if not isinstance(snap, dict):
        return set()
    return {
        k
        for k in settled
        if k in snap and k in QUERIES and source_hash(k) != snap[k]
    }


def _settled_keys() -> set[str]:
    """Keys with at least one SETTLED driver CORRECTNESS row.

    The CORRECTNESS_r*.json files are committed at the repo root
    (sibling of this package); reading them makes the window rotation
    SELF-MAINTAINING — each round the never-adjudicated backlog
    automatically shifts forward by however many keys the previous
    round's window covered, with no manual DRIVER_PRIORITY edit.

    "Settled" means the row actually confirmed the key: either a full
    three-way pass (rows+schema+hash), or a rows-only record
    (err == "no_oracle") for a key that STILL has no oracle — the
    strongest check it can receive. A key whose only rows are
    failures/errors, or whose rows-only record predates it gaining an
    oracle (q_session_capped's history), re-enters the window
    automatically — otherwise a key that FAILed once would be parked
    behind the whole backlog exactly when it most needs
    re-confirmation. Failure-safe: unreadable/absent files contribute
    nothing.
    """
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    passed: set[str] = set()
    rows_only: set[str] = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
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
            if (
                v.get("rows_match") is True
                and v.get("schema_match") is True
                and v.get("hash_match") is True
            ):
                passed.add(k)
            elif v.get("err") == "no_oracle":
                rows_only.add(k)
    return passed | {k for k in rows_only if k not in ORACLES}


def _adjudicated_keys() -> set[str]:
    """Settled keys whose green row still vouches for the current
    code: ``_settled_keys()`` minus ``_stale_keys`` (keys edited since
    their adjudication re-enter the window automatically)."""
    settled = _settled_keys()
    return settled - _stale_keys(settled)


def ordered(d: dict[str, "object"]) -> dict:
    """Re-key a registry dict into driver-window order: DRIVER_PRIORITY
    keys first (manual override for keys that must re-confirm, e.g.
    after a semantics change), then every never-adjudicated key in
    registration order (the debt-paydown rotation — oldest first),
    then the already-adjudicated remainder in registration order.
    Priority keys not (yet) registered are skipped."""
    out = {k: d[k] for k in DRIVER_PRIORITY if k in d}
    seen = _adjudicated_keys()
    out.update((k, v) for k, v in d.items() if k not in out and k not in seen)
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is DuckDB-runnable ANSI SQL or None
    for genuinely non-SQL-expressible ops (rows-only check). What the
    query persists is released when its result is dropped
    (``cache.owned_by_result``)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = fn = cache.owned_by_result(fn)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    from cassowary_spark import queries  # noqa: F401

    queries.load()
    _register_modules_by_value()


def _register_modules_by_value() -> None:
    """Ship this package's code inside every pickled closure (by value).

    The driver's verify imports us from an arbitrary cwd into a vanilla
    SparkSession whose executors do NOT have this repo on PYTHONPATH.
    Worker-side functions (pandas UDFs, applyInPandas folds, the
    sstable DataSource) that reference module-level helpers would
    otherwise pickle those helpers *by reference* and die with
    ModuleNotFoundError on the executors. Registering the package's
    modules with cloudpickle's by-value mode makes every closure
    self-contained — the local-mode equivalent of shipping a zip via
    addPyFile, with no session handle needed.
    """
    import sys

    try:
        from pyspark import cloudpickle
    except ImportError:  # pragma: no cover - pyspark always present
        return
    for name, mod in list(sys.modules.items()):
        if name.startswith("cassowary_spark") and mod is not None:
            try:
                cloudpickle.register_pickle_by_value(mod)
            except Exception:
                pass
