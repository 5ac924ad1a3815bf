"""Gates for the self-rotating driver window's staleness ledger
(ADVICE r7): a settled key whose implementation changed since its
green CORRECTNESS row must automatically re-enter the window."""

from __future__ import annotations

from cassowary_spark import registry

registry.load_all()


def test_source_hash_sensitive_to_oracle_and_stable():
    k = "q_scan"
    h1 = registry.source_hash(k)
    assert h1 == registry.source_hash(k)  # deterministic
    orig = registry.ORACLES[k]
    try:
        registry.ORACLES[k] = orig + " -- edited"
        assert registry.source_hash(k) != h1
    finally:
        registry.ORACLES[k] = orig
    assert registry.source_hash(k) == h1


def test_stale_keys_detects_changed_implementation():
    k = "q_scan"
    cur = registry.source_hash(k)
    settled = {k, "q_not_registered"}
    # matching hash: not stale; differing hash: stale; absent from
    # snapshot: failure-safe, not stale
    assert registry._stale_keys(settled, {k: cur}) == set()
    assert registry._stale_keys(settled, {k: "0" * 16}) == {k}
    assert registry._stale_keys(settled, {}) == set()
    assert registry._stale_keys(settled, "garbage") == set()  # type: ignore[arg-type]


def test_window_leads_with_unadjudicated_keys():
    """ordered() must lead with the DRIVER_PRIORITY lane (manual
    re-confirmations — may themselves be settled), then every
    un-adjudicated (never-settled OR stale) key in registration
    order, then the settled remainder — the debt-paydown rotation
    plus the staleness requeue."""
    w = list(registry.ordered(registry.QUERIES))
    assert sorted(w) == sorted(registry.QUERIES)  # permutation, no loss
    prio = [k for k in registry.DRIVER_PRIORITY if k in registry.QUERIES]
    assert w[: len(prio)] == prio
    rest = [k for k in w[len(prio):]]
    seen = registry._adjudicated_keys()
    n_unseen = sum(1 for k in rest if k not in seen)
    assert all(k not in seen for k in rest[:n_unseen])
    assert all(k in seen for k in rest[n_unseen:])
    # registration order preserved within each segment
    reg_order = {k: i for i, k in enumerate(registry.QUERIES)}
    head, tail = rest[:n_unseen], rest[n_unseen:]
    assert head == sorted(head, key=reg_order.__getitem__)
    assert tail == sorted(tail, key=reg_order.__getitem__)


def test_ledger_maps_a_key_to_its_own_module():
    """The round-start staleness guard compares a key's defining file
    with the files edited since the ship commit; the registered fn is
    a cache-owning wrapper, so the file must come from the unwrapped
    query, not the wrapper."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_adjudicated_snapshot",
        os.path.join(root, "scripts", "gen_adjudicated_snapshot.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod._key_file(root, "q_theil_sen") == "cassowary_spark/queries/datapipe24.py"
