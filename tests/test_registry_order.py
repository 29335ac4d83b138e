"""Driver-emission-order regression tests (VERDICT r2 findings #1/#8).

The driver's correctness run is budget-capped (~50 slots/round) and
walks ``queries()`` in dict order, so the order IS the verification
coverage policy. One rule orders it: ``_RECENTLY_CHANGED`` keys first,
then the stalest trusted driver row first, where a key with no trusted
row in any committed CORRECTNESS_r*.json reads as round 0 and so comes
ahead of every re-verification slot, Pregel fixpoint or not.
"""

from __future__ import annotations

from ezbake_graph_spark import registry


def _without_rows(monkeypatch, *dropped: str) -> list[str]:
    """Emission order as if ``dropped`` had no driver row and no
    re-verify entry — the never-checked path, which the committed
    records leave empty (every key has a row since CORRECTNESS_r09)."""
    registry.queries()
    real = registry._trusted_rounds()
    rows = {k: r for k, r in real.items() if k not in dropped}
    monkeypatch.setattr(registry, "_trusted_rounds", lambda: rows)
    monkeypatch.setattr(
        registry,
        "_RECENTLY_CHANGED",
        tuple(k for k in registry._RECENTLY_CHANGED if k not in dropped),
    )
    return list(registry.queries())


def _reverify_slots(keys: list[str]) -> list[str]:
    rounds = registry._trusted_rounds()
    return [k for k in keys if k not in registry._RECENTLY_CHANGED and k in rounds]


def test_never_verified_keys_emit_first():
    keys = list(registry.queries())
    rounds = registry._trusted_rounds()
    ranks = [(k not in registry._RECENTLY_CHANGED, rounds.get(k, 0)) for k in keys]
    assert ranks == sorted(ranks), "emission order must follow the one sort key"


def test_all_never_green_oracled_precede_all_green(monkeypatch):
    """An oracled key without a green row, and a rows-only key without
    any row, both emit ahead of every key that has a trusted row."""
    dropped = ("agg_pricing_q1", "graph_pagerank")
    assert registry.REGISTRY["agg_pricing_q1"].oracle is not None
    keys = _without_rows(monkeypatch, *dropped)
    first_reverify = keys.index(_reverify_slots(keys)[0])
    for k in dropped:
        pos = keys.index(k)
        assert pos < first_reverify, f"never-verified {k} at {pos}, after green keys"


def test_pregel_promotion_lands_in_driver_window(monkeypatch):
    """EVERY oracled Pregel fixpoint without a green row must appear
    inside the driver's ~50-slot window (an old classifier put
    never-green Pregel strictly last, so a window never reached them —
    the VERDICT r3 defect). Registry-derived: drop the rows of all of
    them at once and they must still all fit."""
    oracled_pregel = [
        k
        for k, spec in registry.REGISTRY.items()
        if "pregel" in spec.tags and spec.oracle is not None
    ]
    assert oracled_pregel
    keys = _without_rows(monkeypatch, *oracled_pregel)
    for k in oracled_pregel:
        pos = keys.index(k)
        assert pos < registry._WINDOW, f"{k} at {pos} — outside driver window"


def test_never_checked_pregel_keys_precede_reverification(monkeypatch):
    """A Pregel key with an oracle (graph_sssp) and one without
    (graph_pagerank) that have no driver row both land inside the
    window, ahead of every re-verification slot."""
    assert registry.REGISTRY["graph_sssp"].oracle is not None
    assert registry.REGISTRY["graph_pagerank"].oracle is None
    keys = _without_rows(monkeypatch, "graph_sssp", "graph_pagerank")
    first_reverify = keys.index(_reverify_slots(keys)[0])
    for k in ("graph_sssp", "graph_pagerank"):
        pos = keys.index(k)
        assert pos < registry._WINDOW, f"{k} at {pos} — outside driver window"
        assert pos < first_reverify, f"{k} at {pos}, behind the re-verify slots"


def test_green_keys_emit_stalest_round_first():
    """VERDICT r6 #2: keys with a trusted row re-emit ordered by the
    round of that row (oldest first), so the window's spare slots
    continuously re-validate the stalest records (22 join/graph keys
    were last checked in r2, 4 rounds stale). Pregel keys rotate in the
    same order as every other key."""
    keys = list(registry.queries())
    rounds = registry._trusted_rounds()
    seen = [rounds[k] for k in _reverify_slots(keys)]
    assert seen == sorted(seen), "green keys must emit oldest-green-round first"
    assert min(rounds.values()) < max(rounds.values())  # rotation is non-trivial


def test_green_set_reads_correctness_files():
    registry.queries()
    rounds = registry._trusted_rounds()
    # r1/r2 are committed in-repo; the union was 52 keys at round-3 start
    assert "agg_pricing_q1" in rounds
    assert "join_star_q5" in rounds
    assert len(rounds) >= 52
    # a rows-only key's expected no_oracle record is trusted
    assert "graph_pagerank" in rounds


def test_window_head_is_the_stalest_cohort():
    """Retires the r8 never-checked sentinel (every registry key has a
    driver row as of CORRECTNESS_r09; its own assert message said to
    retire it) and replaces it with the steady-state policy (VERDICT
    r9 #8): with coverage complete, the driver window's spare slots
    must be spent on the STALEST records — every re-verification slot
    inside the window (behind the ``_RECENTLY_CHANGED`` front) must be
    at least as stale as every key left outside the window. Keys
    without any trusted row land inside the window, ahead of them."""
    keys = list(registry.queries())
    rounds = registry._trusted_rounds()
    for k in keys:
        if k not in rounds and k not in registry._RECENTLY_CHANGED:
            pos = keys.index(k)
            assert pos < registry._WINDOW, f"new key {k} outside driver window"
    rotation = _reverify_slots(keys)
    n_window = sum(1 for k in keys[: registry._WINDOW] if k in set(rotation))
    inside, outside = rotation[:n_window], rotation[n_window:]
    assert inside and outside, "rotation degenerate: widen the registry"
    assert max(rounds[k] for k in inside) <= min(
        rounds[k] for k in outside
    ), "window head must be drawn from the stalest checked cohort"


def test_recently_changed_keys_are_registered():
    """Round rule (VERDICT r12 #10): the commit that rewrites a kernel
    must queue its registry keys in ``_RECENTLY_CHANGED``. A typo'd key
    would silently fail to re-verify — every entry must resolve to a
    registered key (the companion emission test below tolerates missing
    keys by design, so this is the strict guard)."""
    registry.queries()
    unknown = [k for k in registry._RECENTLY_CHANGED if k not in registry.REGISTRY]
    assert not unknown, f"_RECENTLY_CHANGED contains unregistered keys: {unknown}"


def test_recently_changed_fit_in_driver_window():
    """The re-verify front must leave room for rotation: if the list
    outgrows half the ~50-slot window, staleness draining stalls."""
    assert len(registry._RECENTLY_CHANGED) <= registry._WINDOW // 2


def test_recently_changed_keys_emit_at_window_front():
    """VERDICT r7 #7: a key whose implementation changed since its
    last driver row must be re-verified in the NEXT round — such keys
    jump to the very front of the emission order, ahead of even
    first-time keys."""
    keys = list(registry.queries())
    changed = [k for k in registry._RECENTLY_CHANGED if k in registry.REGISTRY]
    assert changed, "round with no changed keys: empty the list instead"
    front = keys[: len(changed)]
    assert set(front) == set(changed), (
        f"changed keys not at window front: {front} vs {changed}"
    )
