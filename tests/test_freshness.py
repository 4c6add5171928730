"""Machine-checked freshness invariant.

The external correctness run samples the first 50 registry entries per
round. The registry derives that window at import from the committed
CORRECTNESS_r*.json ledger plus the declared re-verifications
(``_REVERIFY_HEAD``), with the rule defined ONCE in
``registry.staged_window``: new entries get verified
immediately, changed entries re-verify the same round, and every entry
re-earns a green row within a bounded number of rounds.
"""

from __future__ import annotations

import math


def _ledger():
    from flink_gmall_spark.registry import last_green_rounds

    return last_green_rounds()


def test_sample_window_matches_staging_rule():
    """The first 50 registrations — what the correctness run samples —
    must be exactly the rule's window, and the rule's head (new entries
    + declared re-verifications) must fit in it whole: staged_window
    cuts a longer head so the import never fails, which would leave the
    cut entries unsampled."""
    from flink_gmall_spark.registry import (
        _REGISTRATION_ORDER,
        _REVERIFY_HEAD,
        WINDOW_SIZE,
        registry,
        staged_window,
    )

    last = _ledger()
    head = {n for n in _REGISTRATION_ORDER if n not in last} | set(_REVERIFY_HEAD)
    assert len(head) <= WINDOW_SIZE, sorted(head)
    assert not set(_REVERIFY_HEAD) - set(_REGISTRATION_ORDER), _REVERIFY_HEAD
    want = staged_window(_REGISTRATION_ORDER, last, _REVERIFY_HEAD)
    assert len(want) == WINDOW_SIZE == 50
    assert list(registry())[:WINDOW_SIZE] == want


def test_every_entry_green_or_staged():
    """No entry may be neither ever-green nor scheduled: an entry
    without a green driver row in any CORRECTNESS_r*.json must be in
    the staged window (it is new) — otherwise it is silently
    unverified surface."""
    from flink_gmall_spark.registry import _SAMPLE_PRIORITY, registry

    last = _ledger()
    orphans = [
        n for n in registry() if n not in last and n not in _SAMPLE_PRIORITY
    ]
    assert not orphans, orphans


def test_freshness_debt_bounded_outside_window():
    """Entries NOT in the current window must not be staler than one
    full rotation: with N entries and 50 slots a complete pass takes
    ceil(N/50) rounds, so anything older than max_round − (ceil(N/50)+1)
    outside the window means the rotation skipped it."""
    from flink_gmall_spark.registry import _SAMPLE_PRIORITY, registry

    last = _ledger()
    max_round = max(last.values())
    lag = math.ceil(len(registry()) / 50) + 1
    stale = [
        (n, last[n])
        for n in registry()
        if n in last
        and n not in _SAMPLE_PRIORITY
        and last[n] < max_round - lag
    ]
    assert not stale, stale
