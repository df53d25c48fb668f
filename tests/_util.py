"""Plain helpers shared by test modules (kept out of ``conftest.py`` so a
module importing them does not load conftest a second time)."""

from __future__ import annotations

import os


def deep_fuzz_enabled() -> bool:
    """``SPARK_GRAFT_DEEP_FUZZ`` as a flag: unset, empty, ``0``, ``false``
    and ``no`` (any case) keep the fast tier; any other value opts in."""
    val = os.environ.get("SPARK_GRAFT_DEEP_FUZZ", "").strip().lower()
    return val not in ("", "0", "false", "no")


def fuzz_examples(deep: int, fast: int) -> int:
    """Two-tier Hypothesis example budget (VERDICT r14 item 1: a 39-53
    min suite overran the Tier-1 verify window; the expensive fuzzers
    are the sanctioned opt-in tier). Default = ``fast`` so the Tier-1
    suite completes; ``SPARK_GRAFT_DEEP_FUZZ=1`` restores the
    full ``deep`` budget for local hardening runs. The Hypothesis
    example database still replays every previously-found failure in
    BOTH tiers, so regressions caught once stay caught."""
    return deep if deep_fuzz_enabled() else fast
