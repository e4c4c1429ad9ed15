"""Seeded rounds of the randomized IVM convergence sweep as a
regression net — the full multi-seed version is ``tools/ivm_fuzz.py``.
One seed x one step runs in the default gate; a longer seed is a slow
soak. Both drive every maintained view kind through a random commit
script."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))


@pytest.mark.slow  # randomized soak: explicit-run only (pytest -m slow)
def test_ivm_fuzz_one_seed(spark, scratch):
    from ivm_fuzz import run_seed

    run_seed(spark, seed=3, steps=3, root=scratch)


def test_ivm_fuzz_smoke(spark, scratch):
    """Default-gate smoke of the same sweep: one fixed seed (a COW fact
    whose one step deletes fact rows through the group rewrite) and one
    step over every plan in the pool, each view in one file group."""
    from ivm_fuzz import run_seed

    run_seed(spark, seed=18, steps=1, root=scratch, view_groups=1)
