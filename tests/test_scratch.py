"""The fixpoint helper and the pin policy of operators/scratch.py.

Pure Python, no Spark session: ``iterate`` is exercised with plain
step functions, and the pin-policy check reads the package sources."""

from __future__ import annotations

import pathlib

import pytest

from recon_spark.operators import scratch

PKG = pathlib.Path(scratch.__file__).resolve().parents[1]


def test_iterate_raises_at_cap_naming_the_loop():
    calls = []

    def never(state):
        calls.append(state)
        return state + 1, False

    with pytest.raises(
        ValueError,
        match=f"^toy loop did not converge within {scratch.MAX_ROUNDS} rounds$",
    ):
        scratch.iterate(never, 0, "toy loop")
    assert calls == list(range(scratch.MAX_ROUNDS))


@pytest.mark.parametrize("k", [1, 2, 7, scratch.MAX_ROUNDS])
def test_iterate_returns_on_the_round_it_converges(k):
    calls = []

    def step(state):
        calls.append(state)
        return state + 1, state + 1 == k

    assert scratch.iterate(step, 0, "toy loop") == k
    assert len(calls) == k


def test_iterate_reads_the_cap_at_call_time(monkeypatch):
    monkeypatch.setattr(scratch, "MAX_ROUNDS", 3)
    with pytest.raises(ValueError, match="within 3 rounds"):
        scratch.iterate(lambda s: (s, False), None, "toy loop")


def test_pins_are_chosen_only_in_scratch_module():
    """localCheckpoint and StorageLevel (the two pin strategies) may be
    named only by operators/scratch.py, so the pin policy and its
    reliable-mode switch live in one place."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == pathlib.Path(scratch.__file__).resolve():
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if "localCheckpoint(" in line or "StorageLevel" in line:
                offenders.append(f"{path.relative_to(PKG)}:{lineno}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
