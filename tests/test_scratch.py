"""The fixpoint helper and the pin policy of operators/scratch.py.

``iterate`` is exercised with plain step functions and the pin-policy
check reads the package sources; the ``pin_now`` tests and the
no-separate-count test run the fixpoint loops on a Spark session."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

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
    """localCheckpoint may be named only by operators/scratch.py, and no
    module pins with persist() or cache(), so the pin policy lives in
    one place."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        own = path == pathlib.Path(scratch.__file__).resolve()
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if (
                (not own and "localCheckpoint(" in line)
                or ".persist(" in line
                or ".cache()" in line
            ):
                offenders.append(f"{path.relative_to(PKG)}:{lineno}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_pin_now_reports_its_metric_from_the_checkpoint_job(spark):
    df = spark.range(10)
    pinned, n = scratch.pin_now(df)
    assert n == 10 and pinned.count() == 10
    plan = pinned._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "Range" not in plan
    assert scratch.pin_now(df, F.sum("id"))[1] == 45
    assert scratch.pin_now(df.where("id < 0"))[1] == 0
    assert scratch.pin_now(df.where("id < 0"), F.sum("id"))[1] is None


def test_no_fixpoint_round_counts_separately(spark, monkeypatch):
    """Every loop's stop test reads the metric its pin_now job observed:
    no DataFrame.count() runs while the loop runs or its result is
    collected."""
    from recon_spark.operators.bpe import bpe_train
    from recon_spark.operators.dedupe import connected_components
    from recon_spark.operators.reasoning import owl_extend
    from recon_spark.operators.sparql import compile_sparql

    chain = spark.createDataFrame(
        [(f"n{i:02d}", "next", f"n{i + 1:02d}") for i in range(40)],
        "subj string, pred string, obj string",
    )
    abox = spark.createDataFrame(
        [("a", "join", "b"), ("c", "merge", "d"),
         ("p", "sort", "q"), ("q", "sort", "r"), ("r", "sort", "s0")],
        "subj string, pred string, obj string",
    )
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(0, "low low lower newest newest widest")], "doc_id long, text string"
    )
    runs = {
        "seeded <p>+": lambda: compile_sparql(chain, "SELECT ?o WHERE { <n00> <next>+ ?o }"),
        "unbound <p>+": lambda: compile_sparql(chain, "SELECT ?s ?o WHERE { ?s <next>+ ?o }"),
        "owl_extend": lambda: owl_extend(spark, abox),
        "connected_components": lambda: connected_components(pairs, driver_threshold=0),
        "bpe_train": lambda: bpe_train(docs)[1],
    }
    # the session's frames are pyspark.sql.classic's DataFrame, which
    # overrides pyspark.sql.DataFrame.count: wrap the class in use
    cls = type(chain)
    real = cls.count
    calls: list[int] = []

    def counting(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(cls, "count", counting)
    counted, sizes = {}, {}
    for name, run in runs.items():
        calls.clear()
        sizes[name] = len(run().collect())
        counted[name] = len(calls)
    monkeypatch.undo()
    assert counted == dict.fromkeys(runs, 0)
    assert sizes["seeded <p>+"] == 40 and sizes["unbound <p>+"] == 40 * 41 // 2
    assert sizes["connected_components"] == 13 and sizes["owl_extend"] > 5
