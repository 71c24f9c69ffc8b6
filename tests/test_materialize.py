"""materialize: checkpoints are freed by the scope that owns them, and
fixpoint keeps executor storage bounded in the iteration count."""

from __future__ import annotations

import pathlib
import threading

import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark import materialize
from llm_document_parser_spark.materialize import (
    checkpoint,
    fixpoint,
    storage_scope,
)
from llm_document_parser_spark.operators import dedup

PACKAGE = pathlib.Path(materialize.__file__).parent


def persisted(spark) -> set[int]:
    """Ids of the RDDs persisted now. Tests compare id sets, not counts, so
    the context cleaner freeing an older RDD cannot offset a new one."""
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def chain(spark, n: int = 13):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )


def test_dataframe_unpersist_does_not_free_a_checkpoint(spark):
    """The Spark behaviour the helper exists for: unpersisting the
    checkpointed DataFrame leaves its RDD persisted; releasing the
    LogicalRDD's RDD frees it."""
    before = persisted(spark)
    df = spark.range(1000).repartition(4).localCheckpoint(eager=True)
    df.unpersist()
    assert len(persisted(spark) - before) == 1
    materialize._release([df])
    assert persisted(spark) - before == set()


def test_scope_frees_on_exit(spark):
    before = persisted(spark)
    with storage_scope():
        df = checkpoint(spark.range(10))
        assert len(persisted(spark) - before) == 1
        assert df.count() == 10
    assert persisted(spark) - before == set()


def test_scope_frees_on_exception(spark):
    before = persisted(spark)
    with pytest.raises(ZeroDivisionError):
        with storage_scope():
            checkpoint(spark.range(10))
            checkpoint(spark.range(20))
            1 / 0
    assert persisted(spark) - before == set()


def test_nested_scopes_free_their_own(spark):
    before = persisted(spark)
    with storage_scope():
        outer = checkpoint(spark.range(10))
        with storage_scope():
            checkpoint(spark.range(20))
            assert len(persisted(spark) - before) == 2
        assert len(persisted(spark) - before) == 1
        assert outer.count() == 10
    assert persisted(spark) - before == set()


def test_checkpoint_outside_a_scope_survives(spark):
    before = persisted(spark)
    df = checkpoint(spark.range(10))
    with storage_scope():
        pass
    assert len(persisted(spark) - before) == 1
    assert df.count() == 10
    materialize._release([df])


def test_scopes_are_per_thread(spark):
    """A checkpoint made on another thread is not owned by this thread's
    open scope."""
    before = persisted(spark)
    made = []
    with storage_scope():
        t = threading.Thread(target=lambda: made.append(checkpoint(spark.range(5))))
        t.start()
        t.join()
    assert len(persisted(spark) - before) == 1
    materialize._release(made)


def test_connected_components_frees_all_but_its_result(spark):
    before = persisted(spark)
    comp = dedup.connected_components(chain(spark))
    left = persisted(spark) - before
    assert len(left) == 1
    assert {r["component"] for r in comp.collect()} == {0}
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in left:
        rdds[rdd_id].unpersist(False)


def test_connected_components_inside_a_scope_leaves_nothing(spark):
    before = persisted(spark)
    with storage_scope():
        comp = dedup.connected_components(chain(spark))
        assert comp.count() == 13
    assert persisted(spark) - before == set()


def test_connected_components_non_convergence_message(spark):
    before = persisted(spark)
    with pytest.raises(
        RuntimeError,
        match=r"^connected_components did not converge in 3 iterations$",
    ):
        dedup.connected_components(chain(spark), max_iterations=3)
    assert persisted(spark) - before == set()


def test_fixpoint_storage_stays_bounded(spark):
    """Measured from inside ``step``: the loop's input (1) and initial
    state (1), plus at most two iterations of two blocks each — the
    step's own checkpoint and the new state."""
    before = persisted(spark)
    seen = []

    def run():
        with storage_scope():
            inc = checkpoint(spark.range(50).select(F.lit(1).alias("d")).limit(1))

            def step(state):
                seen.append(len(persisted(spark) - before))
                doubled = checkpoint(state.select("id", (F.col("x") * 2).alias("x")))
                seen.append(len(persisted(spark) - before))
                return doubled.crossJoin(inc).select(
                    "id", (F.col("x") - F.col("d")).alias("x")
                )

            return fixpoint(
                spark.range(50).select("id", F.lit(2).alias("x")),
                step,
                iterations=10,
            )

    with storage_scope():
        out = run()
        # x_{i+1} = 2 x_i - 1 from 2: x_10 = 2^10 + 1
        assert {r["x"] for r in out.collect()} == {2**10 + 1}
        assert len(persisted(spark) - before) == 2  # the final iteration
    assert max(seen) <= 2 + 2 * 2
    assert persisted(spark) - before == set()


def test_connected_components_storage_stays_bounded(spark, monkeypatch):
    """The same bound on the real operator: its two up-front checkpoints
    (edges, initial labels) plus two iterations of one state each."""
    before = persisted(spark)
    seen = []

    def watched(state, step, **kw):
        def wrapped(s):
            seen.append(len(persisted(spark) - before))
            return step(s)

        wrapped.__qualname__ = step.__qualname__
        return fixpoint(state, wrapped, **kw)

    monkeypatch.setattr(dedup, "fixpoint", watched)
    with storage_scope():
        assert dedup.connected_components(chain(spark)).count() == 13
    assert len(seen) >= 12  # the chain needs one iteration per hop
    assert max(seen) <= 2 + 2
    assert persisted(spark) - before == set()


def test_fixpoint_stops_when_converged(spark):
    calls = []

    def step(state):
        calls.append(1)
        return state.select((F.col("id") + 1).alias("id"))

    with storage_scope():
        out = fixpoint(
            spark.range(1),
            step,
            iterations=10,
            changed=F.count_if(F.col("id") < 3),
        )
        assert out.first()["id"] == 3
    assert len(calls) == 3


def test_connected_components_runs_one_job_per_iteration(spark, jobs_in_group):
    """Two up-front checkpoint jobs (edges, initial labels), then one job
    per iteration: the convergence count is observed on the iteration's
    checkpoint job. AQE and broadcast joins are off, so each action is
    exactly one job."""
    pairs = chain(spark)
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        with storage_scope():
            jobs = jobs_in_group(
                "cc-jobs", lambda: dedup.connected_components(pairs)
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    # the chain's 12 hops, then one iteration that changes nothing
    assert jobs == 2 + 13


def test_only_materialize_calls_local_checkpoint():
    """Every materialization in the package goes through the helper: no
    raw checkpoint, persist or cache call anywhere else."""
    raw = (".localCheckpoint(", ".persist(", ".unpersist(", ".cache()")
    offenders = [
        f"{p.relative_to(PACKAGE)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != PACKAGE / "materialize.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if any(call in line for call in raw)
    ]
    assert offenders == []
