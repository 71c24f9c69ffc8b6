"""One storage discipline for materialized intermediates. An operator
usually returns a lazy DataFrame that still reads the blocks it
checkpointed, so the caller that runs the action owns them, through
:func:`storage_scope`; :func:`fixpoint` is the iterative operators' loop.

``DataFrame.unpersist()`` does not free a ``localCheckpoint`` (Spark 4.1);
only the ``LogicalRDD``'s own RDD does, which :func:`_release` unpersists.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame

# open scopes, innermost last, each the list of checkpoints it owns; a
# ContextVar, so every thread has its own stack
_scopes: ContextVar[tuple[list[DataFrame], ...]] = ContextVar("scopes", default=())


def checkpoint(df: DataFrame) -> DataFrame:
    """``df`` materialized now, owned by the innermost open scope."""
    df = df.localCheckpoint(eager=True)
    if scopes := _scopes.get():
        scopes[-1].append(df)
    return df


def _release(owned: list[DataFrame]) -> None:
    for df in owned:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    owned.clear()


@contextmanager
def _owning(owned: list[DataFrame]) -> Iterator[list[DataFrame]]:
    token = _scopes.set(_scopes.get() + (owned,))
    try:
        yield owned
    except BaseException:
        _release(owned)
        raise
    finally:
        _scopes.reset(token)


@contextmanager
def storage_scope() -> Iterator[None]:
    """Free every checkpoint made inside the block when it exits."""
    with _owning([]) as owned:
        yield
    _release(owned)


def _observed(df: DataFrame) -> int:
    # read off the checkpoint job's own plan, not through an
    # ``Observation``: that registers a session-wide query listener, and
    # with it later catalog queries measured up to 1.5x slower
    return df._jdf.queryExecution().observedMetrics().apply("changed").getLong(0)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    iterations: int,
    changed: Column | None = None,
) -> DataFrame:
    """``state = step(state)`` up to ``iterations`` times.

    The initial and every new state are checkpointed together with what
    ``step`` checkpoints; an iteration's blocks are freed once the next
    state exists. ``changed`` is an aggregate over the new state, observed
    on the job that checkpoints it, so testing convergence costs no job
    of its own: the loop stops once it reads 0. If ``changed`` is given
    and never reads 0, raises ``RuntimeError`` named after the function
    that defined ``step``.

    Operators call it inside their own :func:`storage_scope`, which frees
    the loop's inputs on return; the last iteration's blocks, which the
    result reads, belong to the scope around that one.
    """
    live: list[DataFrame] = []
    with _owning(live):
        state = checkpoint(state)
        for _ in range(iterations):
            with _owning([]) as new:
                nxt = step(state)
                if changed is not None:
                    nxt = nxt.observe("changed", changed.alias("changed"))
                state = checkpoint(nxt)
            _release(live)
            live.extend(new)
            if changed is not None and _observed(nxt) == 0:
                break
        else:
            if changed is not None:
                name = step.__qualname__.split(".<locals>")[0]
                raise RuntimeError(
                    f"{name} did not converge in {iterations} iterations"
                )
    if outer := _scopes.get()[:-1]:
        outer[-1].extend(live)
    return state
