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

from pyspark.sql import DataFrame

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


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    iterations: int,
    converged: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """``state = step(state)`` up to ``iterations`` times.

    The initial and every new state are checkpointed together with what
    ``step`` checkpoints; an iteration's blocks are freed once the next
    state exists. Stops early once ``converged(state)`` holds; if
    ``converged`` is given and never holds, raises ``RuntimeError`` named
    after the function that defined ``step``.

    Operators call it inside their own :func:`storage_scope`, which frees
    the loop's inputs on return; the last iteration's blocks, which the
    result reads, belong to the scope around that one.
    """
    live: list[DataFrame] = []
    with _owning(live):
        state = checkpoint(state)
        for _ in range(iterations):
            with _owning([]) as new:
                state = checkpoint(step(state))
            _release(live)
            live.extend(new)
            if converged is not None and converged(state):
                break
        else:
            if converged is not None:
                name = step.__qualname__.split(".<locals>")[0]
                raise RuntimeError(
                    f"{name} did not converge in {iterations} iterations"
                )
    if outer := _scopes.get()[:-1]:
        outer[-1].extend(live)
    return state
