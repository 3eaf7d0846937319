"""One owner for the Spark state a run leaves alive.

An operator that persists a frame, materializes a local-checkpoint
leaf or broadcasts a value for the frame it returns hands that state to
`own`. The innermost open `RunScope` keeps it, and closing the scope
frees all of it:

    with RunScope():
        rows = ssjoin_jaccard_pairs(docs, "id", "text").collect()

Outside any open scope `own` keeps nothing, and Spark's own lifecycle
applies (`spark.catalog.clearCache()`, the ContextCleaner).

A broadcast is unpersisted, never destroyed: a frame returned inside a
closed scope still closes over it, and its tasks re-fetch the value
from the driver, so that frame recomputes uncached instead of failing.
"""

from __future__ import annotations

from contextvars import ContextVar

from pyspark import Broadcast

# the open scopes, innermost last; a ContextVar, so each thread (and
# asyncio task) sees only the scopes it opened itself
_open: ContextVar[tuple] = ContextVar("run_scopes", default=())


class RunScope:
    """Persisted frames, local-checkpoint leaves, broadcasts and child
    scopes, freed together by `close()`; closing twice is safe."""

    def __init__(self):
        self._owned: list = []

    def own(self, x):
        self._owned.append(x)
        return x

    def close(self) -> None:
        while self._owned:
            x = self._owned.pop()
            if isinstance(x, RunScope):
                x.close()
            elif isinstance(x, Broadcast):
                x.unpersist(blocking=False)
            elif x.is_cached:  # a persisted DataFrame
                x.unpersist()
            else:  # a local-checkpoint leaf: its plan is the LogicalRDD
                x._jdf.logicalPlan().rdd().unpersist(False)

    def __enter__(self) -> RunScope:
        self._token = _open.set(_open.get() + (self,))
        return self

    def __exit__(self, *exc) -> None:
        _open.reset(self._token)
        self.close()


def current() -> RunScope | None:
    """The innermost open scope, or None."""
    scopes = _open.get()
    return scopes[-1] if scopes else None


def own(x):
    """Hand x to the innermost open scope (outside one, keep nothing);
    returns x."""
    scope = current()
    if scope is not None:
        scope.own(x)
    return x
