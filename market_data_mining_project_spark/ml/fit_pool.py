"""Background model fits (optimization guide §2.6).

The catalog's ML entries each train an INDEPENDENT estimator over
already-materialized inputs (churn GBT, horizon MLP, the 16-cell horizon
grid, implicit ALS). Each fit is a long chain of small iterative jobs that
never saturates the cluster, so a sweep overlaps them: the first ML entry
prefetches every fit, and the later consumers find theirs fitted or in
flight instead of paying it inline.

This module is the process-wide single-flight for those fits. Each
``key`` is ``(artifact, data version, model-cache root)`` and owns one cell:

- :func:`prefetch` — queue the cell on two background worker threads.
  The worker labels the cell's Spark jobs with
  ``spark.scheduler.pool=mdmp_background_fits``. Scheduling stays FIFO;
  the label exists so a stage listing can bill the work to the
  background fits instead of to whichever entry is running.
- :func:`shared` — the consumer path: runs the cell INLINE and unlabelled
  if no worker has started it yet (a consumer never waits behind other
  keys queued on the pool), or joins the in-flight run.

Only successes are memoized. A failed run takes its cell out of
``_CELLS``, so the next :func:`shared` call retries; a consumer that had
joined the failed run retries at once. A new data version replaces the
cell of the same artifact and cache root, so ``_CELLS`` holds one cell
per artifact.

The workers are the daemon threads of a ``multiprocessing.pool.ThreadPool``,
so a process exits without waiting for fits nobody consumed. An abandoned
fit publishes nothing: the artifact path (``persistence.publish_staged``)
keeps a half-written model invisible.

What this is NOT: result caching. Every cell's ``fn`` wraps the existing
``load_or_train`` / metrics-artifact path, so the pool changes WHEN
independent fits run, never what any entry computes.
"""

from __future__ import annotations

import logging
from multiprocessing.pool import ThreadPool
from threading import Lock

from pyspark import SparkContext

_LOG = logging.getLogger(__name__)
BACKGROUND_POOL = "mdmp_background_fits"

_LOCK = Lock()
_CELLS: dict[tuple, "_Cell"] = {}  # artifact slot -> its current cell
_POOL: ThreadPool | None = None  # created on the first prefetch


class _Cell:
    def __init__(self, key: tuple, fn):
        self.key = key
        self.fn = fn
        self.lock = Lock()
        self.state = "pending"  # -> "done" | "failed"
        self.value = None


def _slot(key: tuple) -> tuple:
    """The artifact a key names: the key without its data version."""
    return key[:1] + key[2:]


def _register(key: tuple, fn) -> tuple[_Cell, bool]:
    """The cell registered for ``key``, and whether this call created it.
    Caller holds ``_LOCK``."""
    cell = _CELLS.get(_slot(key))
    if cell is not None and cell.key == key:
        return cell, False
    cell = _CELLS[_slot(key)] = _Cell(key, fn)
    return cell, True


def _run(cell: _Cell) -> bool:
    """Run the cell unless a run already finished; True once it holds a
    value. A failing run leaves ``_CELLS`` and re-raises to its caller."""
    with cell.lock:
        if cell.state == "pending":
            try:
                cell.value = cell.fn()
            except BaseException:
                cell.state = "failed"
                with _LOCK:
                    if _CELLS.get(_slot(cell.key)) is cell:
                        del _CELLS[_slot(cell.key)]
                raise
            finally:
                cell.fn = None  # drop closed-over frames once resolved
            cell.state = "done"
        return cell.state == "done"


def _run_labelled(cell: _Cell) -> None:
    sc = SparkContext._active_spark_context
    if sc is None:
        _run(cell)
        return
    sc.setLocalProperty("spark.scheduler.pool", BACKGROUND_POOL)
    try:
        _run(cell)
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def prefetch(key: tuple, fn) -> None:
    """Background the cell: first registration queues it on the pool.
    Fire-and-forget — the sibling-entry warm-up path."""
    global _POOL
    with _LOCK:
        cell, created = _register(key, fn)
        if not created:
            return
        if _POOL is None:
            _POOL = ThreadPool(2)
    _POOL.apply_async(
        _run_labelled,
        (cell,),
        error_callback=lambda exc: _LOG.warning(
            "background fit %s failed; its consumer retries it", key, exc_info=exc
        ),
    )


def shared(key: tuple, fn):
    """Consumer path: compute-or-join the cell for ``key``. Runs inline
    when no worker has picked it up yet, so a blocking consumer is never
    serialized behind OTHER keys waiting on the pool."""
    while True:
        with _LOCK:
            cell, _ = _register(key, fn)
        if _run(cell):
            return cell.value
