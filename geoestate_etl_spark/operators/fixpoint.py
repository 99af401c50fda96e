"""The one fixpoint driver behind every iterative graph operator.

Connected components (label propagation and star contraction), BFS,
SSSP, PageRank, k-core peeling, label propagation and random walks
each supply only a per-round ``step`` and, when they have one, a
convergence signal. The round machinery lives here:

- **Edge cache.** :meth:`GraphLoop.edges` persists the loop-invariant
  edge relation once and counts it once; with ``key`` the exchange
  that builds it also hash-partitions and sorts it on the join column,
  so no round re-exchanges or re-sorts the edge side (guide §2.4);
  :meth:`GraphLoop.keyed` does the same for an already-counted cache.
- **Shuffle window.** That count sizes ``spark.sql.shuffle.partitions``
  until the call exits: without it every tiny round pays the session's
  full shuffle fan-out in empty-task scheduling (measured r8/r10,
  docs/TUNING.md). At scale it is a no-op.
- **Rounds.** :func:`iterate` runs each round as ONE eager
  ``localCheckpoint``. Convergence rides that job through one
  ``Observation``: the step marks changed rows with :data:`CHANGED`,
  or an ``until`` test compares observed row counts. Fixed-count loops
  pass neither and observe nothing.
- **Lifetime.** A :class:`GraphLoop` releases everything it persisted
  on exit, return or raise; returned frames are checkpoint-backed.
"""

from __future__ import annotations

import threading
import weakref
from contextlib import ExitStack, contextmanager
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: Boolean column a step adds to mark the rows its round changed; the
#: driver observes its sum and drops it from the next state.
CHANGED = "_changed"

#: Guard for the shuffle window: loops run on CONCURRENT driver threads
#: (components_suite builds its variants that way), so a naive per-call
#: save/set/restore could save another window's TEMPORARY value and
#: restore the session to it, or size from it. Every entrant sizes from
#: the ORIGINAL value (saved by the first entrant), the conf holds the
#: MAX over active windows (a big loop is never shrunk by a tiny one),
#: and the last exit restores the original. State is kept per
#: SparkSession, weakly: the conf is session-scoped (r8 ADVICE).
#: Residuals, performance-only and bounded by the window's duration: a
#: concurrent non-loop query planned inside a window sees the reduced
#: setting, and a user conf change made mid-window is overwritten.
_conf_lock = threading.Lock()


class _WindowState:
    __slots__ = ("saved", "active")

    def __init__(self) -> None:
        self.saved: str | None = None
        self.active: list[int] = []


_conf_state: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


@contextmanager
def _iteration_shuffle_window(sess, n_edges: int):
    """Temporarily size ``spark.sql.shuffle.partitions`` from the
    measured edge count (≥100k edges per partition; never raised above
    the session setting — at scale this is a no-op)."""
    key = "spark.sql.shuffle.partitions"
    entered = False
    npart = 0
    with _conf_lock:
        st = _conf_state.get(sess)
        if st is None:
            st = _WindowState()
            _conf_state[sess] = st
        try:
            original = int(
                sess.conf.get(key) if st.saved is None else st.saved
            )
        except ValueError:  # non-numeric conf (e.g. "auto")
            original = None
        if original is not None:
            # enter even when npart == original: a LARGE concurrent CC
            # must push its full size into the active set so a tiny
            # window running beside it cannot hold the conf at 1 while
            # the large iteration plans its rounds
            npart = max(1, min(original, n_edges // 100_000 + 1))
            saved_before = st.saved
            if st.saved is None:
                st.saved = str(original)
            st.active.append(npart)
            try:
                sess.conf.set(key, str(max(st.active)))
            except Exception:
                # undo the bookkeeping so a failed set cannot pin
                # max(active) for every future window (r8 ADVICE, low)
                st.active.remove(npart)
                st.saved = saved_before
                raise
            entered = True
    try:
        yield
    finally:
        if entered:
            with _conf_lock:
                st.active.remove(npart)
                if st.active:
                    sess.conf.set(key, str(max(st.active)))
                elif st.saved is not None:
                    sess.conf.set(key, st.saved)
                    st.saved = None


def checkpoint(df: DataFrame) -> DataFrame:
    """One eager ``localCheckpoint``: materialized now, lineage cut."""
    return df.localCheckpoint(eager=True)


def _round(df: DataFrame, rows: bool) -> tuple[DataFrame, int | None, int | None]:
    """Checkpoint one round → ``(frame, rows, changed)``. ``rows`` (when
    asked) and ``changed`` (when ``df`` carries :data:`CHANGED`) ride
    the checkpoint's own job through one Observation; otherwise they
    are None and nothing is observed."""
    marks = CHANGED in df.columns
    metrics = []
    if rows:
        metrics.append(F.count(F.lit(1)).alias("rows"))
    if marks:
        metrics.append(F.sum(F.col(CHANGED).cast("long")).alias("changed"))
    if not metrics:
        return checkpoint(df), None, None
    obs = Observation()
    frame = checkpoint(df.observe(obs, *metrics))
    try:
        got = obs.get
        n_rows = int(got["rows"]) if rows else None
        n_changed = int(got["changed"] or 0) if marks else None
    except Exception:
        # Spark 4.1 quirk: metrics rows over driver-local relations trip
        # PythonSQLUtils.toPyRow (see corpus_pipeline); such inputs are
        # tiny frames, so count on the checkpointed frame instead
        n_rows = frame.count() if rows else None
        n_changed = frame.filter(F.col(CHANGED)).count() if marks else None
    return frame, n_rows, n_changed


class Round(NamedTuple):
    """What an ``until`` test sees after each round."""

    prev: DataFrame
    new: DataFrame
    rows: int
    prev_rows: int


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    until: Callable[[Round], bool] | None = None,
) -> DataFrame:
    """Run up to ``max_rounds`` rounds of ``state = step(state, i)``,
    each one eager checkpoint, and return the last state.

    Stops early after a round whose step marked no row
    :data:`CHANGED`, or whose :class:`Round` satisfies ``until`` (the
    initial state then goes through one observed checkpoint first, so
    round 0 has a previous row count to compare with). The returned
    frame is always checkpoint-backed."""
    prev_rows = 0
    if until is not None or max_rounds <= 0:
        state, prev_rows, _ = _round(state, rows=until is not None)
    for i in range(max_rounds):
        new, rows, changed = _round(step(state, i), rows=until is not None)
        if changed is not None:
            new = new.drop(CHANGED)
        if changed == 0 or (
            until is not None and until(Round(state, new, rows, prev_rows))
        ):
            return new
        state, prev_rows = new, rows
    return state


class GraphLoop:
    """Lifetime of one operator call: the caches it holds and the
    shuffle window its edge count opens, both released on exit."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.n_edges = 0
        self._held: list[DataFrame] = []
        self._window = ExitStack()

    def __enter__(self) -> "GraphLoop":
        return self

    def __exit__(self, *exc) -> None:
        try:
            self._window.close()
        finally:
            while self._held:
                self._held.pop().unpersist()

    def hold(self, df: DataFrame) -> DataFrame:
        """Persist a loop-invariant frame until the call exits."""
        df = df.persist()
        self._held.append(df)
        return df

    def edges(
        self, edges: DataFrame, key: str | None = None, distinct: bool = False
    ) -> DataFrame:
        """The call's edge cache: built once (keyed on ``key`` when
        given — the dedup and the sort ride that one exchange, since
        hash-partitioning on ``key`` co-locates every duplicate),
        persisted, and counted once. The count sizes the shuffle
        window, open from here until the call exits."""
        if key is not None:
            edges = edges.repartition(F.col(key))
            if distinct:
                edges = edges.dropDuplicates()
            edges = edges.sortWithinPartitions(key)
        elif distinct:
            edges = edges.distinct()
        cache = self.hold(edges)
        self.n_edges = cache.count()
        self._window.enter_context(
            _iteration_shuffle_window(self.spark, self.n_edges)
        )
        return cache

    def keyed(self, cache: DataFrame, key: str) -> DataFrame:
        """Re-lay a counted edge cache out on ``key``: hash-partitioned
        and sorted, persisted, and counted once, then the unkeyed cache
        is released. Built inside the window, so its partition count is
        the rounds' own. The count matters: an unmaterialized cache,
        like a checkpoint, reports no partitioning to the planner, so
        round 0 would re-exchange the edges."""
        keyed = self.hold(cache.repartition(F.col(key)).sortWithinPartitions(key))
        keyed.count()
        self._held.remove(cache)
        cache.unpersist()
        return keyed
