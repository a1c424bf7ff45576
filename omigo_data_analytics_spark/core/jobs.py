"""Driver-job fusion helpers for iterative operators.

The iterative loops (BFS/ancestor closures, label propagation, dangling-
edge pruning) used to pay TWO driver jobs per round: an eager
localCheckpoint to materialize the round's delta, then a separate
terminator job (isEmpty / count / convergence-signature aggregate) over
the just-materialized blocks. The r14 adjudication pinned the checkpoint
itself to EAGER (a round frame is consumed by the terminator AND the next
round's plan construction — deferring its materialization makes the
consumers redo work), so the remaining fusion lever is the terminator:

``checkpoint_with_metrics`` rides the terminator aggregates on the eager
checkpoint's OWN materialization action via ``DataFrame.observe()``
(CollectMetrics accumulators fill as the checkpoint's tasks run; the
checkpoint action is wrapped in ``withAction``, so the observation
resolves the moment ``localCheckpoint()`` returns — verified: resolves in
<50 ms, including AQE empty-relation-propagated plans and calls from
worker threads). One job per round, zero extra passes over the blocks.

The eager censuses use the same idiom (the ordered carries' hot-key
router, ``ngram_jaccard_pairs``' DF cap): ``keep`` observes the counts
below a threshold filter and checkpoints only the hot set, so one job
yields both the set and the counts that decide the plan.

The observation read cannot hang: ``Observation.get`` blocks only until
the observed dataset's first action completes, and we call it strictly
AFTER the eager checkpoint (that first action) has returned. If the
checkpoint itself fails, the exception propagates before any read.
"""

from __future__ import annotations

import logging
import threading
import time
from collections import deque

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


def checkpoint_with_metrics(
        df: DataFrame,
        metrics: dict[str, Column],
        keep: Column | None = None) -> tuple[DataFrame, dict]:
    """Eagerly localCheckpoint ``df`` and return ``(checkpointed_df,
    observed_metrics)`` where the metrics (a name -> aggregate-Column
    mapping, e.g. ``{"n": F.count(F.lit(1))}``) are computed BY the
    checkpoint's materialization job itself — no separate terminator job.

    ``keep`` (a boolean Column over ``df``) filters the checkpoint ABOVE
    the observation: the metrics see every row of ``df`` while the
    checkpoint stores only the kept rows — a census that counts every
    group but materializes just the hot set, in one job. It must not
    fold to a literal false (the optimizer would prune the observed
    subtree and the metrics would never fill).

    Metric expressions must be deterministic aggregates over ``df``'s
    columns (the ``observe`` contract). Over an empty frame, ``count``
    metrics read 0 and value aggregates read None — same as the separate
    aggregate they replace."""
    obs = Observation()
    ck = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    if keep is not None:
        ck = ck.where(keep)
    return ck.localCheckpoint(), obs.get


def nonunique_counts(df: DataFrame, key: Column) -> tuple[int, int] | None:
    """None when no value of ``key`` repeats over the rows of ``df``, else
    ``(rows, distinct keys)``. A NULL key is not a distinct key (the
    ``count_distinct`` rule). Both counts are observed on the eager
    checkpoint of the per-key counts, which keeps only repeated keys, so
    no result rows are read back through a socket."""
    c = F.col("__c__")
    _, m = checkpoint_with_metrics(
        df.groupBy(key.alias("__k__")).agg(F.count(F.lit(1)).alias("__c__")),
        {"n": F.sum(c), "d": F.count("__k__")}, keep=c > 1)
    n, d = m["n"] or 0, m["d"]
    return None if n == d else (n, d)


# --------------------------------------------------------------- async form
# For guards that should ride the CALLER'S first action (the operator has
# long returned by then): attach observe() metrics and let one shared
# daemon poller deliver them to a callback when the action completes.
# Zero extra jobs, zero extra scans; a plan that is never executed simply
# ages out of the bounded registry. The poller reads the JVM Observation
# with getRowOrEmpty, a bounded wait (up to 100 ms per pending watch per
# sweep, on the poller thread) so nothing ever parks on an unexecuted
# plan. That read is not public PySpark API, so each watch first probes
# that the handle has it; a PySpark without it gets no watch (the frame
# goes back unobserved) rather than a poller that could fail or block.

_WATCH_MAX = 256
_POLL_SEC = 0.5
_watches: deque = deque(maxlen=_WATCH_MAX)
_watch_lock = threading.Lock()
_poller_alive = False
_logged: set[str] = set()
_log = logging.getLogger(__name__)


def _log_once(key: str, msg: str, *args, exc_info=False) -> None:
    """Log ``msg`` the first time ``key`` is seen: a diagnostic that keeps
    failing must neither flood the log nor fail silently."""
    with _watch_lock:
        if key in _logged:
            return
        _logged.add(key)
    _log.warning(msg, *args, exc_info=exc_info)


def _bounded_read(obs: Observation):
    """The observation's bounded row read (a callable returning a JVM
    Option), or None when this PySpark's Observation lacks the private
    ``_jo.getRowOrEmpty`` the poller relies on. Probed by name (one
    round trip listing the handle's methods), never by calling it: on an
    unexecuted plan the read waits its full 100 ms."""
    try:
        jo = obs._jo
        return jo.getRowOrEmpty if "getRowOrEmpty" in dir(jo) else None
    except (AttributeError, Py4JError):
        return None


def observe_async(df: DataFrame, metrics: dict[str, Column],
                  callback) -> DataFrame:
    """Return ``df`` with ``metrics`` attached via ``observe()``;
    ``callback(metrics_dict)`` runs on a shared daemon thread after the
    returned frame's first action completes. A callback error never
    reaches the caller's query; it is logged once per callback. When
    the bounded read is unavailable, ``df`` comes back unobserved
    and the callback never runs."""
    global _poller_alive
    obs = Observation()
    out = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    read = _bounded_read(obs)
    if read is None:
        _log_once("observe_async:no-read",
                  "observe_async: this PySpark's Observation has no "
                  "bounded read (_jo.getRowOrEmpty); asynchronous "
                  "diagnostics are disabled")
        return df
    with _watch_lock:
        _watches.append((obs, read, callback))
        if not _poller_alive:
            _poller_alive = True
            threading.Thread(target=_poll_loop, daemon=True,
                             name="omigo-observe-poller").start()
    return out


def _poll_loop():
    global _poller_alive
    while True:
        time.sleep(_POLL_SEC)
        with _watch_lock:
            items = list(_watches)
            if not items:
                _poller_alive = False
                return
        done = []
        for item in items:
            obs, read, cb = item
            try:
                if not read().isDefined():
                    continue
                m = obs.get  # resolved: returns immediately
            except Exception:
                # gateway gone / session stopped: drop the watch
                done.append(item)
                continue
            done.append(item)
            try:
                cb(m)
            except Exception:
                name = getattr(cb, "__qualname__", repr(cb))
                _log_once(name, "observe_async: callback %s failed",
                          name, exc_info=True)
        if done:
            with _watch_lock:
                for item in done:
                    try:
                        _watches.remove(item)
                    except ValueError:
                        pass
