"""Bounded, releasable registry for operator-internal persist seams.

Several operators share an expensive intermediate (a shingle table, a
bigram tf frame, the winnowing fingerprint arrays) between two or more
consumers inside ONE returned plan. The house pattern is an
EAGERLY-FILLED ``persist()`` — not ``localCheckpoint`` (its ``.rdd``
conversion executes stages at plan construction under AQE and flattens
the frame to a LogicalRDD whose static stats hide explode fan-out), and
not a bare lazy persist (an unfilled InMemoryRelation reports its
child's estimate — the same lie; both baited corpus-sized broadcasts at
the 100x lane, see ``dedup.containment_pairs``).

What those per-call persists lacked was a LIFETIME: a long-lived serving
session calling ``winnow_contamination`` or ``containment_scores``
repeatedly accumulated cached frames until block-level LRU eviction
churned. This module gives every operator-internal seam the same
bounded, replace-and-unpersist discipline the session-scoped
``workload._shared_*`` caches already follow:

- ``seam(df)`` persists (optionally eager-fills) and registers the frame
  in a per-session FIFO registry KEYED BY THE PLAN'S SEMANTIC HASH — a
  repeated call with the same inputs re-registers the same entry (Spark's
  CacheManager already dedupes same-plan ``persist()`` calls, so the
  registry mirrors what the JVM actually caches) instead of growing.
- the registry holds at most ``SEAM_CAP`` distinct seams per session;
  registering beyond the cap unpersists the OLDEST seam. With <=2 seams
  per operator call, an in-flight plan's seams are only evicted if the
  caller interleaves 4+ other seam-bearing operators before consuming.
  The fallout of that eviction is WORSE than a silent recompute: a
  downstream join over the evicted seam plans from the child's size
  ESTIMATE again (the eager fill's actual-bytes statistics die with the
  cache entry), which re-opens the mis-sized corpus-scale broadcast
  failure the eager fill exists to prevent — explode fan-out hidden by
  static stats can bait a broadcast of a corpus-sized side. Callers
  that build many seam-bearing plans before executing any of them must
  either consume as they go or raise ``SEAM_CAP`` for the session; the
  in-repo operators consume each plan before registering 4 more, so
  the default cap is safe for every registered query.
- ``release_seams(spark)`` deterministically unpersists everything the
  registry holds — the between-queries hook for benches and serving
  loops that want the cache manager empty.

Session artifacts — the ``workload._shared_*`` tiers several queries read
(minhash signatures, LSH pairs, IVF assignment, τ-pairs, doc term
frequencies, pack layout) — live in a second, uncapped per-session store:

- ``shared(spark, name, key, build)`` holds one ``(key, value)`` slot per
  ``name``. A call with the stored key returns the stored value (the same
  object, so its cache entry is hit); any other key unpersists the old
  value if it is a DataFrame, then stores and returns ``build()``. The
  builder does its own ``persist()``; the store only owns the lifetime.
- ``release_shared(spark)`` unpersists every stored frame and empties the
  session's store — the between-trials reset for benches that must
  re-pay the tier builds.

Both stores hold only handles (the cached bytes live in the JVM block
manager); a session's entries die with the session via the
WeakKeyDictionary.
"""

from __future__ import annotations

import weakref
from collections import OrderedDict
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

SEAM_CAP = 8

T = TypeVar("T")

# Monotonic count of cap-evicted seams (process-wide): observability for
# the eviction-pressure soak (scripts/serve_soak.py --evict) and tests —
# a serving loop that hits the cap every iteration should see this grow
# by (registrations - SEAM_CAP) per iteration, with results unchanged.
# SINGLE-THREADED counter: the registry in _REG is keyed per session, but
# this counter is a plain unsynchronized module global — concurrent
# serving threads or multiple sessions in one process would interleave
# increments and per-iteration deltas could misattribute evictions. Fine
# for the one-session soak it instruments; key it per session next to
# _REG before instrumenting concurrent serving.
EVICTIONS = 0

_REG: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = (
    weakref.WeakKeyDictionary()
)
_SHARED: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple]]" = (
    weakref.WeakKeyDictionary()
)


def _plan_key(df: DataFrame):
    """Semantic hash of the analyzed plan — equal for plans Spark's
    CacheManager would dedupe, so one registry slot tracks one JVM cache
    entry. Falls back to the py4j object id if the internal API moves."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # pragma: no cover - internal-API drift guard
        return id(df._jdf)


def seam(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist ``df`` as a bounded, releasable operator-internal seam.

    ``eager=True`` (the default) fills the cache with a ``count()`` so
    the planner sees ACTUAL bytes — broadcast at small scale, shuffle at
    corpus scale, with no hand-placed hints (the round-11 lesson: both
    lazy localCheckpoint and an unfilled cache report estimates that
    hide explode fan-out). Pass ``eager=False`` for seams whose first
    consumer fills the cache anyway (e.g. a boundary-sample collect) —
    they still get registered for bounded eviction + release.
    """
    spark = df.sparkSession
    reg = _REG.get(spark)
    if reg is None:
        reg = OrderedDict()
        _REG[spark] = reg
    df = df.persist()
    if eager:
        df.count()
    key = _plan_key(df)
    if key in reg:
        # same plan re-registered: one JVM cache entry, one slot —
        # refresh recency, do NOT unpersist (it would clear the shared
        # CacheManager entry under the earlier handle too)
        reg.pop(key)
    reg[key] = df
    global EVICTIONS
    while len(reg) > SEAM_CAP:
        EVICTIONS += 1
        # Evicting an UNCONSUMED seam is not just a recompute: its
        # eager-filled statistics vanish, so a not-yet-executed plan
        # referencing it re-plans from the child's estimate — the
        # corpus-scale-broadcast bait documented in the module
        # docstring. Safe here because eviction requires SEAM_CAP
        # newer registrations first (>=4 interleaved operator calls).
        _, old = reg.popitem(last=False)
        try:
            old.unpersist(blocking=False)
        except Exception:  # pragma: no cover - stopped-session race
            pass
    return df


def release_seams(spark: SparkSession) -> int:
    """Unpersist every registered seam for ``spark``; returns how many
    were released. Deterministic cleanup hook for serving loops and
    benches — after this (and absent other caches) the session's
    CacheManager is empty."""
    reg = _REG.pop(spark, None)
    if not reg:
        return 0
    n = 0
    for df in reg.values():
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:  # pragma: no cover - stopped-session race
            pass
    return n


def shared(spark: SparkSession, name: str, key, build: Callable[[], T]) -> T:
    """Session artifact ``name`` for ``key``: the stored value on a key
    hit, else ``build()`` (after unpersisting the replaced frame)."""
    store = _SHARED.setdefault(spark, {})
    entry = store.get(name)
    if entry is not None:
        if entry[0] == key:
            return entry[1]
        if isinstance(entry[1], DataFrame):
            entry[1].unpersist()
    value = build()
    store[name] = (key, value)
    return value


def release_shared(spark: SparkSession) -> int:
    """Unpersist every stored session artifact frame for ``spark`` and
    empty its store; returns how many frames were released."""
    store = _SHARED.pop(spark, None) or {}
    n = 0
    for _, value in store.values():
        if isinstance(value, DataFrame):
            value.unpersist()
            n += 1
    return n
