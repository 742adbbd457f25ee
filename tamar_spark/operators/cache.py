"""Lease-scoped internal persists.

An operator that persists an intermediate its plan references more than
once (triangles' oriented edges, kmeans' training input, dedup's shingle
sets) must not leave that cache registered for the SESSION lifetime:
Spark's CacheManager holds persisted plans until ``unpersist`` is called
explicitly, so in a long-lived session (an application server, a
90-query bench pass) un-released internal persists accumulate and crowd
the storage pool — measured r11: eight dedup/similarity queries left ten
session-lifetime cached RDDs behind.

(``localCheckpoint`` residue is a different, bounded class: the iterative
operators' per-round checkpoints register a handful of RDDs per
invocation that Spark's ContextCleaner reclaims from JVM weak references
— they do not accumulate per call the way un-released ``persist`` plans
do, and this module deliberately leaves them to the cleaner.)

The lease pattern (introduced for triangles in r10, generalized here)
scopes each internal persist to the lifetime of the frame the operator
returns: while any consumer holds the frame the cache is registered (the
multiple plan references that justified the persist genuinely share it
during execution); when the last Python reference drops, the cache is
unpersisted — deterministic under CPython refcounting, idempotent, safe
after session stop — unless another live lease holds a plan with the
same result, since Spark shares one cache entry between such plans.
Consumers that DERIVE a new frame and drop the operator's return value
carry the lease forward with :func:`attach_lease` (or the cache is
released early — still correct, the derived plan just recomputes
uncached).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

__all__ = ["CacheLease", "attach_lease", "leased_persist", "scope_caches"]

# Spark keeps ONE cache entry for all persisted plans that give the same
# result, so a lease may unpersist only when no other live lease holds an
# equal plan: live leases per analyzed-plan semantic hash.  Reentrant, as
# a finalizer can run on a thread that already holds the lock.
_HELD: dict = {}
_HELD_LOCK = threading.RLock()


def _hold(jdf) -> int:
    key = jdf.queryExecution().analyzed().semanticHash()
    with _HELD_LOCK:
        _HELD[key] = _HELD.get(key, 0) + 1
    return key


def _release_cache(jdf, key: int) -> None:
    """Drop one lease on ``jdf``'s plan and unpersist it when that was the
    last; safe after session stop."""
    with _HELD_LOCK:
        _HELD[key] -= 1
        if _HELD[key]:
            return
        del _HELD[key]
        try:
            jdf.unpersist(False)
        except Exception:
            pass


class CacheLease:
    """Scopes one or more internal persists to the lifetime of the frames
    that carry this lease object: when the LAST frame holding it is
    garbage collected, every cached frame is unpersisted unless another
    live lease holds a plan with the same result.  ``children``
    keeps upstream leases (from operators this one composed) alive for
    exactly as long, so a composed plan releases its whole cache chain
    together.  ``release()`` drops everything eagerly."""

    __slots__ = ("__weakref__", "_finalizers", "_children")

    def __init__(self, *jdfs, children=()):
        import weakref

        self._children = list(children)
        self._finalizers = [
            weakref.finalize(self, _release_cache, j, _hold(j)) for j in jdfs
        ]

    def release(self) -> None:
        for f in self._finalizers:
            f()
        for c in self._children:
            c.release()

    def covers(self, other: "CacheLease") -> bool:
        """True if ``other`` is this lease or held transitively through
        the child chain — i.e. keeping ``self`` alive already keeps
        ``other``'s caches registered.  Chains are a handful of levels
        deep at most (one per composed operator), so the walk is cheap."""
        if other is self:
            return True
        return any(c.covers(other) for c in self._children)


def attach_lease(df: DataFrame, source: DataFrame) -> DataFrame:
    """Propagate ``source``'s cache lease (if any) onto a derived frame.

    A caller that derives a new frame (orderBy/limit/select/...) and
    discards the operator's return value must carry the lease forward or
    the cache is released before the derived plan executes (still
    correct — the consumer just recomputes uncached).

    Folds rather than overwrites: a frame derived from TWO leased
    sources keeps both chains alive (an overwrite would silently release
    the first source's persists before execution — caches defeated, plan
    recomputes uncached).  Re-attaching a lease either side already
    holds — directly or transitively through a fold — is a TRUE no-op
    (r12 ADVICE: the membership check is ``covers()``, so deriving
    repeatedly from the same leased source in a loop no longer grows a
    nested fold chain one level per call)."""
    lease = getattr(source, "_tamar_cache_lease", None)
    if lease is not None:
        existing = getattr(df, "_tamar_cache_lease", None)
        if existing is None or lease.covers(existing):
            df._tamar_cache_lease = lease
        elif not existing.covers(lease):
            df._tamar_cache_lease = CacheLease(children=[existing, lease])
    return df


def leased_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` and IMMEDIATELY scope the cache to the frame's own
    lifetime, closing the error-path leak window: an exception raised
    between an eager ``persist()`` and the operator's final
    :func:`scope_caches` would otherwise strand a session-lifetime cached
    plan (exactly the leak class the lease pattern exists to fix — the
    happy path released, the error path did not).  The frame's own lease
    is folded as a child by a later ``scope_caches``/``attach_lease``, so
    the release point still migrates to the operator's output frame."""
    out = df.persist(storage_level) if storage_level is not None else df.persist()
    out._tamar_cache_lease = CacheLease(out._jdf)
    return out


def scope_caches(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Scope the persists of ``cached`` frames to ``out``'s lifetime.

    Any lease already riding ``out`` or a ``cached`` frame (an operator
    composing another leased operator, or a :func:`leased_persist`
    intermediate) is folded in as a child, so one object on the returned
    frame owns the full cache chain; a cached frame that already carries
    its own lease contributes only that child (no second finalizer on
    the same plan).  Returns ``out`` with the lease attached."""
    children = []
    direct = []
    for d in (out, *cached):
        lease = getattr(d, "_tamar_cache_lease", None)
        if lease is not None:
            if not any(c.covers(lease) for c in children):
                children = [c for c in children if not lease.covers(c)]
                children.append(lease)
        elif d is not out:
            direct.append(d._jdf)
    out._tamar_cache_lease = CacheLease(*direct, children=children)
    return out
