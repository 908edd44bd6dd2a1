"""The engine's one per-process memo of derived artifacts.

Everything the engine derives once and reuses — lazy table plans and
schemas, on-disk test-scaffold layouts, plan-choice probes, persisted
relations shared across operators — lives here under one rule:

- **Key.** ``(kind, scope, params, input identity)``. ``kind`` names the
  artifact, ``scope`` is what it is derived per (a table path or sf_dir;
  ``None`` for relations held in one slot per kind), ``params`` are the
  governing parameters, and the input identity is :func:`identity` of
  every table the artifact reads. A table rewritten at the same path gets
  a new identity, so nothing derived from the old bytes is ever served.
- **Replacement.** One entry per ``(kind, scope)`` slot: building under a
  new ``params``/identity replaces the old entry and unpersists whatever
  relations it held. That keeps the memo bounded — layouts and metadata
  by the number of tables, persisted relations to one per kind — however
  many corpora a process visits.
- **Concurrency.** Hits are lock-free. A miss builds under the slot's own
  lock, so concurrent first callers build once and unrelated slots never
  wait on each other. Builders that consume other memoized artifacts
  nest (the dependency graph is acyclic, so the locks cannot deadlock).
- **Release.** :func:`clear` unpersists and forgets the persisted
  relations only; plans, schemas, layouts and probes survive, because
  their keys already invalidate them when the data changes.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterable
from typing import Any, NamedTuple

from pyspark.sql import DataFrame


class _Entry(NamedTuple):
    key: tuple  # (params, input identities)
    value: Any
    held: bool  # the value pins persisted relations


_STORE: dict[tuple, _Entry] = {}
_LOCKS: dict[tuple, threading.Lock] = {}


def identity(path: str) -> tuple:
    """Input identity of one table: its path plus ``(name, st_size,
    st_mtime_ns)`` of each file in the table directory (or of the file
    itself). Nanosecond mtime, not whole seconds: a same-size rewrite
    within one second must still read as new data. A path that cannot be
    stat'ed (a remote URI) is identified by the path alone."""
    try:
        if os.path.isdir(path):
            with os.scandir(path) as it:
                stats = [(e.name, e.stat()) for e in it]
        else:
            stats = [("", os.stat(path))]
    except OSError:
        return (path, ())
    return (
        path,
        tuple(sorted((n, st.st_size, st.st_mtime_ns) for n, st in stats)),
    )


def get(
    kind: str,
    build: Callable[[], Any],
    *,
    inputs: Iterable[str] = (),
    scope: Any = None,
    params: tuple = (),
    persist: bool = False,
) -> Any:
    """The memoized value of ``build()`` under the key rule above.

    ``persist=True`` marks a relation entry: a DataFrame value is
    persisted here, and every DataFrame in the value (a tuple or list may
    carry relations the builder persisted itself) is unpersisted when the
    entry is replaced or :func:`clear` runs."""
    slot = (kind, scope)
    key = (params, tuple(identity(p) for p in inputs))
    hit = _STORE.get(slot)
    if hit is not None and hit.key == key:
        return hit.value
    with _LOCKS.setdefault(slot, threading.Lock()):
        hit = _STORE.get(slot)
        if hit is not None and hit.key == key:
            return hit.value
        value = build()
        if persist and isinstance(value, DataFrame):
            value = value.persist()
        _install(slot, _Entry(key, value, persist))
    return value


def swap(kind: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` in ``kind``'s slot without reuse: each call replaces
    (and unpersists) the previous call's relation, so an operator that
    persists a per-invocation intermediate holds at most one."""
    return get(kind, lambda: df, params=(object(),), persist=True)


def clear() -> None:
    """Unpersist and forget every persisted relation. Benchmarks call this
    between timing passes so each pass builds its relations again; a
    build racing the clear either lands before it (and is released) or
    after it (and stays tracked), never outside the memo."""
    for slot, entry in list(_STORE.items()):
        if not entry.held:
            continue
        with _LOCKS[slot]:
            entry = _STORE.get(slot)
            if entry is not None and entry.held:
                del _STORE[slot]
                _release(entry.value)


def _install(slot: tuple, entry: _Entry) -> None:
    old = _STORE.get(slot)
    _STORE[slot] = entry
    if old is not None and old.held:
        _release(old.value)


def _release(value: Any) -> None:
    if isinstance(value, DataFrame):
        value.unpersist(blocking=False)
    elif isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
