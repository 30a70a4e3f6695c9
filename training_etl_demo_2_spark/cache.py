"""Scoped tracking for intra-query persists.

Operators persist intermediate relations (shingle sets, posting lists,
edge relations) that several branches of ONE query plan share. Because
registered queries return LAZY DataFrames, the persist materializes
only when the *caller* runs an action — so the operator function itself
can never ``try/finally: unpersist()`` (it would mark the cache for
removal before the plan ever executes). That leaves two legitimate
release points, and this module implements both:

* **Harness policy** — ``bench.py`` / ``tools/check_oracle.py`` call
  ``spark.catalog.clearCache()`` between queries (cheap, global,
  correct for a sweep that owns the whole session).
* **User sessions** — a long-lived session that runs operators ad hoc
  should wrap each unit of work in :func:`cache_scope`::

      with cache_scope():
          pairs = tfidf_cosine_pairs(docs).collect()
      # every relation the operator persisted is now released

  Every persist an operator issues goes through
  :func:`tracked_persist` / :func:`tracked_cache`, which register the
  DataFrame with the innermost active scope; scope exit unpersists in
  reverse order. Outside any scope the behavior is exactly a bare
  ``persist()`` (the harness's clearCache policy covers that case).

``tests/test_cache_hygiene.py`` runs every registered query inside a
scope and asserts the session's CacheManager is empty afterwards — so a
new persist site that bypasses this module fails CI, not a user's
week-long session.

A persist is not free: exchange reuse and AQE already share work
between branches of one plan, and a lazily filled persist read by
stages that run at the same time is computed more than once. So a
persist stays only with a row in ``plans/persist_audit.jsonl`` showing
that the query ran slower without it (a same-session ``tools/ab.py``
A/B at sf0.1), or with a named correctness reason (the corrupt-record
reads in ``io.py``, the range partitioning in ``distrank.py``).
``tests/test_persist_audit.py`` holds every call site to that rule.
"""

from __future__ import annotations

import functools
from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_SCOPES: list[list[DataFrame]] = []


def tracked_persist(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """``df.persist(level)`` + registration with the innermost active
    :func:`cache_scope` (no-op registration outside any scope).
    Chain-friendly: ``relation.transform(tracked_persist)``."""
    df.persist(level)
    if _SCOPES:
        _SCOPES[-1].append(df)
    return df


#: :func:`tracked_persist` at ``DataFrame.persist()``'s default level
#: (the ``.cache()`` spelling, kept where operators chose the
#: deserialized default). A partial, not a wrapper function, so
#: perfbench's tracer, which rebinds both names, counts one persist
#: per call.
tracked_cache = functools.partial(
    tracked_persist, level=StorageLevel.MEMORY_AND_DISK_DESER
)


@contextmanager
def cache_scope() -> Iterator[list[DataFrame]]:
    """Release every operator-issued persist on exit (reverse order,
    exception-safe). Nestable: inner scopes release only their own."""
    scope: list[DataFrame] = []
    _SCOPES.append(scope)
    try:
        yield scope
    finally:
        _SCOPES.pop()
        for df in reversed(scope):
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — session may be stopped
                pass
