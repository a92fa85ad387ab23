"""The session-shared builds: frames that several catalog queries read
and that are built once per (session, sf_dir) — the tree descendant
pairs, the verified LSH pair graph, the PQ and IVF indexes, the LPA
labels, the k-NN graph and its labels.

A build is declared once with ``@shared_build(name)`` on a
``(spark, sf_dir) -> DataFrame | tuple[DataFrame, ...]`` builder. The
registry owns the cache, its eviction, materializing a build on a miss
and timing it; inside ``recording(query)`` it also notes which builds
the query read, so a benchmark derives each build's consumers instead
of listing them.

Eviction is by applicationId: entries from STOPPED sessions hold
localCheckpointed DataFrames whose blocks are gone, so on every miss
we drop every entry whose applicationId differs from the live
session's — the current session's frames are never evicted (they are
exactly the ones amortizing the build), and nothing from a dead
session outlives the first build in a new one.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections.abc import Callable, Iterator

from pyspark.sql import SparkSession


class Registry:
    """Cache, timing and read log of the session-shared builds.

    - ``families``: build name -> the key a benchmark groups its
      consumers under;
    - ``seconds``: build name -> summed self time of its misses (a
      nested build's time is charged to it, not to its caller);
    - ``reads``: query name -> names of the builds it read, direct or
      through another build, noted only inside ``recording``.
    """

    def __init__(self) -> None:
        self.families: dict[str, str] = {}
        self.seconds: dict[str, float] = {}
        self.reads: dict[str, set[str]] = {}
        self._cache: dict[tuple[str, str, str], object] = {}
        self._deps: dict[str, set[str]] = {}
        self._query: str | None = None
        # [name, seconds of nested misses] of each miss being built
        self._building: list[list] = []

    def shared_build(self, name: str, family: str | None = None) -> Callable:
        """Declare ``builder`` as the shared build ``name``. The builder
        checkpoints what it returns (lazily is enough: every frame is
        materialized here on a miss)."""

        def wrap(builder: Callable) -> Callable:
            self.families[name] = family or name

            @functools.wraps(builder)
            def get(spark: SparkSession, sf_dir: str):
                return self._get(name, builder, spark, sf_dir)

            return get

        return wrap

    @contextlib.contextmanager
    def recording(self, query: str) -> Iterator[None]:
        """Note every build read while the block runs as read by
        ``query``."""
        outer, self._query = self._query, query
        self.reads.setdefault(query, set())
        try:
            yield
        finally:
            self._query = outer

    def _note_read(self, name: str) -> None:
        if self._building:
            self._deps.setdefault(self._building[-1][0], set()).add(name)
        if self._query is None:
            return
        seen = self.reads[self._query]
        todo = [name]
        while todo:
            n = todo.pop()
            if n not in seen:
                seen.add(n)
                todo.extend(self._deps.get(n, ()))

    def _get(self, name: str, builder: Callable, spark: SparkSession, sf_dir: str):
        self._note_read(name)
        app = spark.sparkContext.applicationId
        key = (name, app, sf_dir)
        if key in self._cache:
            return self._cache[key]
        for stale in [k for k in self._cache if k[1] != app]:
            del self._cache[stale]
        self._building.append([name, 0.0])
        t0 = time.perf_counter()
        try:
            val = builder(spark, sf_dir)
            for frame in val if isinstance(val, tuple) else (val,):
                frame.write.format("noop").mode("overwrite").save()
        finally:
            _, nested_s = self._building.pop()
            took = time.perf_counter() - t0
            if self._building:
                self._building[-1][1] += took
        self.seconds[name] = self.seconds.get(name, 0.0) + took - nested_s
        self._cache[key] = val
        return val


REGISTRY = Registry()
shared_build = REGISTRY.shared_build
recording = REGISTRY.recording

__all__ = ["REGISTRY", "Registry", "recording", "shared_build"]
