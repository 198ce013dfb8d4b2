"""Column trees built once per key and reused.

Building a Column tree costs one py4j round trip per node: a projection
spec or a Handlebars template runs to hundreds of them, about 0.1-0.2 s
of driver time per build. A tick of ``run_incremental`` or a micro-batch
of ``run_streaming`` builds the same projection over the same input
schema every time, so the compilers (``hbs.compile_hbs``,
``mapping.apply_mapping``, ``mapping.to_json_rows``,
``ext.text.quality_features``, ``ext.dedup.shingles``) look their tree up
here first, the way the reference compiles each template once
(templates.js:15-34).

A Column tree is an unresolved expression: it names its columns and
binds to a frame only when a ``select`` analyzes it, so one tree serves
any frame of the schema it was built for. The key is everything the
build reads: the projection, the input schema, and any environment value
the build interpolates.

The entries belong to the live SparkContext: a Column wraps a JVM object
of the session that built it, so when the context changes (a
``spark.stop()`` and a new session), every entry is dropped before the
next lookup. The cache keeps the ``MAX_ENTRIES`` most recently used
trees. With no live context (Spark Connect), nothing is cached.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict
from collections.abc import Callable, Hashable
from typing import TypeVar

T = TypeVar("T")

MAX_ENTRIES = 256

_lock = threading.Lock()
_entries: OrderedDict = OrderedDict()
_owner: Callable[[], object] = lambda: None  # weakref to the owning context


def cached(key: Hashable, build: Callable[[], T]) -> T:
    """``build()``'s result for ``key``, built at most once per live
    SparkContext while it stays among the ``MAX_ENTRIES`` most recent."""
    global _owner
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    with _lock:
        if _owner() is not sc:
            _entries.clear()
            _owner = weakref.ref(sc)
        if key in _entries:
            _entries.move_to_end(key)
            return _entries[key]
    value = build()
    with _lock:
        if _owner() is sc:
            _entries[key] = value
            while len(_entries) > MAX_ENTRIES:
                _entries.popitem(last=False)
    return value
