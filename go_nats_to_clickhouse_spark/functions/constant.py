"""Build constant Column expressions once per JVM.

In classic PySpark a ``Column`` is a handle on a JVM expression: every
``F.*`` call that builds one is a py4j round trip, and dropping the
temporaries costs another round trip each when py4j releases them. An
unresolved expression belongs to no session and no plan, so a builder
called with the same constant arguments on every micro-batch trigger can
build its Columns once and hand the same JVM objects to every DataFrame
that uses them; the plans are the ones a fresh build gives.

A Python process launches one JVM: ``SparkContext`` sets its py4j gateway
only while none exists, and a stopped SparkContext keeps it, so a session
started after ``stop()`` runs in the same JVM and the cached Columns stay
valid. Two threads that miss on the same arguments both build; the first
result stored is the one every caller gets.
"""

from __future__ import annotations

import functools
import threading
from typing import Callable, TypeVar

T = TypeVar("T")

_lock = threading.Lock()


def once_per_jvm(builder: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``builder`` on its positional arguments, which must be
    hashable constants (column names, literals, sizes). The result must be
    Columns, or tuples of them, that no caller mutates."""
    built: dict[tuple, T] = {}

    @functools.wraps(builder)
    def cached(*args):
        if args in built:
            return built[args]
        value = builder(*args)
        with _lock:
            return built.setdefault(args, value)

    return cached
