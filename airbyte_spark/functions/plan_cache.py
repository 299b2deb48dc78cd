"""Memoized Column expressions for the per-trigger and per-fold plans.

Under PySpark 4.1 every ``F.*`` call captures its call site: it looks up
the active session, reads a conf and sets and clears the origin on the
JVM, about six py4j round trips each. A plan built from scratch out of
hundreds of such calls costs tens of milliseconds of driver time before
Spark does any work, on every micro-batch. A Column is an unresolved
expression tree: analysis gives every use fresh expression ids, so one
Column can go into any number of plans. ``expr_cache`` therefore builds
a plan's expressions once per value of what they depend on (key columns,
order columns, the table schema's fields, the bucket layout) and hands
the same Column objects to every later plan.

The Columns are handles on objects in the JVM behind the py4j gateway,
so every memo is keyed on the live gateway as well: when a process stops
its gateway and starts another, the first call after that empties the
memo instead of returning a handle on the dead JVM.
"""

from __future__ import annotations

import functools
import threading

from pyspark import SparkContext

_LOCK = threading.Lock()


def expr_cache(fn):
    """``functools.lru_cache`` for a function that builds Columns from
    hashable arguments, emptied whenever ``SparkContext._gateway`` changes.
    The arguments must name everything the expressions depend on."""
    cached = functools.lru_cache(maxsize=256)(fn)
    owner = [None]  # the gateway the memo's Columns live in

    @functools.wraps(fn)
    def wrapper(*args):
        gateway = SparkContext._gateway
        if gateway is not owner[0]:
            with _LOCK:
                if gateway is not owner[0]:
                    cached.cache_clear()
                    owner[0] = gateway
        return cached(*args)

    wrapper.cache_clear = cached.cache_clear
    wrapper.cache_info = cached.cache_info
    return wrapper


def fields_key(schema) -> tuple:
    """A ``TableSchema``'s fields as a hashable key: (name, uid, dtype)."""
    return tuple((f.name, f.uid, f.dtype) for f in schema.fields)
