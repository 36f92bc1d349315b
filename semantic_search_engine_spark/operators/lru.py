"""Shared keyed-load and LRU-cache discipline for the driver-local probes.

``LocalIndexProbe`` (text) and ``LocalIVFProbe`` / ``LocalIVFPQProbe``
(vectors) all load a miss set, split the rows it returns by key, cache
each key's slice in an ``OrderedDict`` LRU bounded by ``_cache_cap``,
and hand the requested keys back in request order. The split
(:func:`key_ranges`, :func:`split_by_key`) and the touch-and-trim tail
(:func:`touch_and_trim`) are written once here.

Their batched search methods preload a whole batch's miss set, which is
wasted I/O unless the preloaded entries SURVIVE until the per-query
scoring pass. :func:`raised_cache_cap` is that rule: raise the cap for
the batch's duration, then restore it and trim oldest-first — including
on the exception path.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np


def key_ranges(sorted_keys: np.ndarray, keys) -> tuple[np.ndarray, np.ndarray]:
    """``[lo, hi)`` row range of each of ``keys`` in ``sorted_keys``:
    two binary searches per key, an empty range for an absent key."""
    k = np.asarray(keys, dtype=sorted_keys.dtype)
    return np.searchsorted(sorted_keys, k), np.searchsorted(sorted_keys, k, side="right")


def split_by_key(keys: np.ndarray, wanted) -> list[np.ndarray]:
    """Row indices holding each of ``wanted`` in the unsorted column
    ``keys``, in row order: ONE stable sort + binary-searched slices — a
    per-key equality scan is O(rows × keys) and dominates wide miss
    sets. An absent key gets no rows."""
    order = np.argsort(keys, kind="stable")
    lo, hi = key_ranges(keys[order], wanted)
    return [order[a:b] for a, b in zip(lo, hi)]


def touch_and_trim(cache, keys, cap: int) -> list:
    """The cached values of ``keys`` in request order; every requested
    key moves to the recent end, then the oldest entries are trimmed to
    ``cap`` (after the values are taken, so a request wider than the
    cap still gets all of its keys)."""
    out = []
    for key in keys:
        cache.move_to_end(key)
        out.append(cache[key])
    while len(cache) > cap:
        cache.popitem(last=False)
    return out


@contextmanager
def raised_cache_cap(probe, n: int):
    """Temporarily raise ``probe._cache_cap`` to at least ``n``;
    restore and trim the LRU back down on exit (including errors)."""
    old_cap = probe._cache_cap
    probe._cache_cap = max(old_cap, n)
    try:
        yield
    finally:
        probe._cache_cap = old_cap
        while len(probe._cache) > probe._cache_cap:
            probe._cache.popitem(last=False)
