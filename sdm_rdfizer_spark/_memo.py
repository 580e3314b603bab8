"""Bounded process-lifetime memos (r11, ADVICE #4 / VERDICT #7).

The compile-latency memos (expression trees, scan metadata, sampled
JSON schemas) are keyed on values that grow without bound in a
long-lived service — every distinct literal, every (path, mtime, size)
revision — so each memo is capped LRU-style: insertion-ordered dict,
hits refresh recency, inserts past ``maxsize`` evict the least
recently used entry. Eviction only ever costs a rebuild of an
identical value (the documented contract of every consumer), so a
racing reader under the compile thread pool is safe: dict get/set are
GIL-atomic, and the worst interleaving is an extra rebuild.
"""

from __future__ import annotations


class BoundedMemo(dict):
    """dict with LRU eviction at ``maxsize`` entries."""

    def __init__(self, maxsize: int) -> None:
        super().__init__()
        self._maxsize = maxsize

    def __getitem__(self, key):
        value = super().__getitem__(key)
        # refresh recency (delete + reinsert moves to the ordered end);
        # tolerate a concurrent eviction of the same key
        try:
            super().__delitem__(key)
        except KeyError:
            pass
        super().__setitem__(key, value)
        return value

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default

    def __setitem__(self, key, value) -> None:
        try:
            super().__delitem__(key)
        except KeyError:
            pass
        super().__setitem__(key, value)
        while len(self) > self._maxsize:
            try:
                super().__delitem__(next(iter(self)))
            except (StopIteration, KeyError, RuntimeError):
                break
