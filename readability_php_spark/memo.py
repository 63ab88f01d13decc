"""The one bounded memo of the extraction kernel.

Start tags, class/id match strings and their per-node classifications
repeat heavily across nodes and documents (template markup), so the
parser and the scan/scoring passes memoize pure functions of a string in
a :class:`BoundedMemo`.  A hit is a plain ``memo.get(key)`` — the memo IS
the dict — and only a miss pays the Python-level :meth:`BoundedMemo.put`.

The policy bounds resident memory per long-lived Python worker: keys
longer than ``max_key`` are never stored (pathological pages compute
directly instead of pinning ``max_entries × key size``), and the memo
clears itself at the entry cap AND at a key-byte budget — without the
budget a corpus of distinct near-``max_key`` keys would pin ~400 MB-1 GB
per worker; with it, tens of MB (values are the same order as keys).
"""

from __future__ import annotations

#: key-byte budget shared by every memo
MEMO_BYTE_BUDGET = 16 * 1024 * 1024


class BoundedMemo(dict):
    __slots__ = ("max_entries", "max_key", "byte_budget", "key_bytes")

    def __init__(self, max_entries: int, max_key: int) -> None:
        super().__init__()
        self.max_entries = max_entries
        self.max_key = max_key
        self.byte_budget = MEMO_BYTE_BUDGET
        self.key_bytes = 0

    def clear(self) -> None:
        super().clear()
        self.key_bytes = 0

    def put(self, key: str, value):
        """Store ``value`` under ``key`` (unless the key is over
        ``max_key``) and return it."""
        if len(key) > self.max_key:
            return value
        if len(self) >= self.max_entries or self.key_bytes >= self.byte_budget:
            self.clear()
        self[key] = value
        # len() counts code points; non-ASCII keys occupy up to 4 bytes
        # each (both UTF-8 and PyUnicode storage), so charge the real byte
        # size — ASCII (the overwhelmingly common case) skips the encode
        self.key_bytes += len(key) if key.isascii() else len(key.encode())
        return value
