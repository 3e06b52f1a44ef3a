"""Order-insensitive digest of a collected result, for pinning a
kernel's fixture-scale output against values recorded from the
independent reference implementation it replaced.

``digest(rows)`` canonicalizes each row (nested lists → tuples),
sorts by ``repr`` and returns ``(row_count, sha256(repr)[:16])``.
Float cells hash through ``repr`` — the shortest round-trip string —
so a digest match is bit-identity, not closeness.
"""

from __future__ import annotations

import hashlib


def _canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def digest(rows) -> tuple[int, str]:
    rows = sorted((_canon(tuple(r)) for r in rows), key=repr)
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
