"""The exactly-once pointer protocol of the ``foreachBatch`` sinks.

``foreachBatch`` runs with AT-LEAST-ONCE semantics: a batch can be
re-delivered after a failure between the sink write and the checkpoint
commit, so exactly-once must come from an IDEMPOTENT sink. Spark's own docs
give the recipe: use ``batchId`` for replay deduplication and make the write
transactional. Without a transactional table format in the container, the
sinks that import this module (``streaming/ingest.py``'s dedup sinks and
``streaming/monitor.py``'s heavy-hitters sink) keep a versioned snapshot
store:

  target/
    ...              immutable data dirs, one per committed batch or version
                     (``docs/batch=<id>`` for ingest, ``v=<n>`` for the
                     heavy-hitters summary), written by each sink
    _latest          one-line pointer "<version> <last_batch_id>"

  - replay guard: a re-delivered ``batch_id <= last_batch_id`` is a no-op
    (:func:`_read_pointer`);
  - atomicity: a new data directory is fully written BEFORE the pointer
    is swapped (:func:`_commit`, os.replace, atomic on POSIX); a crash
    mid-write leaves the pointer, and therefore the table, on the previous
    good version;
  - the swap is atomic only on a local filesystem, so sinks reject
    object-store targets when they are built (:func:`_validate_local_target`).

A lakehouse format (Delta/Iceberg) replaces the snapshot store 1:1; the
foreachBatch bodies and the replay guard stay identical.
"""

from __future__ import annotations

import os


def _read_pointer(target: str) -> tuple[int, int]:
    """(version, last_batch_id), (0, -1) for an empty table."""
    try:
        with open(os.path.join(target, "_latest"), encoding="utf-8") as f:
            v, b = f.read().split()
            return int(v), int(b)
    except FileNotFoundError:
        return 0, -1


def _validate_local_target(target: str, what: str) -> str:
    """Reject non-local URI schemes at sink CONSTRUCTION (the replay guard
    and pointer swap use POSIX open/os.replace — their atomicity silently
    breaks on object stores); normalizes ``file://`` to a plain path."""
    scheme, sep, rest = target.partition("://")
    if sep and scheme not in ("file",):
        raise ValueError(
            f"{what} target must be a local filesystem path "
            f"(driver-side POSIX pointer swap); got scheme {scheme!r} in "
            f"{target!r}. Use a transactional table format for object-store "
            f"targets."
        )
    return rest if sep else target


def _commit(target: str, new_version: int, batch_id: int) -> None:
    # makedirs: an empty FIRST batch commits a replay-guard pointer before
    # any Spark write has created the target directory (r8 review)
    os.makedirs(target, exist_ok=True)
    tmp = os.path.join(target, "_latest.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(f"{new_version} {batch_id}")
    os.replace(tmp, os.path.join(target, "_latest"))
