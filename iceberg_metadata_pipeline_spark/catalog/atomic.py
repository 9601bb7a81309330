"""The one rule for making a catalog file visible.

Every metadata writer (metacat, Iceberg, Delta, Hudi, the Avro manifests
and Puffin stats) publishes through these functions. A file is written
whole under a unique temp name beside its destination, then made
visible in one step:

- ``put_if_absent`` claims a slot with ``os.link``, which fails if the
  name exists. This is the rename-without-replace claim of Iceberg's
  HadoopTableOperations and the put-if-absent contract of the Delta log
  and the Hudi timeline: of two racing writers exactly one wins, and the
  loser never touches the winner's bytes.
- ``replace`` swaps a file in with ``os.replace``, for files a writer
  may rewrite (properties, manifests, markers, idempotent task outputs).

A process that dies before the link or rename leaves only an orphaned
``<dest>.tmp-<hex>`` file, which no listing parses as a committed name.
Durability across power loss (fsync) is out of scope.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable


def _write_temp(dest: str, data: bytes | Callable[[str], object]) -> str:
    tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
    try:
        if callable(data):
            data(tmp)
        else:
            with open(tmp, "wb") as fh:
                fh.write(data)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return tmp


def put_if_absent(dest: str, data: bytes) -> bool:
    """Publish ``data`` at ``dest`` only if nothing is there. Returns
    False, leaving the existing file untouched, if the slot was taken."""
    tmp = _write_temp(dest, data)
    try:
        os.link(tmp, dest)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


def replace(dest: str, data: bytes | Callable[[str], object]) -> None:
    """Publish ``data`` at ``dest``, replacing any file there. ``data``
    is the bytes, or a function that writes the file at the temp path
    it is given."""
    tmp = _write_temp(dest, data)
    try:
        os.replace(tmp, dest)
    except BaseException:
        os.unlink(tmp)
        raise


def advance_hint(path: str, version: int) -> None:
    """Write ``version`` to a ``version-hint.text`` only if it ADVANCES
    the hint. The hint is best-effort: a slower claimant overwriting a
    newer hint would point readers (and a committer's retry) at a
    stale-but-existing version."""
    try:
        with open(path) as fh:
            cur = int(fh.read().strip())
    except (OSError, ValueError):
        cur = -1
    if version > cur:
        replace(path, str(version).encode())
