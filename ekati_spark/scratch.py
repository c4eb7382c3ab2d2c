"""Build-once registry and scratch-space contract for session stores.

Everything a session builds once and serves many times goes through
``build_once``: table handles (``catalog.load_table``), the persisted
FK graph (``queries/graph._graph``), the persisted serving stores of
l127b and l133–l136 (``build_store``), and the scan-width probe of
``operators/dedup.widen_narrow_scan``.

- *Key.* An entry is keyed on (``applicationId``, tag). The
  applicationId is fresh after a session restart, unlike
  ``id(spark)``, which the allocator can reuse and so hand out a stale
  value of a stopped session.
- *Validity.* An entry remembers the ``sf_dir`` it was built from and
  that directory's fingerprint: the sorted (name, size, mtime) listing
  of its files. A lookup hits only if both match, so rewriting an
  input file within a session rebuilds everything built from it. The
  path stays in the key on purpose: a hard-linked copy of the inputs
  under a new path is a new input set, not a hit.
- *Eviction.* One live entry per (session, tag). A miss first calls
  ``release`` on the entry it replaces (unpersist a graph, remove a
  store directory), then builds. Sites whose values may coexist put
  the distinguishing part in the tag: tables use
  ``("table", sf_dir, name)``.
- *Counters.* ``COUNTS[tag]`` holds hits, misses and build seconds.

Persisted stores live under ``mkscratch``. Locally these go to
``tempfile.mkdtemp``. On a real cluster a DRIVER-LOCAL ``/tmp`` is
wrong for anything an executor writes or a later stage reads: every
store written by one stage and read by another must live on storage
all executors AND the driver can reach (HDFS, an object-store mount,
NFS). ``mkscratch`` is the one knob: set ``EKATI_SCRATCH_ROOT`` to a
shared filesystem path and every store site in the package lands
there; unset, local runs keep the tempdir behavior.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
import uuid
from collections import defaultdict
from collections.abc import Callable, Hashable
from dataclasses import dataclass
from typing import Any


def mkscratch(prefix: str) -> str:
    """A fresh scratch directory: ``$EKATI_SCRATCH_ROOT/<prefix><hex>``
    when the shared root is configured, else a local
    ``tempfile.mkdtemp(prefix=...)``. Callers own cleanup (registered
    stores are removed on eviction; one-shot sites follow the l77/l86
    house pattern of leaving the artifact for the session's lifetime)."""
    root = os.environ.get("EKATI_SCRATCH_ROOT")
    if not root:
        return tempfile.mkdtemp(prefix=prefix)
    d = os.path.join(root, f"{prefix}{uuid.uuid4().hex}")
    os.makedirs(d, exist_ok=False)
    return d


@dataclass
class Counts:
    hits: int = 0
    misses: int = 0
    build_s: float = 0.0


COUNTS: defaultdict[Hashable, Counts] = defaultdict(Counts)

# (applicationId, tag) -> ((sf_dir, fingerprint), value)
_entries: dict[tuple[str, Hashable], tuple[tuple, Any]] = {}
# Reentrant: a build may look up other entries (the FK graph loads its
# tables). Held across the build, so concurrent callers of one tag
# build it once.
_lock = threading.RLock()


def _fingerprint(sf_dir: str) -> tuple:
    """The sorted (name, size, mtime_ns) listing of ``sf_dir``."""
    listing = []
    with os.scandir(sf_dir) as it:
        for e in it:
            st = e.stat()
            listing.append((e.name, st.st_size, st.st_mtime_ns))
    return tuple(sorted(listing))


def build_once(
    spark,
    tag: Hashable,
    sf_dir: str | None,
    build: Callable[[], Any],
    release: Callable[[Any], None] | None = None,
) -> Any:
    """This session's value for ``tag``: the registered one while
    ``sf_dir`` and its fingerprint are unchanged, else ``build()``
    after ``release`` of the value it replaces. ``sf_dir=None`` keys on
    the tag alone."""
    key = (spark.sparkContext.applicationId, tag)
    source = (sf_dir, None if sf_dir is None else _fingerprint(sf_dir))
    with _lock:
        counts = COUNTS[tag]
        old = _entries.get(key)
        if old is not None and old[0] == source:
            counts.hits += 1
            return old[1]
        counts.misses += 1
        if old is not None:
            del _entries[key]
            if release is not None:
                release(old[1])
        t0 = time.perf_counter()
        value = build()
        counts.build_s += time.perf_counter() - t0
        _entries[key] = (source, value)
        return value


def build_store(
    spark, tag: str, sf_dir: str, build: Callable[[str], None]
) -> str:
    """A persisted store: ``build(base)`` writes into a fresh
    ``mkscratch`` directory, registered under ``tag``; eviction removes
    the directory."""

    def fill() -> str:
        base = mkscratch(f"{tag}_")
        try:
            build(base)
        except BaseException:
            shutil.rmtree(base, ignore_errors=True)
            raise
        return base

    return build_once(
        spark,
        tag,
        sf_dir,
        fill,
        release=lambda base: shutil.rmtree(base, ignore_errors=True),
    )
