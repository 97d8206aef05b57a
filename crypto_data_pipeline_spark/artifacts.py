"""Session artifacts: the expensive per-corpus state one Spark session
reuses across queries — the near-dup pair set, fitted LM/NB models, the
IVF/LSH/PQ indexes, persisted stage frames, the silver table.

`get_or_build(spark, sf_dir, name, source, build, release, at_rest)` is
the one entry point. Its contract:

* Key. An entry is keyed ``(applicationId, sf_dir, name)``, and each
  name holds one live entry: storing one evicts every other key with
  that name. A session works one corpus at a time, so entries of prior
  sessions or other corpora would only pin memory and /tmp.
* Freshness. ``observability.source_fingerprint(source)`` is taken
  before the build and recomputed on every hit. A mismatch evicts the
  entry and rebuilds, so a corpus replaced mid-session is never served
  from its predecessor's state. A source that is not file-backed has no
  fingerprint and is not rechecked.
* Release. Eviction calls ``release(value)``; the default unpersists
  every DataFrame in the value, recursing through tuples.
* Directories. With ``at_rest=True`` the store makes a temp directory,
  registers it, and only then calls ``build(dir)``. The store alone
  removes it: on eviction, on a stale miss, when the build raises, and
  in one sweep at process exit.

Every build appends a record to `BUILD_LOG` (name, key, source
fingerprint summary, build wall and process-tree CPU seconds, at-rest
directory and its bytes); `inventory()` lists the records of the live
entries.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from crypto_data_pipeline_spark.observability import (
    proc_tree_cpu_seconds,
    source_fingerprint,
)


@dataclass
class _Entry:
    value: Any
    fp: dict | None
    release: Callable[[Any], None]
    record: dict


_ENTRIES: dict[tuple[str, str, str], _Entry] = {}
# every directory the store made and has not removed yet, entry or not
_DIRS: set[str] = set()
BUILD_LOG: list[dict] = []


def _release_frames(value: Any) -> None:
    """Unpersist every DataFrame in ``value``, recursing through tuples."""
    if isinstance(value, DataFrame):
        value.unpersist()
    elif isinstance(value, tuple):
        for v in value:
            _release_frames(v)


def _remove_dir(d: str | None) -> None:
    if d is not None:
        shutil.rmtree(d, ignore_errors=True)
        _DIRS.discard(d)


def _evict(key: tuple[str, str, str]) -> None:
    entry = _ENTRIES.pop(key)
    try:
        entry.release(entry.value)
    except Exception:
        # the entry's session is gone (stopped context); nothing is left
        # to release, and the directory still goes below
        logging.getLogger(__name__).debug(
            "release of %s failed", key, exc_info=True
        )
    _remove_dir(entry.record["dir"])


def _bytes_at_rest(d: str | None) -> int:
    if d is None:
        return 0
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(d)
        for f in files
    )


def get_or_build(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    source: DataFrame,
    build: Callable[..., Any],
    release: Callable[[Any], None] | None = None,
    at_rest: bool = False,
) -> Any:
    """The live ``name`` artifact for (this session, ``sf_dir``), built
    by ``build()`` — or ``build(dir)`` when ``at_rest`` — on a miss or
    when ``source``'s files changed since the build. See the module
    docstring for the contract."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    entry = _ENTRIES.get(key)
    if entry is not None:
        if entry.fp is None or source_fingerprint(source) == entry.fp:
            return entry.value
        _evict(key)
    fp = source_fingerprint(source)
    d = tempfile.mkdtemp(prefix=f"{name}_") if at_rest else None
    if d is not None:
        _DIRS.add(d)
    cpu0, t0 = proc_tree_cpu_seconds(), time.perf_counter()
    try:
        value = build(d) if at_rest else build()
    except BaseException:
        _remove_dir(d)
        raise
    record = {
        "name": name,
        "app": key[0],
        "sf_dir": sf_dir,
        "source": None if fp is None else {
            "n_files": fp["n_files"],
            "total_bytes": fp["total_bytes"],
            "sha256": fp["sha256"][:16],
        },
        "build_s": round(time.perf_counter() - t0, 3),
        "build_cpu_s": round(max(0.0, proc_tree_cpu_seconds() - cpu0), 3),
        "dir": d,
        "bytes_at_rest": _bytes_at_rest(d),
    }
    for other in [k for k in _ENTRIES if k[2] == name]:
        _evict(other)
    _ENTRIES[key] = _Entry(value, fp, release or _release_frames, record)
    BUILD_LOG.append(record)
    return value


def inventory() -> list[dict]:
    """The build records of the live entries."""
    return [dict(e.record) for e in _ENTRIES.values()]


@atexit.register
def _remove_dirs_at_exit() -> None:
    for d in list(_DIRS):
        _remove_dir(d)
