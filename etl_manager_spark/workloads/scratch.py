"""Every temp-dir artefact the workload catalog keeps, behind two functions.

* :func:`fixture_store` — a MAINTAINED store: state derived from one
  fixture file once (an index, a signature table, partial aggregates) and
  read back by every later query on that fixture, the way a production
  pipeline maintains such tables at ingest.
* :func:`scratch_dir` — a fresh per-call directory for a workload's own
  output (a round-trip through a sink, a layout rewrite, a CDC state
  table).

The returned DataFrames read lazily from these paths, so nothing is
removed at the end of a call; each call sweeps what earlier calls left.
Sweeps never touch a directory another live session may be reading.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
import uuid
from typing import Callable

_SESSION: str | None = None
_ORPHAN_SECONDS = 3600.0


def _sweep(pattern: str, own_prefix: str | None = None) -> None:
    """Remove the dirs matching ``pattern`` that are older than
    ``_ORPHAN_SECONDS`` or whose name starts with ``own_prefix``."""
    now = time.time()
    for stale in glob.glob(pattern):
        try:
            own = own_prefix is not None and os.path.basename(stale).startswith(
                own_prefix
            )
            orphaned = now - os.path.getmtime(stale) > _ORPHAN_SECONDS
        except OSError:
            continue
        if own or orphaned:
            shutil.rmtree(stale, ignore_errors=True)


def fixture_store(
    name: str, fixture_path: str, params: str, build: Callable[[str], None]
) -> str:
    """Path of the store ``name`` derived from ``fixture_path``; built by
    ``build(dir)`` if missing.

    Key: store name, fixture-dir basename, the fixture's size and mtime in
    nanoseconds (one ``os.stat``), and ``params`` — the caller's
    parameters and algorithm version. Regenerating the fixture or changing
    the code's parameters therefore rebuilds; nothing else does.

    Build: ``build`` writes into a hidden sibling temp dir and one
    ``os.rename`` commits it, so a store path that exists is complete. A
    builder that loses a race drops its copy and uses the winner's; a
    crashed build leaves only a hidden temp dir, never read and reclaimed
    once older than ``_ORPHAN_SECONDS``.

    Sweep: superseded keys of the same store and fixture basename are
    removed; stores of other fixtures (other scale factors) survive."""
    root = tempfile.gettempdir()
    st = os.stat(fixture_path)
    prefix = f"{name}_{os.path.basename(os.path.dirname(fixture_path))}_"
    store = os.path.join(root, f"{prefix}{st.st_size}_{st.st_mtime_ns}_{params}")
    for stale in glob.glob(os.path.join(glob.escape(root), glob.escape(prefix) + "*")):
        if stale != store:
            shutil.rmtree(stale, ignore_errors=True)
    _sweep(os.path.join(glob.escape(root), f".{glob.escape(name)}_*"))
    if not os.path.isdir(store):
        tmp = tempfile.mkdtemp(prefix=f".{prefix}", dir=root)
        try:
            build(tmp)
            os.rename(tmp, store)
        except OSError:
            if not os.path.isdir(store):
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return store


def scratch_dir(prefix: str) -> str:
    """Fresh scratch dir, sweeping stale dirs of the same prefix first.

    The sweep is scoped: it removes only (a) THIS session's previous dirs —
    the session token is embedded in the dir name — and (b) any-session
    dirs older than ``_ORPHAN_SECONDS`` (orphans of crashed runs). A
    concurrent session's fresh dir (pytest and bench interleaving) is
    never evicted mid-read."""
    global _SESSION
    if _SESSION is None:
        _SESSION = uuid.uuid4().hex[:8]
    mine = f"{prefix}s{_SESSION}_"
    root = tempfile.gettempdir()
    _sweep(os.path.join(glob.escape(root), prefix + "*"), own_prefix=mine)
    return tempfile.mkdtemp(prefix=mine)
