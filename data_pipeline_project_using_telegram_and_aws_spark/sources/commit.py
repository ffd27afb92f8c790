"""Generic two-mode directory commit — the shared primitive behind
every "replace this directory's content atomically" site that is not a
partitioned ledger (`operators/webdataset.py`'s ``commit="manifest"``
shard publishes adopt it; `sources/bucketing.py` compactions
implement the same pointer model through the metastore — ``swap="location"`` — since the catalog entry
IS their pointer store). `streaming/ledger_compaction.py`
implements the same two protocols with ledger-specific reader
semantics (partition-horizon markers); this module is the
plain-directory version.

- ``mode="rename"``: write to ``<path>__tmp``, remove the old
  directory, rename the temp onto the live name. Crash-consistent
  ONLY where directory rename is atomic — POSIX filesystems and HDFS,
  not object stores (`sources/lake.py`'s note; and the remove+rename
  pair here has a narrow lose-the-view window a crash can hit, the
  price of the live name being a real directory).
- ``mode="manifest"``: write to a fresh ``.v{n}`` directory nothing
  points at, then atomically replace a one-line ``_dir_manifest`` file
  naming it — the Iceberg/Delta commit model, implemented. On a real
  object store that replace is a single-key PUT (atomic on S3/GCS) or
  a catalog swap; locally ``os.replace`` models it exactly. There is
  NO intermediate crash state: a crash leaves either the old pointer
  (old content, fully readable) or the new one. Unreferenced version
  dirs and a dead run's ``.tmp`` manifest are garbage, swept by the
  next commit. Readers MUST resolve through :func:`resolve_dir`.

Migration is one-way: the first manifest commit over a rename-mode
directory folds nothing (the writer re-writes content anyway) and
retires the legacy root-level files post-commit; a later
``mode="rename"`` call on a migrated directory raises rather than
leave two competing truths.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path
from typing import Callable

MANIFEST_FILE = "_dir_manifest"  # underscore ⇒ invisible to Spark
_VERSION_PREFIX = ".v"  # dot ⇒ invisible to Spark listings

# indirection points so crash-injection tests can kill the process
# "between steps" by monkeypatching
_rmtree = shutil.rmtree
_rename = Path.rename
_replace = os.replace  # the manifest commit point (single-key PUT model)


def manifest(path: str) -> dict | None:
    """The committed pointer, or None (rename mode / never committed):
    ``{"dir": ".v{n}"}``."""
    p = Path(path) / MANIFEST_FILE
    if not p.exists():
        return None
    return json.loads(p.read_text())


def resolve_dir(path: str) -> str:
    """The directory holding the CURRENT content: the manifest's
    target if one is committed, else ``path`` itself (rename mode).
    Every reader of a commit_dir-managed directory goes through
    here."""
    m = manifest(path)
    if m is None:
        return path
    return str(Path(path) / m["dir"])


def commit_dir(
    path: str, write_fn: Callable[[str], None], mode: str = "rename"
) -> None:
    """Make whatever ``write_fn(target_dir)`` writes the current
    content of ``path``, atomically per the chosen commit model
    (module docstring). ``write_fn`` receives the directory to write
    into — never the live name — and must fully materialize before
    returning."""
    if mode == "manifest":
        _commit_manifest(path, write_fn)
        return
    if mode != "rename":
        raise ValueError(
            f"commit_dir: mode must be rename | manifest, got {mode!r}"
        )
    if manifest(path) is not None:
        raise ValueError(
            "commit_dir: this directory is migrated to manifest "
            "commits - a rename-mode commit would leave two competing "
            "pointers. Pass mode='manifest'."
        )
    tmp = path + "__tmp"
    write_fn(tmp)
    if Path(path).exists():
        _rmtree(path)
    _rename(Path(tmp), Path(path))


def _commit_manifest(path: str, write_fn: Callable[[str], None]) -> None:
    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)
    cur = manifest(path)
    live = cur["dir"] if cur is not None else None
    # sweep dead predecessors: unreferenced versions + tmp manifest
    for d in root.glob(_VERSION_PREFIX + "*"):
        if d.is_dir() and d.name != live:
            _rmtree(d)
    tmp = root / (MANIFEST_FILE + ".tmp")
    if tmp.exists():
        tmp.unlink()
    next_v = (
        int(live[len(_VERSION_PREFIX):]) + 1 if live is not None else 0
    )
    new_dir = root / f"{_VERSION_PREFIX}{next_v}"
    write_fn(str(new_dir))
    tmp.write_text(json.dumps({"dir": new_dir.name}))
    _replace(tmp, root / MANIFEST_FILE)  # COMMIT POINT
    # post-commit cleanup, crash-safe (re-swept next commit): the
    # superseded version, and on first migration the rename-era
    # root-level content the pointer now supersedes
    if live is not None and (root / live).exists():
        _rmtree(root / live)
    for child in root.iterdir():
        if child.name in (MANIFEST_FILE, new_dir.name):
            continue
        if child.name.startswith(_VERSION_PREFIX):
            continue  # already swept above (or the live version)
        if child.is_dir():
            _rmtree(child)
        else:
            child.unlink()
