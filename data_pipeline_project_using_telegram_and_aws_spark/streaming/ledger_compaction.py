"""Crash-consistent ledger compaction: the commit protocol every
parquet ledger in this repo (`sketch_ledger`, `stat_ledgers`, the
heavy-hitter candidate store) uses to fold old ``ingest_batch``
partitions into an ``ingest_batch = -1`` baseline WITHOUT a
double-count window.

The hazard this closes (the "two non-atomic steps" bug): writing the
folded baseline and deleting the folded partitions are separate
filesystem operations. A crash between them leaves the folded mass in
BOTH the baseline and the surviving batch partitions; for ledgers
whose merge is a SUM (count-min counters, every ledger's ``n_rows``)
the next merge silently double-counts — forever. Set-union ledgers
(quantile samples, HLL registers, candidate sets) keep a correct
ESTIMATE but still inflate their exact counters.

The protocol — one atomic commit point, everything else recoverable:

1. Build the new baseline from the CURRENT readable state (prior
   baseline ∪ not-yet-folded partitions ≤ ``through_batch``) and
   write it, plus a ``_compacted_through`` marker file naming
   ``through_batch``, into a dot-prefixed staging dir Spark's file
   listing ignores.
2. Swap the staging dir onto ``ingest_batch=-1`` with directory
   renames (old baseline → trash, staging → baseline). The rename of
   staging onto the live name is the COMMIT POINT: baseline rows and
   marker become visible together or not at all.
3. Only then delete the folded batch partitions — at leisure, because
   every reader goes through :func:`read_ledger`, which EXCLUDES
   non-baseline partitions ``0 <= ingest_batch <= marker``. A crash
   anywhere in step 3 (or between 2 and 3) leaves stale partitions
   that no reader sums.

Crash recovery is split by role. Readers (:func:`recover_compaction`,
run by every :func:`read_ledger`) fix only the state they cannot read
through — baseline missing because a swap died between its two
renames → roll the trash back — and never delete anything, so a
reader can never kill a live compactor's staging. Compactors
(:func:`commit_baseline`) own the staging/trash lifecycle and sweep a
dead predecessor's leftovers on entry: staging present → the commit
never happened, discard; trash present with a live baseline → a
committed swap's leftover old baseline, discard. Every recovery
restores the exact pre- or post-commit answer.

TWO commit modes behind the same API (``commit_baseline(mode=)``):

- ``mode="rename"`` (default): the directory-swap protocol above. Its
  atomicity rests on directory rename — true on POSIX and HDFS, FALSE
  on object stores (`sources/lake.py`'s note), where "rename" is a
  non-atomic per-object copy-then-delete.
- ``mode="manifest"``: the object-store-safe path, the Iceberg/Delta
  commit model implemented here for real. The baseline is written to a
  fresh uniquely-versioned directory (``.baseline_v{n}`` —
  dot-prefixed, invisible to Spark's listing of the ledger root) that
  no live name ever points at mid-write; the COMMIT POINT is one
  atomic replace of a small ``_baseline_manifest`` file naming the
  current directory and the folded-through horizon. On a real object
  store that replace is a single-key PUT (atomic per object on S3/GCS)
  or a catalog swap; locally ``os.replace`` models it exactly.
  Readers resolve the pointer and never depend on a directory rename;
  there is NO mid-swap crash state at all — a crash leaves either the
  old manifest (old baseline, old horizon) or the new one. Stale
  versioned dirs and a dead run's ``.tmp`` manifest are unreferenced
  garbage, swept by the next compactor. Migration is one-way: the
  first manifest commit folds and then retires the rename-era
  ``ingest_batch=-1`` directory; later ``mode="rename"`` calls on a
  migrated ledger raise rather than split-brain the two pointers.

Replay interaction unchanged: the maintenance-window contract (compact
only with the stream stopped and the checkpoint committed past
``through_batch``) still governs at-least-once RE-DELIVERY of a folded
batch id; this module is about crash consistency of the compaction
itself, which previously could corrupt totals even under a perfectly
quiesced stream.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

BASELINE_DIR = "ingest_batch=-1"
MARKER_FILE = "_compacted_through"  # underscore ⇒ hidden from Spark
MANIFEST_FILE = "_baseline_manifest"  # manifest mode's single pointer
_STAGING_DIR = ".compact_staging"  # dot ⇒ hidden from Spark
_TRASH_DIR = ".compact_trash"
_VERSION_PREFIX = ".baseline_v"  # manifest mode's versioned dirs

# indirection points so crash-injection tests can kill the process
# "between steps" by monkeypatching
_rmtree = shutil.rmtree
_rename = Path.rename
_replace = os.replace  # the manifest commit point (single-key PUT model)


def recover_compaction(ledger_path: str) -> None:
    """Reader-side recovery: resolve the ONE crash state a reader
    cannot answer correctly through — baseline missing because a
    compactor died between its two swap renames — by rolling the
    trashed old baseline back. Deliberately does NOTHING else: leftover
    staging/trash dirs are invisible to Spark (dot-prefixed) and
    harmless to answers, and a reader that deleted them could kill a
    LIVE compactor's staging mid-write. Full cleanup belongs to the
    next compactor (:func:`commit_baseline`), which owns those dirs.
    A reader racing an in-flight swap may roll back a baseline the
    compactor just moved aside — the compactor's commit rename then
    fails (destination exists) and the ledger stays at its old
    consistent state: reads are always right, a racing compaction
    fails retryably, nothing corrupts. (The documented maintenance-
    window contract makes the race moot in normal operation.)
    Manifest-mode ledgers need NO reader recovery: their commit is a
    single-file replace with no intermediate state, so this returns
    immediately (and must not resurrect retired rename-era dirs)."""
    root = Path(ledger_path)
    if (root / MANIFEST_FILE).exists():
        return
    base, trash = root / BASELINE_DIR, root / _TRASH_DIR
    if not base.exists() and trash.exists():
        _rename(trash, base)


def _manifest(ledger_path: str) -> dict | None:
    """The committed manifest pointer, or None (rename mode / never
    manifest-compacted): {"dir": ".baseline_v{n}", "through": int}."""
    p = Path(ledger_path) / MANIFEST_FILE
    if not p.exists():
        return None
    return json.loads(p.read_text())


def compacted_through(ledger_path: str) -> int | None:
    """The committed compaction horizon, or None if never compacted.
    Meaning: every non-baseline partition with ``ingest_batch <= this``
    is already folded into the baseline and must not be summed. The
    manifest pointer wins over a rename-era marker (migration leaves
    the legacy dir around only until the post-commit sweep)."""
    m = _manifest(ledger_path)
    if m is not None:
        return int(m["through"])
    marker = Path(ledger_path) / BASELINE_DIR / MARKER_FILE
    if not marker.exists():
        return None
    return int(marker.read_text().strip())


def read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    """THE read path for a compactable ledger: recover, then return
    the ledger with already-folded partitions excluded. The filter is
    on the partition column, so it prunes at the scan — stale folded
    partitions (a crash mid-delete) cost nothing and count nothing.

    Manifest mode: the baseline lives in the pointer's versioned dir
    (dot-prefixed — Spark's listing of the root never sees it), read
    separately and unioned as ``ingest_batch = -1`` with the unfolded
    batch partitions. A rename-era ``ingest_batch=-1`` dir surviving a
    crash mid-migration is excluded by the same horizon filter."""
    recover_compaction(ledger_path)
    m = _manifest(ledger_path)
    if m is not None:
        root = Path(ledger_path)
        base = (
            spark.read.parquet(str(root / m["dir"]))
            .withColumn("ingest_batch", F.lit(-1).cast("int"))
        )
        t = int(m["through"])
        if not any(root.glob("ingest_batch=*")):
            return base  # everything folded; root has no visible files
        rest = spark.read.parquet(ledger_path).filter(
            F.col("ingest_batch") > t
        )
        return rest.unionByName(
            base.select(*rest.columns)
        )
    df = spark.read.parquet(ledger_path)
    t = compacted_through(ledger_path)
    if t is not None:
        df = df.filter(
            (F.col("ingest_batch") == -1) | (F.col("ingest_batch") > t)
        )
    return df


def commit_baseline(
    baseline: DataFrame,
    ledger_path: str,
    through_batch: int,
    mode: str = "rename",
) -> None:
    """Commit ``baseline`` (WITHOUT an ``ingest_batch`` column) as the
    new folded state through ``through_batch``, in one of the two
    commit models the module docstring lays out. ``mode="rename"``:
    stage + marker, then the two-rename directory swap (POSIX/HDFS).
    ``mode="manifest"``: fresh versioned dir + atomic single-file
    pointer replace (object-store-safe). Both fully materialize the
    new baseline before touching anything live, so it may derive from
    the very partitions it replaces."""
    if mode == "manifest":
        _commit_baseline_manifest(baseline, ledger_path, through_batch)
        return
    if mode != "rename":
        raise ValueError(
            f"commit_baseline: mode must be rename | manifest, got {mode!r}"
        )
    root = Path(ledger_path)
    if (root / MANIFEST_FILE).exists():
        raise ValueError(
            "commit_baseline: this ledger is migrated to manifest "
            "commits - a rename-mode commit would leave two competing "
            "pointers. Pass mode='manifest'."
        )
    staging, base, trash = (
        root / _STAGING_DIR,
        root / BASELINE_DIR,
        root / _TRASH_DIR,
    )
    # compactor-owned cleanup of prior crashes: discard a dead run's
    # staging, roll back or discard its trash (roll back only when the
    # baseline is missing — otherwise the trash is a committed swap's
    # leftover old baseline)
    if staging.exists():
        _rmtree(staging)
    if trash.exists():
        if not base.exists():
            _rename(trash, base)
        else:
            _rmtree(trash)
    baseline.write.mode("overwrite").parquet(str(staging))
    (staging / MARKER_FILE).write_text(str(int(through_batch)))
    if base.exists():
        _rename(base, trash)
    _rename(staging, base)  # COMMIT POINT: rows + marker together
    if trash.exists():
        _rmtree(trash)


def _commit_baseline_manifest(
    baseline: DataFrame, ledger_path: str, through_batch: int
) -> None:
    """The object-store-safe commit: write the baseline under a name
    nothing points at, then move the pointer in ONE atomic single-file
    replace. Crash states and their recovery, exhaustively:

    - mid baseline write → a partial unreferenced ``.baseline_v{n}``;
      readers never resolve it, the next compactor sweeps it here.
    - mid manifest tmp write → an unreferenced ``.tmp`` file; same.
    - at the replace → atomic: the old or the new manifest, never a
      torn one (single-key PUT semantics on S3/GCS, ``os.replace``
      locally).
    - after the replace, before the old-version / legacy-dir sweep →
      readers already follow the new pointer; sweep re-runs next time.

    No step needs reader-side recovery and no rename of a DIRECTORY is
    ever load-bearing — the only atomic primitive consumed is the
    one-object replace, which object stores actually provide."""
    root = Path(ledger_path)
    current = _manifest(ledger_path)
    live = current["dir"] if current is not None else None
    # compactor-owned sweep of dead predecessors: unreferenced
    # versioned dirs, a dead run's tmp manifest, and — once migrated —
    # rename-era leftovers (legacy baseline already folded + retired,
    # staging/trash from pre-migration crashes)
    for d in root.glob(_VERSION_PREFIX + "*"):
        # is_dir guard: a stray FILE with the version prefix must not
        # abort the compaction pre-commit
        if d.is_dir() and d.name != live:
            _rmtree(d)
    tmp = root / (MANIFEST_FILE + ".tmp")
    if tmp.exists():
        tmp.unlink()
    if current is not None:
        for legacy in (BASELINE_DIR, _STAGING_DIR, _TRASH_DIR):
            if (root / legacy).exists():
                _rmtree(root / legacy)
    next_v = (
        int(live[len(_VERSION_PREFIX):]) + 1 if live is not None else 0
    )
    new_dir = root / f"{_VERSION_PREFIX}{next_v}"
    baseline.write.mode("overwrite").parquet(str(new_dir))
    tmp.write_text(
        json.dumps({"dir": new_dir.name, "through": int(through_batch)})
    )
    _replace(tmp, root / MANIFEST_FILE)  # COMMIT POINT
    # post-commit cleanup, crash-safe (re-swept on the next commit):
    # the superseded version, and on first migration the rename-era
    # baseline whose mass the new pointer's baseline now carries
    if live is not None and (root / live).exists():
        _rmtree(root / live)
    if (root / BASELINE_DIR).exists():
        _rmtree(root / BASELINE_DIR)


def require_unfolded_range(
    ledger_path: str, since_batch: int, op_name: str, what: str = "ledger"
) -> None:
    """Guard for range reads (``ingest_batch > since_batch``): a batch
    folded into the baseline has no partition left to slice, so a
    range reaching into compacted history must RAISE — an answer
    silently missing the folded mass is worse than no answer. Keep the
    compaction horizon behind the longest window you query."""
    t = compacted_through(ledger_path)
    if t is not None and since_batch < t:
        raise ValueError(
            f"{op_name}: the {what} store is compacted through batch "
            f"{t} but the range starts after batch {since_batch} - "
            "folded history cannot be re-sliced. Query a range inside "
            "the unfolded suffix, or compact less aggressively (keep "
            "the horizon behind the longest window you query)."
        )


def sweep_stragglers(ledger_path: str) -> None:
    """Delete any batch partitions the COMMITTED marker already covers
    — the retry path after a crash between commit and deletion. Called
    at the top of every compaction so a ledger whose feed went quiet
    (no new batches to fold, so the fold step early-returns) still
    converges to clean physical state. No-op without a marker.

    Manifest mode additionally re-runs the post-COMMIT sweep a
    post-replace crash can leave undone (dead predecessor versions,
    the tmp manifest, retired rename-era dirs): without this, a
    crashed compaction followed by a quiet feed would leave the
    leftovers forever, because the in-commit sweep only runs when
    there is new work to fold. Compactor-owned, like the sweep inside
    the commit itself — never called from the read path."""
    t = compacted_through(ledger_path)
    if t is not None:
        delete_folded(ledger_path, t)
    m = _manifest(ledger_path)
    if m is not None:
        root = Path(ledger_path)
        live = m["dir"]
        for d in root.glob(_VERSION_PREFIX + "*"):
            if d.is_dir() and d.name != live:
                _rmtree(d)
        tmp = root / (MANIFEST_FILE + ".tmp")
        if tmp.exists():
            tmp.unlink()
        for legacy in (BASELINE_DIR, _STAGING_DIR, _TRASH_DIR):
            if (root / legacy).exists():
                _rmtree(root / legacy)


def delete_folded(ledger_path: str, through_batch: int) -> None:
    """Step 3: remove batch partitions the committed marker already
    covers. Safe to crash anywhere — readers exclude these — and safe
    to re-run; recompaction also sweeps stragglers from prior runs."""
    for d in Path(ledger_path).glob("ingest_batch=*"):
        suffix = d.name.split("=", 1)[1]
        if suffix != "-1" and int(suffix) <= through_batch:
            _rmtree(d)
