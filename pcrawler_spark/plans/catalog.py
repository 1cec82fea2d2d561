"""Epoch-atomic parquet table catalog (Iceberg-style snapshot semantics).

The north_rule calls for Iceberg tables; this sandbox has no Iceberg runtime
jar, so this layer provides the same *semantics* over plain parquet — and is
the seam where a real Iceberg catalog plugs in (`spark.jars.packages` +
``MERGE INTO`` replacing the manifest dance):

* every table is append-only, laid out as ``<root>/<table>/epoch=<k>/``;
* one *crawl epoch* commits several tables (records, seen, frontier,
  checkpoints) **atomically**: all parquet writes happen first — issued
  concurrently from driver threads, so their planning and small jobs
  overlap — then, once every write has returned, a single manifest file
  ``<root>/_commits/epoch_<k>.json`` is created via write-tmp +
  ``os.rename`` (atomic on POSIX).  Readers only see epochs with
  a manifest, so a crash between table writes can never double-count —
  exactly the reference's UNIQUE-constraint effective-exactly-once
  (db_manager.py:119-128) without in-place mutation (SURVEY.md §7.4.3);
* resume = ``last_committed_epoch() + 1``; a partially-written epoch is
  overwritten by the re-run (mode=overwrite per epoch dir is idempotent).

Epoch partition pruning: reads filter on the ``epoch`` partition column, so
"latest state" queries never scan historic epochs' data files.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Iterable, Mapping, Optional

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


class EpochCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)

    # ---- commit protocol -------------------------------------------------

    def _epoch_dir(self, table: str, epoch: int) -> str:
        return os.path.join(self.root, table, f"epoch={epoch}")

    def _manifest_path(self, epoch: int) -> str:
        return os.path.join(self.root, "_commits", f"epoch_{epoch:06d}.json")

    def write_epoch(self, epoch: int, tables: Mapping[str, DataFrame],
                    metadata: Optional[dict] = None) -> None:
        """Write all tables for one epoch concurrently, then atomically
        commit.

        Each table is written from its own driver thread, so the tables'
        planning and their small jobs overlap instead of queueing; the
        threads inherit the caller's job group, description and tags.  The
        commit point is unchanged: the manifest is written only after every
        write has returned, and a failed write is raised only after all
        threads finished, leaving no manifest (``rollback_uncommitted``
        removes the dirs the other writes left)."""
        written = {name: self._epoch_dir(name, epoch) for name in tables}

        @inheritable_thread_target(self.spark)
        def write(name: str) -> None:
            tables[name].write.mode("overwrite").parquet(written[name])

        with ThreadPoolExecutor(max_workers=max(1, len(tables))) as pool:
            futures = [pool.submit(write, name) for name in tables]
        for f in futures:
            f.result()  # re-raises the first failed write
        manifest = {
            "epoch": epoch,
            "tables": written,
            "committed_at_unix": time.time(),
            "metadata": metadata or {},
        }
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_commits"), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, self._manifest_path(epoch))  # atomic commit point

    def committed_epochs(self) -> list[int]:
        d = os.path.join(self.root, "_commits")
        out = []
        for name in os.listdir(d):
            if name.startswith("epoch_") and name.endswith(".json"):
                out.append(int(name[len("epoch_"):-len(".json")]))
        return sorted(out)

    def last_committed_epoch(self) -> int:
        eps = self.committed_epochs()
        return eps[-1] if eps else -1

    def manifest(self, epoch: int) -> dict:
        with open(self._manifest_path(epoch)) as f:
            return json.load(f)

    def compact(self, tables: Optional[Iterable[str]] = None,
                upto: Optional[int] = None, min_epochs: int = 2) -> Optional[int]:
        """Merge a table's per-epoch partition dirs into ONE new epoch dir.

        Long crawls accrue one directory per epoch per table; ``seen`` and
        ``frontier`` are re-read every epoch, so thousands of tiny dirs turn
        the scheduling scan into a file-listing storm.  Compaction commits a
        new epoch whose manifest lists the epochs it ``replaces`` per table;
        readers skip replaced epochs, so the commit point (manifest rename)
        is atomic exactly like a normal epoch: a crash before it leaves only
        an uncommitted dir (rolled back), a crash after it leaves stale
        replaced dirs that are skipped by readers and deleted lazily here.
        Returns the compaction epoch, or None if nothing needed merging."""
        last = self.last_committed_epoch()
        if last < 0:
            return None
        # retry any GC a previous crash left undone: readers already skip
        # replaced epochs, but without this sweep a crash between the
        # manifest rename and the rmtree loop leaks the dirs forever (later
        # compactions exclude already-replaced epochs from their own
        # `replaces` lists and so never delete them)
        self.gc_replaced()
        upto = last if upto is None else min(upto, last)
        new_epoch = last + 1
        committed = set(self.committed_epochs())
        if tables is None:
            tables = [d for d in os.listdir(self.root)
                      if not d.startswith("_") and os.path.isdir(os.path.join(self.root, d))]
        written, replaces = {}, {}
        for t in tables:
            replaced_already = self._replaced_epochs(t)
            tdir = os.path.join(self.root, t)
            if not os.path.isdir(tdir):
                continue
            eps = sorted(
                int(d.split("=", 1)[1]) for d in os.listdir(tdir)
                if d.startswith("epoch=")
                and int(d.split("=", 1)[1]) in committed
                and int(d.split("=", 1)[1]) <= upto
                and int(d.split("=", 1)[1]) not in replaced_already
            )
            if len(eps) < min_epochs:
                continue
            df = self.read(t, upto_epoch=upto)
            if df is None:
                continue
            path = self._epoch_dir(t, new_epoch)
            df.drop("epoch").write.mode("overwrite").parquet(path)
            written[t] = path
            replaces[t] = eps
        if not written:
            return None
        manifest = {
            "epoch": new_epoch,
            "tables": written,
            "committed_at_unix": time.time(),
            "metadata": {"compaction": True},
            "replaces": replaces,
        }
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_commits"), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, self._manifest_path(new_epoch))  # atomic commit point
        # lazy GC — safe any time after the commit (readers already skip them)
        for t, eps in replaces.items():
            for e in eps:
                shutil.rmtree(self._epoch_dir(t, e), ignore_errors=True)
        return new_epoch

    def gc_replaced(self) -> int:
        """Delete every epoch dir superseded by a committed compaction.
        Safe at any time (readers skip replaced epochs); returns the number
        of dirs removed."""
        removed = 0
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if table.startswith("_") or not os.path.isdir(tdir):
                continue
            replaced = self._replaced_epochs(table)
            for part in os.listdir(tdir):
                if part.startswith("epoch=") and int(part.split("=", 1)[1]) in replaced:
                    shutil.rmtree(os.path.join(tdir, part), ignore_errors=True)
                    removed += 1
        return removed

    def _replaced_epochs(self, table: str,
                         as_of: Optional[int] = None) -> set[int]:
        """Epochs superseded by a compaction of ``table``.  ``as_of`` limits
        the view to compactions committed at or before that epoch — the
        time-travel rule: a compaction that happened AFTER the requested
        snapshot must not hide the snapshot's own epochs."""
        out: set[int] = set()
        for e in self.committed_epochs():
            if as_of is not None and e > as_of:
                continue
            m = self.manifest(e)
            out.update(m.get("replaces", {}).get(table, []))
        return out

    def rollback_uncommitted(self) -> None:
        """Remove epoch dirs newer than the last commit (crash cleanup)."""
        self.gc_replaced()  # also retry any compaction GC a crash left undone
        last = self.last_committed_epoch()
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if table.startswith("_") or not os.path.isdir(tdir):
                continue
            for part in os.listdir(tdir):
                if part.startswith("epoch="):
                    k = int(part.split("=", 1)[1])
                    if k > last:
                        shutil.rmtree(os.path.join(tdir, part))

    # ---- read paths ------------------------------------------------------

    def read(self, table: str, upto_epoch: Optional[int] = None) -> Optional[DataFrame]:
        """All committed rows of a table (union of committed epochs); with
        ``upto_epoch`` this is an Iceberg-style time-travel read of the
        snapshot as of that epoch.

        Compaction interplay: a compaction committed at or before the
        snapshot hides the epochs it replaced (their rows live in the
        compacted dir); a compaction committed AFTER the snapshot does not —
        but its lazy GC may already have deleted the replaced dirs, in which
        case the snapshot is unreconstructable and this raises instead of
        silently returning partial data (Iceberg's expire-snapshots rule).

        Uses basePath-style partition discovery so ``epoch`` appears as a
        column and partition pruning applies when callers filter on it."""
        committed = set(self.committed_epochs()) - self._replaced_epochs(table, upto_epoch)
        if upto_epoch is not None:
            committed = {e for e in committed if e <= upto_epoch}
        # only epochs whose manifest actually wrote this table owe us a dir
        # (sparse tables — breaker, emails — skip epochs by design)
        committed = {e for e in committed if table in self.manifest(e)["tables"]}
        tdir = os.path.join(self.root, table)
        if not os.path.isdir(tdir):
            return None
        have = {
            int(d.split("=", 1)[1])
            for d in os.listdir(tdir) if d.startswith("epoch=")
        }
        missing = committed - have
        if missing:
            raise ValueError(
                f"snapshot of {table!r} as of epoch {upto_epoch} is gone: "
                f"epochs {sorted(missing)} were compacted away (expired)")
        dirs = [os.path.join(tdir, f"epoch={e}") for e in sorted(committed)]
        if not dirs:
            return None
        return self.spark.read.option("basePath", tdir).parquet(*dirs)

    def metrics_df(self) -> Optional[DataFrame]:
        """Per-epoch lineage + metrics as a queryable DataFrame — the
        manifest metadata (fetched/extracted/records_out counters, phase,
        compaction flag) surfaced the way an Iceberg snapshots table is.
        One tiny JSON per epoch, read driver-side (bounded by epoch count).

        Columns: epoch long, committed_at_unix double, compaction boolean,
        metrics map<string,string>."""
        rows = []
        for e in self.committed_epochs():
            m = self.manifest(e)
            md = m.get("metadata", {}) or {}
            rows.append((
                e,
                float(m.get("committed_at_unix", 0.0)),
                bool(md.get("compaction", False)),
                {k: str(v) for k, v in md.items()},
            ))
        if not rows:
            return None
        return self.spark.createDataFrame(
            rows,
            "epoch long, committed_at_unix double, compaction boolean, "
            "metrics map<string,string>",
        )

    def exists(self, table: str) -> bool:
        return self.read(table) is not None
