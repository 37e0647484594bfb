"""Iceberg-style snapshot persistence for `SpatialIndex` tables.

The north rule asks for Iceberg tables with checkpoint-resume and
per-partition lineage. No Iceberg runtime jars exist in this
environment, so this module implements the public Iceberg *semantics*
directly over parquet + JSON (spec: iceberg.apache.org/spec — immutable
data files, per-snapshot manifests listing files, an append-only
snapshot log, and an atomically-swapped CURRENT pointer):

- every commit is a SNAPSHOT: an immutable set of bucket-partitioned
  parquet files plus a manifest naming exactly the files that make up
  the table at that version;
- an INCREMENTAL commit (after `SpatialIndex.update`) rewrites only the
  buckets whose cells changed and re-references the parent snapshot's
  files for everything else — at 10^12 rows a 0.01% batch checkpoint
  costs O(changed partitions), never O(table);
- `load(snapshot_id=...)` time-travels to any retained snapshot;
  `load()` follows CURRENT — so a restarted pipeline resumes from the
  last committed version (checkpoint-resume), and the snapshot log IS
  the lineage record (each entry names its parent, operation and
  row/cell audit counts).

The reference has no persistence story (a process-lifetime in-memory
tree); this is the Spark-native replacement for "rebuild on restart".
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .grid import Grid
from .index import SpatialIndex, in_list


class SnapshotStore:
    """Snapshot log + data files for one index table under `path`."""

    def __init__(self, path: str, nbuckets: int = 64):
        self.path = path
        self.nb = nbuckets
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)
        # a store's bucketing is fixed at its first commit: incremental
        # commits key dirty buckets as cell % nb, so mixing bucket counts
        # across snapshots would duplicate cells between a retained
        # parent file and a new dirty file. Reopening an existing store
        # adopts the recorded count, whatever was passed.
        cur = self.current()
        if cur is not None:
            self.nb = int(self._manifest(cur)["nbuckets"])

    # ------------------------------------------------------------- metadata

    def _log_path(self) -> str:
        return os.path.join(self.path, "snapshot-log.json")

    def log(self) -> list[dict]:
        """Append-only snapshot history (oldest first)."""
        if not os.path.exists(self._log_path()):
            return []
        with open(self._log_path()) as f:
            return json.load(f)

    def current(self) -> str | None:
        p = os.path.join(self.path, "CURRENT")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip()

    def _manifest_path(self, sid: str) -> str:
        return os.path.join(self.path, "snapshots", f"snap-{sid}",
                            "manifest.json")

    def _manifest(self, sid: str) -> dict:
        with open(self._manifest_path(sid)) as f:
            return json.load(f)

    def _publish(self, sid: str, entry: dict) -> None:
        """Append to the log and swap CURRENT — both via write-to-temp +
        atomic rename, so a crash leaves the previous version intact."""
        log = self.log() + [entry]
        tmp = self._log_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f, indent=1)
        os.rename(tmp, self._log_path())
        cur = os.path.join(self.path, "CURRENT")
        with open(cur + ".tmp", "w") as f:
            f.write(sid)
        os.rename(cur + ".tmp", cur)

    # --------------------------------------------------------------- commit

    def commit(self, index: SpatialIndex, parent: str | None = None,
               touched_cells=None) -> str:
        """Write a snapshot of `index`; returns the snapshot id.

        Full commit (parent=None): every bucket is written.
        Incremental commit (parent + touched_cells, or parent alone when
        the index was produced by `SpatialIndex.update`, which records
        its touched-cell set): only buckets holding touched cells are
        written; untouched buckets re-reference the parent's files.
        """
        sid = uuid.uuid4().hex[:12]
        snapdir = os.path.join(self.path, "snapshots", f"snap-{sid}")
        datadir = os.path.join(snapdir, "data")
        if touched_cells is None and parent is not None:
            touched_cells = getattr(index, "touched_cells", None)
        df = index.df.withColumn(
            "bucket", F.pmod(F.col("cell"), F.lit(self.nb)).cast("int"))

        if parent is not None and touched_cells is not None:
            pman = self._manifest(parent)
            if int(pman["nbuckets"]) != self.nb:
                raise ValueError(
                    f"bucket-count mismatch: parent snapshot has "
                    f"nbuckets={pman['nbuckets']}, store uses {self.nb}")
            buckets = {int(b): p for b, p in pman["buckets"].items()}
            dirty = sorted({int(c) % self.nb for c in touched_cells})
            out = df.filter(in_list("bucket", dirty))
        else:
            buckets = {}
            dirty = list(range(self.nb))
            out = df
        out.write.mode("overwrite").partitionBy("bucket").parquet(datadir)
        for b in dirty:
            bdir = os.path.join(datadir, f"bucket={b}")
            # partitionBy only materializes non-empty buckets; an empty
            # dirty bucket means "no rows here at this version"
            buckets[b] = (os.path.relpath(bdir, self.path)
                          if os.path.isdir(bdir) else None)

        row = index.df.agg(F.sum("cnt").alias("t"), F.count("*").alias("c")
                           ).collect()[0]
        # per-partition lineage: live cell/row counts for EVERY bucket at
        # this version (one distributed agg over the O(cells) stats rows,
        # collect is O(nbuckets)); untouched buckets keep serving parent
        # files, so the stats come from the live table, not the files
        per_bucket = {
            int(r["bucket"]): (int(r["cells"]), int(r["rows"] or 0))
            for r in df.groupBy("bucket").agg(
                F.count("*").alias("cells"),
                F.sum("cnt").alias("rows")).collect()}
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent,
            "operation": index.manifest.get("kind", "build"),
            "grid_g": index.grid.g,
            "grid_dims": index.grid.dims,
            "coord_cols": list(index.coord_cols),
            "nbuckets": self.nb,
            "total_rows": int(row["t"] or 0),
            "cells": int(row["c"]),
            "buckets": {str(b): p for b, p in buckets.items()},
            "buckets_written": len(dirty),
            "bucket_stats": {
                str(b): {"cells": c, "rows": r}
                for b, (c, r) in sorted(per_bucket.items())},
        }
        if sum(r for _, r in per_bucket.values()) != manifest["total_rows"]:
            raise RuntimeError("per-bucket lineage rows disagree with the "
                               "table total — refusing to publish")
        os.makedirs(snapdir, exist_ok=True)
        with open(self._manifest_path(sid), "w") as f:
            json.dump(manifest, f, indent=1)
        # audit before publish: the manifest's files must read back to
        # exactly the committed cell count (write-audit-publish)
        back = self._read(index.spark, manifest).count()
        if back != manifest["cells"]:  # not assert: must survive python -O
            raise RuntimeError(
                f"snapshot audit failed before publish: re-read {back} "
                f"rows != committed {manifest['cells']}")
        self._publish(sid, {
            "snapshot_id": sid, "parent_id": parent,
            "operation": manifest["operation"], "ts": time.time(),
            "total_rows": manifest["total_rows"], "cells": manifest["cells"],
            "buckets_written": len(dirty),
        })
        return sid

    # ----------------------------------------------------------------- load

    def _read(self, spark: SparkSession, manifest: dict) -> DataFrame:
        paths = sorted({os.path.join(self.path, p)
                        for p in manifest["buckets"].values()
                        if p is not None})
        return spark.read.parquet(*paths)

    def load(self, spark: SparkSession,
             snapshot_id: str | None = None) -> SpatialIndex:
        """CURRENT by default; pass a snapshot id to time-travel."""
        sid = snapshot_id or self.current()
        if sid is None:
            raise FileNotFoundError(f"no CURRENT snapshot under {self.path}")
        man = self._manifest(sid)
        df = self._read(spark, man)
        idx_manifest = dict(kind="load", snapshot_id=sid,
                            cells=man["cells"], grid_g=man["grid_g"],
                            version=sid[:8])
        return SpatialIndex(spark,
                            Grid(int(man["grid_g"]),
                                 dims=int(man.get("grid_dims", 2))), df,
                            idx_manifest,
                            coord_cols=tuple(man["coord_cols"]))

    # ------------------------------------------------------ pruned load

    def prune_buckets(self, boxes, snapshot_id: str | None = None) -> list:
        """Manifest-level scan pruning (the Iceberg predicate ->
        file-skipping move): the bucket ids whose files can hold cells
        intersecting ANY of `boxes` [(box_id, lo..., hi...) over the
        grid dims, inclusive]. Pure driver arithmetic on the manifest —
        O(intersecting cells) with an early exit at nbuckets (a
        domain-sized box degenerates to "all buckets" without ever
        enumerating a domain-sized cell set)."""
        import itertools
        sid = snapshot_id or self.current()
        man = self._manifest(sid)
        grid = Grid(int(man["grid_g"]), dims=int(man.get("grid_dims", 2)))
        d, top = grid.dims, grid.g * grid.cw - 1
        buckets: set = set()
        for box in boxes:
            # box parts off the grid prune to nothing: a snapshot serves
            # the index domain, so they are clipped away rather than
            # folded onto the boundary cells as Grid.cover would
            lo = [max(int(c), 0) for c in box[1:1 + d]]
            hi = [min(int(c), top) for c in box[1 + d:1 + 2 * d]]
            for coords in itertools.product(*grid.cover_ranges(lo, hi)):
                cell = 0
                for c in coords:
                    cell = cell * grid.g + c
                buckets.add(cell % self.nb)
                if len(buckets) == self.nb:
                    return sorted(buckets)
        return sorted(buckets)

    def load_pruned(self, spark: SparkSession, boxes,
                    snapshot_id: str | None = None) -> SpatialIndex:
        """Load ONLY the bucket files that can serve `boxes` — a PARTIAL
        index, exact for queries contained in those boxes (range/circle
        counts, reports) and unsound for anything else (kNN may need
        neighbors outside the boxes). At 10^12 rows this is the
        difference between opening nbuckets files and opening the few
        a query window touches, decided from the manifest alone."""
        sid = snapshot_id or self.current()
        if sid is None:
            raise FileNotFoundError(f"no CURRENT snapshot under {self.path}")
        man = self._manifest(sid)
        keep = set(self.prune_buckets(boxes, sid))
        paths = sorted({os.path.join(self.path, p)
                        for b, p in man["buckets"].items()
                        if p is not None and int(b) in keep})
        if not paths:  # every candidate bucket is empty at this version
            full = self._read(spark, man)
            df = full.filter(F.lit(False))
        else:
            df = spark.read.parquet(*paths)
        idx_manifest = dict(kind="load_pruned", snapshot_id=sid,
                            cells=man["cells"], grid_g=man["grid_g"],
                            version=sid[:8],
                            buckets_read=len(paths),
                            buckets_total=self.nb)
        return SpatialIndex(spark,
                            Grid(int(man["grid_g"]),
                                 dims=int(man.get("grid_dims", 2))), df,
                            idx_manifest,
                            coord_cols=tuple(man["coord_cols"]))
