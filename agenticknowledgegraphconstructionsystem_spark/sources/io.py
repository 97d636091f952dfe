"""Storage shim: Iceberg-like staged commits over parquet (SURVEY §7 item 6).

The real-cluster deployment writes Iceberg tables (``MERGE INTO``, atomic
snapshot commits, ``bucket(N, url)`` partitioning).  This sandbox has no
Iceberg jars, so the same commit semantics are provided over parquet plus a
sidecar ``_manifest.json``:

* a stage is **committed** iff its manifest exists (written strictly after
  the parquet data lands → crash between data and manifest = uncommitted,
  the stage reruns — same contract as an Iceberg snapshot),
* ``merge_by_key`` gives MERGE/upsert semantics (latest-wins by an explicit
  deterministic ordering column — never arrival order),
* row counts come from the files a write landed: each part file's parquet
  footer, read on the driver (the analogue of Iceberg's per-data-file
  ``record_count``), so a commit runs exactly one Spark job — the write.

Keep this interface thin so the Iceberg path is a drop-in on a real
cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import footer_rows


#: real-cluster DDL the shim stands in for (SURVEY §2.1 S13: indexes →
#: bucketed partitioning + min/max file pruning; views → saved DataFrames)
ICEBERG_DDL = {
    "pages": """
        CREATE TABLE kg.pages (
          url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
        USING iceberg PARTITIONED BY (bucket(1024, url))""",
    "mentions": """
        CREATE TABLE kg.mentions (
          url STRING, name STRING, concept_type STRING,
          relevance_pct INT, pos INT, context STRING)
        USING iceberg PARTITIONED BY (bucket(1024, url))""",
    "entities": """
        CREATE TABLE kg.entities (
          entity_id BIGINT, name STRING, concept_type STRING,
          mention_count BIGINT, sum_relevance_pct BIGINT,
          max_relevance_pct INT, min_relevance_pct INT)
        USING iceberg PARTITIONED BY (bucket(64, name))""",
    "merge_docs": """
        MERGE INTO kg.docs t USING updates s ON t.url = s.url
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""",
}


class StageStore:
    """Parquet-backed stage storage with Iceberg-style snapshot semantics.

    Every mutation (``commit``, ``append``, ``rollback``) mints a new
    immutable **snapshot**: a manifest entry listing the data directories
    that make up the stage at that point.  Like Iceberg, an append never
    rewrites existing files — it adds a ``delta-<id>`` directory and the
    new snapshot references old dirs + the new one.  The manifest is
    replaced atomically (``os.replace``) strictly after all data lands, so
    a crash at any point leaves the previous snapshot current.

    Time travel: ``read(stage, as_of=<snapshot_id>)`` reads any retained
    snapshot; ``rollback(stage, <snapshot_id>)`` makes one current again
    (the Iceberg ``rollback_to_snapshot`` procedure).  The last
    ``RETAIN_SNAPSHOTS`` superseded snapshots are kept; older unreferenced
    data directories are pruned on the next mutation (Iceberg
    ``expire_snapshots``).

    Counts: every snapshot records ``parts = [[write_task_id, rows], …]``,
    one entry per Spark write task that landed a file, with ``rows`` read
    from the part files' parquet footers on the driver — no read-back, no
    ``count()`` job.  The task id is the ``part-<id>-…`` number Spark puts
    in every file name; a task that wrote several files (one per Hive
    partition directory) is summed into one entry.  An append adds its
    delta's entries after the base's, so ``rows == sum of parts`` holds
    for every snapshot.  The snapshot also records the DataFrame schema,
    and ``read`` scans with it, so no schema-inference job runs either.
    """

    #: superseded snapshots retained for time travel / rollback
    RETAIN_SNAPSHOTS = 5

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def _manifest(self, stage: str) -> str:
        return os.path.join(self.base_dir, f"{stage}._manifest.json")

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(self._manifest(stage))

    def manifest(self, stage: str) -> dict:
        with open(self._manifest(stage)) as f:
            return json.load(f)

    # -- snapshot plumbing -------------------------------------------------
    def _next_id(self, stage: str) -> int:
        """Next snapshot id: 1 + max over existing data dirs (crash-safe —
        orphan dirs from aborted writes still advance the counter)."""
        sd = self._path(stage)
        best = 0
        if os.path.isdir(sd):
            for name in os.listdir(sd):
                parts = name.rsplit("-", 1)
                if len(parts) == 2 and parts[0] in ("snap", "delta") and parts[1].isdigit():
                    best = max(best, int(parts[1]))
        if self.is_committed(stage):
            m = self.manifest(stage)
            ids = [m.get("snapshot_id", 0)] + [
                h.get("snapshot_id", 0) for h in m.get("history", [])
            ]
            best = max(best, *ids)
        return best + 1

    def _summary(self, m: dict) -> dict:
        return {
            k: m[k]
            for k in (
                "snapshot_id",
                "kind",
                "rows",
                "paths",
                "committed_at",
                "run_id",
                "partition_by",
                "schema",
                "parts",
            )
            if k in m
        }

    def _write_manifest(self, stage: str, manifest: dict, prev: dict | None) -> None:
        """History push + retention trim + atomic replace + data-dir prune."""
        history = list(prev.get("history", [])) if prev else []
        if prev is not None:
            history.insert(0, self._summary(prev))
        expired = history[self.RETAIN_SNAPSHOTS :]
        manifest["history"] = history[: self.RETAIN_SNAPSHOTS]
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(stage))
        # expire_snapshots: drop data dirs referenced ONLY by expired entries
        live = set(manifest.get("paths", []))
        for h in manifest["history"]:
            live.update(h.get("paths", []))
        for h in expired:
            for rel in h.get("paths", []):
                if rel not in live:
                    shutil.rmtree(os.path.join(self._path(stage), rel), ignore_errors=True)

    def _resolve(self, stage: str, as_of: int | None) -> dict:
        m = self.manifest(stage)
        if as_of is None or m.get("snapshot_id") == as_of:
            return m
        for h in m.get("history", []):
            if h.get("snapshot_id") == as_of:
                return h
        raise KeyError(f"stage {stage!r}: no retained snapshot {as_of}")

    def snapshots(self, stage: str) -> list[dict]:
        """Current snapshot summary first, then retained history."""
        m = self.manifest(stage)
        return [self._summary(m)] + list(m.get("history", []))

    # -- mutations ---------------------------------------------------------
    def _parts(self, stage: str, rel: str) -> list[list[int]]:
        """``[[write_task_id, rows], …]`` of one data dir, from the part
        files' footers (see the class docstring)."""
        rows: Counter[int] = Counter()
        for root, _dirs, files in os.walk(os.path.join(self._path(stage), rel)):
            for name in files:
                if name.startswith("part-") and name.endswith(".parquet"):
                    task = int(name.split("-", 2)[1])
                    rows[task] += footer_rows(os.path.join(root, name))
        return [[task, n] for task, n in sorted(rows.items())]

    def commit(
        self,
        stage: str,
        df: DataFrame,
        run_id: str,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Write stage output as a fresh full snapshot, then atomically mark
        committed via the manifest; returns ``read(stage)``.  One Spark job:
        the write (counts come from the footers, see the class docstring).

        ``partition_by`` writes a Hive-partitioned layout (the parquet
        analog of an Iceberg partition spec): consumers filtering on a
        partition column read only its directories — Catalyst shows the
        pruning as ``PartitionFilters`` on the scan."""
        t0 = time.time()
        snap_id = self._next_id(stage)
        rel = f"snap-{snap_id}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self._path(stage), rel))
        parts = self._parts(stage, rel)
        prev = self.manifest(stage) if self.is_committed(stage) else None
        manifest = {
            "stage": stage,
            "run_id": run_id,
            "rows": sum(n for _task, n in parts),
            "parts": parts,
            "schema": df.schema.jsonValue(),
            "wall_ms": int((time.time() - t0) * 1000),
            "committed_at": time.time(),
            "snapshot_id": snap_id,
            "kind": "overwrite",
            "paths": [rel],
            **({"partition_by": partition_by} if partition_by else {}),
        }
        self._write_manifest(stage, manifest, prev)
        return self.read(stage)

    def append(self, stage: str, df: DataFrame) -> int:
        """Iceberg-style append: land a delta data dir, then publish a new
        snapshot referencing previous dirs + the delta.  Existing files are
        never rewritten, so every retained snapshot stays readable.  The
        delta's ``parts`` follow the base's in the manifest.  Returns the
        number of appended rows."""
        prev = self.manifest(stage)  # raises if not committed — appends need a base
        if prev.get("partition_by"):
            # delta dirs are written unpartitioned; mixing them under a
            # Hive-partitioned base would produce a layout read()'s
            # multi-path parquet scan cannot reconcile
            raise ValueError(
                f"append to Hive-partitioned stage {stage!r} "
                f"(partition_by={prev['partition_by']}) is not supported; "
                "re-commit with the full table instead"
            )
        snap_id = self._next_id(stage)
        rel = f"delta-{snap_id}"
        df.write.mode("overwrite").parquet(os.path.join(self._path(stage), rel))
        added = self._parts(stage, rel)
        n = sum(rows for _task, rows in added)
        manifest = {
            **{k: v for k, v in prev.items() if k != "history"},
            "rows": prev["rows"] + n,
            "parts": prev["parts"] + added,
            "committed_at": time.time(),
            "appended_at": time.time(),
            "snapshot_id": snap_id,
            "kind": "append",
            "paths": list(prev.get("paths", [])) + [rel],
        }
        self._write_manifest(stage, manifest, prev)
        return n

    def rollback(self, stage: str, snapshot_id: int) -> None:
        """Make a retained snapshot current again (Iceberg
        ``rollback_to_snapshot``).  Mints a new snapshot that references the
        target's data dirs, so the rolled-back-from state stays in history
        and can itself be rolled back to."""
        prev = self.manifest(stage)
        if prev.get("snapshot_id") == snapshot_id:
            return
        target = self._resolve(stage, snapshot_id)
        manifest = {
            **{k: v for k, v in prev.items() if k not in ("history", "partition_by")},
            **{
                k: target[k]
                for k in ("rows", "parts", "schema", "paths", "partition_by")
                if k in target
            },
            "committed_at": time.time(),
            "snapshot_id": self._next_id(stage),
            "kind": "rollback",
            "rolled_back_to": snapshot_id,
        }
        self._write_manifest(stage, manifest, prev)

    # -- reads -------------------------------------------------------------
    def read(self, stage: str, as_of: int | None = None) -> DataFrame:
        """Read the current snapshot, or any retained one via ``as_of``,
        with the schema recorded at commit, so no inference job runs.
        Spark puts Hive partition columns last; a partitioned snapshot is
        put back in its declared column order."""
        snap = self._resolve(stage, as_of)
        schema = T.StructType.fromJson(snap["schema"])
        paths = [os.path.join(self._path(stage), rel) for rel in snap["paths"]]
        out = self.spark.read.schema(schema).parquet(*paths)
        if snap.get("partition_by"):
            out = out.select(*[F.col(name) for name in schema.fieldNames()])
        return out

    def uncommit(self, stage: str) -> None:
        """Test hook: simulate a crash after stage k (delete the commit)."""
        if os.path.exists(self._manifest(stage)):
            os.remove(self._manifest(stage))


def merge_by_key(
    current: DataFrame, incoming: DataFrame, keys: list[str], order_col: str
) -> DataFrame:
    """Iceberg ``MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``
    (database_utils.py:109-113 upsert semantics) as a window dedup:
    union → keep the row with the highest order_col per key (deterministic
    tie-break on remaining columns is the caller's duty via order_col)."""
    unioned = current.unionByName(incoming, allowMissingColumns=False)
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return unioned.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def resume_inputs(inputs: DataFrame, committed: DataFrame, key: str) -> DataFrame:
    """J7 anti-join resume (database.ts:66-81): rows whose key already
    appears in committed output are skipped."""
    return inputs.join(committed.select(key).distinct(), key, "left_anti")
