"""Warehouse table catalog — parquet-backed named tables.

The reference's warehouse is 16 Postgres tables (main.ddl:1-137), and each
nightly step commits as one transaction (transaction.py:113). Here each
table is a set of immutable parquet directories under a root, and every
write goes through ONE commit protocol (SURVEY §7 "hard parts" (a)):

1. write the frame into a fresh ``{name}_v{N}`` directory, numbered
   above every existing one, so no committed directory is written again;
2. swap ``{name}.version.json`` to the version's manifest with one
   ``os.replace``. The manifest holds ``version``, ``dirs`` (the live
   directories, absolute paths) and ``txns`` (writer id -> the last
   sequence number that writer committed).

``overwrite``/``write_partitioned``/``write_sorted``/``compact`` make
``dirs == [new]``; ``append`` makes ``dirs == old + [new]``. A crash before
the swap leaves the old manifest live and the new directory an
unreferenced orphan that ``vacuum`` removes; readers never see a partial
write, appends included. ``append(txn=(writer, seq))`` is a no-op when the
writer already committed ``seq`` (Delta Lake's ``txnAppId``/``txnVersion``
idempotency), which is how a replayed streaming epoch stays exactly-once;
``txns`` survive every later commit, rewrites and compactions included.

Each superseded manifest is kept as ``_manifest.json`` inside its own
version directory (Spark's reader skips ``_``-prefixed files), written by
the next commit just before its swap, so only committed versions ever get
one. ``versions``/``read_version`` are therefore time travel per commit,
and ``vacuum`` keeps exactly what the newest manifests reference.

Storage contract: one writer per table at a time, and an atomic POSIX
``os.replace`` of the pointer file. An object store has no atomic rename;
there the swap must become a conditional put (put-if-absent of the next
manifest), as Delta's log does.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"


def _write_json(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def _parquet_files(dirs: list[str]) -> list[str]:
    return [
        os.path.join(dirpath, f)
        for d in dirs
        for dirpath, _, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    ]


class TableCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _pointer(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.version.json")

    def _dir(self, name: str, version: int) -> str:
        return os.path.join(self.root, f"{name}_v{version}")

    def _read_pointer(self, name: str) -> dict | None:
        ptr = self._pointer(name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            return json.load(fh)

    def _write_pointer(self, name: str, manifest: dict) -> None:
        _write_json(self._pointer(name), manifest)

    def _current_dirs(self, name: str) -> list[str] | None:
        p = self._read_pointer(name)
        return None if p is None else p["dirs"]

    def _version_dirs(self, name: str) -> dict[int, str]:
        """Every ``{name}_v{N}`` directory, committed or orphaned."""
        pat = re.compile(rf"^{re.escape(name)}_v(\d+)$")
        return {
            int(m.group(1)): os.path.join(self.root, d)
            for d in os.listdir(self.root)
            if (m := pat.match(d)) and os.path.isdir(os.path.join(self.root, d))
        }

    def _commit(
        self,
        name: str,
        df: DataFrame,
        append: bool = False,
        txn: tuple[str, int] | None = None,
        partition_cols: list[str] | None = None,
    ) -> int:
        """The one write path: ``df`` into a fresh version directory, then
        one pointer swap. Returns the rows committed, observed on the write.

        An append of 0 rows to an existing table commits nothing and
        deletes its empty directory; so does an append whose ``txn`` the
        writer already committed, without writing at all.
        """
        old = self._read_pointer(name)
        txns = dict(old["txns"]) if old else {}
        if txn is not None:
            writer, seq = txn
            if seq <= txns.get(writer, -1):
                return 0
            txns[writer] = seq
        kept = old["dirs"] if append and old else []
        version = max(self._version_dirs(name), default=-1) + 1
        new_dir = self._dir(name, version)
        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
        if partition_cols:
            out = out.partitionBy(*partition_cols)
        out.parquet(new_dir)
        rows = obs.get["rows"]
        if kept and not rows:
            shutil.rmtree(new_dir)
            return 0
        if old:
            _write_json(os.path.join(self._dir(name, old["version"]), MANIFEST), old)
        self._write_pointer(name, {"version": version, "dirs": kept + [new_dir], "txns": txns})
        return rows

    def exists(self, name: str) -> bool:
        return self._current_dirs(name) is not None

    def read(self, name: str) -> DataFrame:
        ds = self._current_dirs(name)
        if ds is None:
            raise FileNotFoundError(f"table {name} not initialized under {self.root}")
        return self.spark.read.parquet(*ds)

    def overwrite(self, name: str, df: DataFrame) -> int:
        """Atomic table rewrite (readers see the old or the new rows);
        returns the rows committed."""
        return self._commit(name, df)

    def append(self, name: str, df: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """Append sink (reference S8, INSERT...SELECT): commits ``df`` as one
        more live directory, creating the table on first use, and returns
        the rows committed. ``txn=(writer, seq)`` makes the append
        idempotent: it is a no-op once ``writer`` has committed ``seq``.
        """
        return self._commit(name, df, append=True, txn=txn)

    def write_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Bucketed (and optionally sorted) table — the co-located join path.

        Two tables bucketed on the same key with the same bucket count join
        WITHOUT a shuffle (each bucket pair joins locally); bucket-sorted
        data also skips the sort of a sort-merge join. This is the standing
        answer for a fact table joined repeatedly on one key at 100 TB: pay
        the shuffle once at write time, never again at read time.

        Bucketing metadata lives in the session catalog (``saveAsTable``
        with an explicit path — Spark does not read bucket layout from bare
        parquet directories).
        """
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, *bucket_cols)
            .option("path", os.path.join(self.root, f"{name}__bucketed"))
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed table through the catalog (keeps bucket info)."""
        return self.spark.table(name)

    def write_partitioned(
        self, name: str, df: DataFrame, partition_cols: list[str]
    ) -> int:
        """Hive-style partitioned table (dt=.../ directories), committed
        like ``overwrite``.

        Partition pruning is the cluster-scale form of the reference's
        driver-side file skipping (S5/transaction.py:51 — don't read files
        ≤ watermark): a predicate on the partition column eliminates whole
        directories at planning time, so a daily incremental query over a
        100 TB fact table reads one day's files, not all of them. Choose
        coarse, low-cardinality keys (a date, a tenant) — one directory and
        ≥1 file per value; a high-cardinality partition key degenerates
        into millions of tiny files and kills the scan.
        """
        return self._commit(name, df, partition_cols=partition_cols)

    def write_sorted(
        self, name: str, df: DataFrame, sort_cols: list[str], n_files: int
    ) -> int:
        """Range-partitioned, sorted-within-file layout (data clustering).

        ``repartitionByRange`` gives each output file a DISJOINT value
        range of ``sort_cols`` (sampled range boundaries, one shuffle);
        ``sortWithinPartitions`` orders rows inside each file, so every
        parquet row group carries tight min/max statistics. A predicate
        on the sort column then skips whole files and row groups at scan
        time — the storage-layout half of predicate pushdown, and the
        difference between reading 100 TB and reading the one date range
        a query asks for. This is the write-side complement of
        ``write_partitioned``: partitioning prunes by directory on
        coarse keys; sorted layout prunes by stats on continuous ones
        (timestamps, prices) where per-value directories are infeasible.
        """
        return self.overwrite(
            name,
            df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
                *sort_cols
            ),
        )

    def compact(
        self,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Rewrite a table into ~target-sized files in one directory;
        returns the new file count.

        Append sinks (S8) and streaming sinks accrete small files and one
        directory per append; at scale a scan's task count — and the
        namenode's metadata load — is file-bound, so periodic compaction
        is standing maintenance for any append table. Sizing uses the
        CURRENT on-disk bytes (true post-compression size), not row
        counts. The rewrite is an ``overwrite`` (committed ``txns``
        carry forward), so readers see either the old or the new layout.

        ``cluster_by`` re-CLUSTERS while compacting (the OPTIMIZE ...
        ZORDER BY maintenance verb): files get disjoint sort-key ranges
        + in-file order, so the rewrite that was already being paid for
        file-count hygiene also restores stats-based data skipping that
        appends erode — pass a Z-order key (operators/zorder.py) to
        cluster on two dimensions at once.
        """
        cur = self.read(name)
        total = sum(os.path.getsize(f) for f in _parquet_files(self._current_dirs(name)))
        n_files = max(1, -(-total // int(target_file_bytes)))
        if cluster_by:
            cur = cur.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(*cluster_by)
        else:
            cur = cur.repartition(n_files)
        self.overwrite(name, cur)
        return len(_parquet_files(self._current_dirs(name)))

    def versions(self, name: str) -> list[int]:
        """Every retained committed version of a table, oldest first —
        one per commit, appends included."""
        out = {
            v for v, d in self._version_dirs(name).items()
            if os.path.exists(os.path.join(d, MANIFEST))
        }
        live = self._read_pointer(name)
        if live:
            out.add(live["version"])
        return sorted(out)

    def _manifest(self, name: str, version: int) -> dict:
        live = self._read_pointer(name)
        if live and live["version"] == version:
            return live
        path = os.path.join(self._dir(name, version), MANIFEST)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"table {name} has no version {version}; have {self.versions(name)}"
            )
        with open(path) as fh:
            return json.load(fh)

    def read_version(self, name: str, version: int) -> DataFrame:
        """Time travel: read a table as a retained commit left it.

        The lakehouse pattern in miniature — an auditor re-runs last
        week's fraud report against the dimension table AS IT WAS, without
        restoring backups. (SCD2 gives row-level history inside a version;
        this gives table-level history across commits.)
        """
        return self.spark.read.parquet(*self._manifest(name, version)["dirs"])

    def vacuum(self, name: str, keep_last: int = 2) -> list[int]:
        """Delete every ``{name}_v{N}`` directory that the newest
        ``keep_last`` manifests do not reference (older snapshots and
        orphans of crashed commits); returns the deleted version numbers.
        Retention is the storage-cost counterweight to ``read_version``.
        Like every write, it assumes no other writer is mid-commit."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        keep = {
            os.path.basename(d) for v in self.versions(name)[-keep_last:]
            for d in self._manifest(name, v)["dirs"]
        }
        dropped = []
        for v, d in sorted(self._version_dirs(name).items()):
            if os.path.basename(d) not in keep:
                shutil.rmtree(d)
                dropped.append(v)
        return dropped
