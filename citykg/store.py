"""Storage-adapter seam for the triple store (r4 VERDICT item 6).

`materialize.py` emulates an Iceberg table with partitioned parquet +
lineage manifests because the real Iceberg runtime cannot be installed
in this environment (materialize.py:1-17). This module makes the
engine-swap surface EXPLICIT: one class — `ParquetStoreAdapter` — owns
every physical read/write the store performs, and swapping in Iceberg
means implementing the same methods against a catalog table. The
conformance tests (tests/test_store_conformance.py) pin exactly the
semantics both implementations must share, so the swap is a conformance
run, not a leap of faith.

Mapping table (parquet emulation -> Iceberg):

| adapter method          | parquet emulation                          | Iceberg call                                  |
|-------------------------|--------------------------------------------|-----------------------------------------------|
| append(df)              | write.mode('append').partitionBy(g, b)     | df.writeTo(tbl).append()                      |
| overwrite_partitions(df)| dynamic partitionOverwriteMode + overwrite | df.writeTo(tbl).overwritePartitions()         |
| read()                  | spark.read.parquet(root/triples)           | spark.table(tbl)                              |
| list_partitions()       | driver-side directory listing              | SELECT ... FROM tbl.partitions (metadata)     |
| file_counts(graph, b)   | parquet FOOTER num_rows per file           | tbl.files metadata table (record_count)       |
| record_buckets(n)       | `_layout.json` beside the table            | partition spec `bucket(n, subj)` at CREATE    |
| n_buckets()             | read `_layout.json` (older stores: derive  | tbl.spec() bucket transform width             |
|                         | from manifest rows, check, then record)    |                                               |
| snapshot_id()           | sorted `_manifest` file names              | tbl.currentSnapshot().snapshotId()            |
| point_read(g, subjects) | driver reads the subjects' bucket files,   | tbl.newScan().filter(graph = g AND subj IN    |
|                         | skipping row groups by subj min/max        | (...)) — bucket + metrics pruning, no Spark   |

Semantics the conformance suite asserts on BOTH sides of the swap:

1. append adds files only — pre-existing files stay byte-identical
   (Iceberg: a new snapshot referencing old manifests + new data files).
2. overwrite_partitions touches ONLY the partitions present in the
   incoming frame; all other partitions stay byte-identical (Iceberg:
   REPLACE of matching partition tuples in one commit).
3. partition pruning: a (graph, bucket) predicate must prune at the
   scan (PartitionFilters in the plan; Iceberg: partition-spec pruning
   via manifests) — a store read that scans every partition for a
   single-bucket lookup fails conformance.
4. commit visibility: the emulation's unit of atomicity is the
   partition directory guarded by the manifest write-ahead protocol
   (pending -> data -> verify -> done, materialize.compact_store);
   Iceberg's is the whole-table snapshot. The conformance test asserts
   the PROTOCOL (every overwrite is bracketed by pending/done with a
   verified row count), which holds trivially under snapshot isolation.
5. lineage/snapshots: per-stage manifest rows (stage, partition_range,
   row_count, status) must reconstruct what changed when — the
   emulation's `_manifest` parquet; Iceberg's snapshots + summary.
   Every committed write appends a manifest file, so the set of manifest
   file names changes exactly when the table does: that set is the
   emulation's snapshot id, which request-serving caches key on.
6. point reads: `point_read` returns exactly the rows a Spark filter on
   (graph, subj IN ...) returns, touching only the subjects' buckets.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

LAYOUT_FILE = "_layout.json"


class ParquetStoreAdapter:
    """The parquet emulation of the Iceberg triple table. All physical
    IO of materialize.py flows through these methods."""

    partition_cols = ("graph", "bucket")

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.root = out_dir
        self.path = os.path.join(out_dir, "triples")
        self._derived: tuple | None = None  # (snapshot, derived n_buckets)

    # -- writes ---------------------------------------------------------
    def append(self, df: DataFrame) -> None:
        """Add data files without touching existing ones (Iceberg:
        writeTo(...).append() — fast-append snapshot)."""
        df.write.mode("append").partitionBy(*self.partition_cols).parquet(self.path)

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Replace exactly the partitions present in `df` (Iceberg:
        writeTo(...).overwritePartitions() — dynamic REPLACE commit)."""
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.write.mode("overwrite").partitionBy(*self.partition_cols).parquet(self.path)

    # -- reads ----------------------------------------------------------
    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def exists(self) -> bool:
        return os.path.exists(self.path)

    # -- metadata (Iceberg: the partitions / files metadata tables) -----
    def list_partitions(self) -> list[tuple[str, int, int]]:
        """(graph, bucket, n_files) per live partition — a metadata-only
        operation (Iceberg reads it from manifests; the emulation lists
        directories on the driver, no data IO)."""
        out: list[tuple[str, int, int]] = []
        if not os.path.exists(self.path):
            return out
        for gdir in sorted(os.listdir(self.path)):
            if not gdir.startswith("graph="):
                continue
            for bdir in sorted(os.listdir(os.path.join(self.path, gdir))):
                if not bdir.startswith("bucket="):
                    continue
                full = os.path.join(self.path, gdir, bdir)
                n = sum(1 for f in os.listdir(full) if f.endswith(".parquet"))
                out.append((gdir.split("=", 1)[1], int(bdir.split("=", 1)[1]), n))
        return out

    def file_counts(self, graph: str, bucket: int) -> dict[str, int]:
        """Per-file row counts from parquet footers (Iceberg: the files
        metadata table's record_count) — no column data scanned."""
        from .materialize import _parquet_footer_counts

        return _parquet_footer_counts(
            os.path.join(self.path, f"graph={graph}", f"bucket={bucket}")
        )

    def partition_dir(self, graph: str, bucket: int) -> str:
        return os.path.join(self.path, f"graph={graph}", f"bucket={bucket}")

    def record_buckets(self, n_buckets: int) -> None:
        """Record the table's bucket count on its first bucketed write
        (Iceberg: the partition spec). Every later write must bucket with
        the same count — rows hashed with another count land in buckets a
        point read never visits — so a mismatch raises, also against a
        table written before counts were recorded."""
        have = self.n_buckets()
        if have is None:
            if self.exists() and not self._buckets_agree(n_buckets):
                raise ValueError(
                    f"store {self.root} holds rows not bucketed by {n_buckets}"
                )
            self._write_layout(n_buckets)
        elif have != n_buckets:
            raise ValueError(
                f"store {self.root} is bucketed by {have}, not {n_buckets}"
            )

    def _recorded_buckets(self) -> int | None:
        try:
            with open(os.path.join(self.root, LAYOUT_FILE)) as f:
                return int(json.load(f)["n_buckets"])
        except FileNotFoundError:
            return None

    def _write_layout(self, n_buckets: int) -> None:
        os.makedirs(self.root, exist_ok=True)
        fd, tmp = tempfile.mkstemp(prefix=f".{LAYOUT_FILE}.", dir=self.root)
        with os.fdopen(fd, "w") as f:
            json.dump({"n_buckets": int(n_buckets)}, f)
        os.replace(tmp, os.path.join(self.root, LAYOUT_FILE))

    def n_buckets(self) -> int | None:
        """The bucket count the table was written with, or None when it
        cannot be established. A table written before counts were
        recorded takes it from its lineage manifest — a write_triples
        stage logs one row per bucket of range(n_buckets), every other
        stage only buckets below that — once the count is checked
        against the rows themselves (`_buckets_agree`); it is then
        recorded. The derivation is cached per snapshot."""
        n = self._recorded_buckets()
        if n is not None or not self.exists():
            return n
        snap = self.snapshot_id()
        if self._derived is None or self._derived[0] != snap:
            n = self._manifest_buckets()
            if n is not None and not self._buckets_agree(n):
                n = None
            if n is not None:
                try:
                    self._write_layout(n)
                except OSError:
                    pass  # a read-only store keeps serving from the cache
            self._derived = (snap, n)
        return self._derived[1]

    def _manifest_buckets(self) -> int | None:
        import pyarrow.parquet as pq

        if not self.snapshot_id():
            return None
        ranges = pq.read_table(
            os.path.join(self.root, "_manifest"), columns=["partition_range"]
        ).column(0).to_pylist()
        buckets = [int(r) for r in ranges if r is not None and r.isdigit()]
        return max(buckets) + 1 if buckets else None

    def _buckets_agree(self, n_buckets: int) -> bool:
        """Whether the table's rows sit where `n_buckets` puts them: no
        bucket directory at or past the count, and the first subjects of
        (up to) 8 partitions spread over the table hash to their own
        bucket. A count that divides the true one and passes the first
        test answers point reads correctly, so it need not be caught."""
        import pyarrow.parquet as pq

        from .ops.hashing import spark_bucket

        parts = self.list_partitions()
        if any(b >= n_buckets for _, b, _ in parts):
            return False
        for g, b, _ in parts[:: max(1, len(parts) // 8)]:
            d = self.partition_dir(g, b)
            names = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            if not names:
                continue
            with pq.ParquetFile(os.path.join(d, names[0])) as pf:
                batch = next(pf.iter_batches(batch_size=64, columns=["subj"]), None)
            subs = set() if batch is None else set(batch.column(0).to_pylist())
            if any(spark_bucket(s, n_buckets) != b for s in subs if s is not None):
                return False
        return True

    def snapshot_id(self) -> tuple[str, ...]:
        """Identity of the committed table state: the sorted names of the
        manifest files (every committed write appends one). A metadata
        listing, no data IO (Iceberg: the current snapshot id)."""
        try:
            names = os.listdir(os.path.join(self.root, "_manifest"))
        except FileNotFoundError:
            return ()
        return tuple(sorted(n for n in names if n.endswith(".parquet")))

    def point_read(self, graph: str, subjects):
        """(subj, pred, obj) rows of `graph` whose subj is one of
        `subjects`, as a pyarrow Table — read on the driver, no Spark
        job. Each subject's bucket is computed with the driver-side port
        of Spark's xxhash64, only those partition directories are listed
        and opened, and within each file only row groups whose subj
        min/max statistics can hold a wanted subject are read (the files
        are subj-sorted, materialize.write_triples)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from .ops.hashing import spark_bucket

        n = self.n_buckets()
        if n is None:
            raise RuntimeError(
                f"store {self.root} has no established bucket count "
                f"({LAYOUT_FILE} or manifest write rows); read it with a Spark filter"
            )
        by_bucket: dict[int, list[str]] = {}
        for s in dict.fromkeys(subjects):
            by_bucket.setdefault(spark_bucket(s, n), []).append(s)
        cols = ["subj", "pred", "obj"]
        parts = []
        for b, subs in sorted(by_bucket.items()):
            d = self.partition_dir(graph, b)
            try:
                names = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            except FileNotFoundError:
                continue  # no row of this graph hashes to the bucket
            want = pa.array(subs, pa.string())
            for name in names:
                with pq.ParquetFile(os.path.join(d, name)) as pf:
                    i = pf.metadata.schema.names.index("subj")
                    groups = [
                        g for g in range(pf.num_row_groups)
                        if _may_hold(pf.metadata.row_group(g).column(i).statistics, subs)
                    ]
                    if groups:
                        t = pf.read_row_groups(groups, columns=cols)
                        parts.append(t.filter(pc.is_in(t["subj"], value_set=want)))
        if not parts:
            return pa.table({c: pa.array([], pa.string()) for c in cols})
        return pa.concat_tables(parts)


def _may_hold(stats, subjects: list[str]) -> bool:
    """Row-group pruning test: False only when the group's subj min/max
    statistics exclude every wanted subject. Parquet orders strings by
    UTF-8 bytes, which is Python's code-point order; truncated statistics
    only widen the range, so they never prune a wanted row."""
    if stats is None or not stats.has_min_max:
        return True
    lo, hi = stats.min, stats.max
    return any(lo <= s <= hi for s in subjects)
