"""Storage-adapter conformance suite (r4 VERDICT item 6).

These tests pin exactly the semantics the parquet emulation shares with
a real Iceberg table (citykg/store.py documents the 1:1 method mapping).
An Iceberg-backed adapter must pass this module unchanged (minus the
file-path assertions, which read through adapter metadata methods only).
"""

import os

import pytest
from pyspark.sql import functions as F

from citykg import materialize
from citykg.store import ParquetStoreAdapter


def _frame(spark, subjects, graph="building", obj="v1"):
    return materialize.with_bucket(
        spark.createDataFrame(
            [(s, "ocgml:name", obj, "literal", None, graph, "d", 0, 0) for s in subjects],
            "subj string, pred string, obj string, obj_type string, "
            "datatype string, graph string, doc_id string, span_idx int, pos int",
        ),
        n_buckets=4,
    )


def _file_state(adapter):
    """(graph, bucket) -> sorted [(fname, size, mtime_ns)] — the byte-identity witness."""
    state = {}
    for g, b, _ in adapter.list_partitions():
        d = adapter.partition_dir(g, b)
        state[(g, b)] = sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d) if f.endswith(".parquet")
        )
    return state


@pytest.fixture()
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("conformance"))
    adapter = ParquetStoreAdapter(spark, out)
    adapter.overwrite_partitions(_frame(spark, [f"S{i}" for i in range(40)]))
    return adapter


def test_append_never_touches_existing_files(spark, store):
    """Conformance #1: append = new data files only; every pre-existing
    file stays byte-identical (Iceberg fast-append snapshot)."""
    before = _file_state(store)
    store.append(_frame(spark, ["S1", "S7"], obj="v2"))
    after = _file_state(store)
    for key, files in before.items():
        remaining = {f[0]: f for f in after[key]}
        for fname, size, mtime in files:
            assert fname in remaining and remaining[fname] == (fname, size, mtime), (
                f"append rewrote pre-existing file {fname} in {key}"
            )
    assert sum(len(v) for v in after.values()) > sum(len(v) for v in before.values())


def test_overwrite_touches_only_present_partitions(spark, store):
    """Conformance #2: dynamic overwrite replaces exactly the partitions
    present in the incoming frame; all others stay byte-identical."""
    before = _file_state(store)
    incoming = _frame(spark, ["S1"], obj="v3")
    touched = {(r.graph, r.bucket) for r in incoming.select("graph", "bucket").distinct().collect()}
    store.overwrite_partitions(incoming.sortWithinPartitions("graph", "bucket", "subj"))
    after = _file_state(store)
    for key in before:
        if key in touched:
            assert after[key] != before[key]
        else:
            assert after[key] == before[key], f"overwrite touched unrelated partition {key}"


def test_partition_pruning_at_scan(spark, store):
    """Conformance #3: a (graph, bucket) predicate must prune at the scan
    (PartitionFilters) — not filter after reading every partition."""
    df = store.read().where((F.col("graph") == "building") & (F.col("bucket") == 2))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:300]
    assert "bucket" in pf and "graph" in pf
    # the compaction group predicate shape — an OR-chain of per-column
    # equality conjunctions — must ALSO prune (the canonical portable
    # partition-filter shape; Spark 4.1 happens to prune the struct-isin
    # spelling too, but that support is newer — this pins the shape
    # compact_store actually emits)
    pred = ((F.col("graph") == "building") & (F.col("bucket") == 2)) | (
        (F.col("graph") == "building") & (F.col("bucket") == 3)
    )
    plan_or = store.read().where(pred)._jdf.queryExecution().executedPlan().toString()
    pf_or = plan_or.split("PartitionFilters", 1)[1][:400]
    assert "bucket" in pf_or and "graph" in pf_or


def test_metadata_ops_match_physical_state(spark, store):
    """Conformance #4: list_partitions / file_counts (the Iceberg
    partitions/files metadata tables) agree with a full read."""
    rows = store.read().groupBy("graph", "bucket").count().collect()
    physical = {(r.graph, r.bucket): r["count"] for r in rows}
    listed = {(g, b) for g, b, _ in store.list_partitions()}
    assert listed == set(physical)
    for (g, b), n in physical.items():
        assert sum(store.file_counts(g, b).values()) == n


def test_commit_protocol_brackets_every_compaction(spark, tmp_path_factory):
    """Conformance #5: every compaction overwrite is bracketed by a
    write-ahead `pending` row (expected count) and a verified `done` row
    — the emulation's unit of atomic visibility. Under Iceberg snapshot
    isolation the same protocol holds trivially (the verify reads the
    committed snapshot)."""
    out = str(tmp_path_factory.mktemp("protocol"))
    materialize.write_triples(
        spark, _frame(spark, [f"P{i}" for i in range(30)]), out, n_buckets=4
    )
    batch = _frame(spark, ["P3", "P5"], obj="v2")
    materialize.upsert_triples(spark, batch.drop("bucket"), out, n_buckets=4)
    compacted = materialize.compact_store(spark, out)
    assert compacted
    m = materialize.read_manifest(spark, out).where(F.col("stage") == "compact").collect()
    pend = {(r.partition_range, r.row_count) for r in m if r.status == "pending"}
    done = {(r.partition_range, r.row_count) for r in m if r.status == "done"}
    assert pend == done and len(pend) == len(compacted)
    # and the recorded counts match the physical footers
    adapter = ParquetStoreAdapter(spark, out)
    for pr, cnt in done:
        g, b = pr.split("/", 1)
        assert sum(adapter.file_counts(g, int(b)).values()) == cnt


def test_point_read_equals_spark_filter(spark, tmp_path_factory):
    """Conformance #6: point_read returns exactly the rows a Spark filter
    on (graph, subj IN ...) returns — across buckets, with absent and
    repeated subjects — and reads only the subjects' buckets."""
    from citykg.ops.hashing import spark_bucket

    out = str(tmp_path_factory.mktemp("point_read"))
    materialize.write_triples(
        spark, _frame(spark, [f"Q{i}" for i in range(60)]), out, n_buckets=4,
        bucket_group=None,
    )
    adapter = ParquetStoreAdapter(spark, out)
    assert adapter.n_buckets() == 4
    want = ["Q3", "Q17", "Q42", "NOPE", "Q3", "Q59"]
    assert len({spark_bucket(s, 4) for s in want}) > 1
    got = adapter.point_read("building", want)
    spark_rows = (
        adapter.read().where((F.col("graph") == "building") & F.col("subj").isin(want))
        .select("subj", "pred", "obj").collect()
    )
    assert sorted(zip(*(got.column(c).to_pylist() for c in ("subj", "pred", "obj")))) == sorted(
        map(tuple, spark_rows)
    )
    assert got.num_rows == 4  # Q3 once, NOPE absent
    assert adapter.point_read("cityobject", want).num_rows == 0


def test_bucket_count_is_recorded_and_enforced(spark, store, tmp_path_factory):
    """A store that records no bucket count cannot be point-read (an
    error, never an empty answer), and a write with another bucket count
    than the recorded one is refused."""
    with pytest.raises(RuntimeError, match="bucket count"):
        store.point_read("building", ["S1"])
    out = str(tmp_path_factory.mktemp("layout"))
    materialize.write_triples(spark, _frame(spark, ["R1", "R2"]), out, n_buckets=4)
    with pytest.raises(ValueError, match="bucketed by 4"):
        materialize.upsert_triples(spark, _frame(spark, ["R1"]).drop("bucket"), out, n_buckets=8)


def test_bucket_count_of_store_written_without_layout(spark, tmp_path_factory):
    """A store written before bucket counts were recorded takes its count
    from the write stage's manifest rows, checked against its rows, and
    records it; a later write with another count is refused. Upserts
    alone log only the buckets they touched, so their manifest bounds
    the count from below; a bound the rows contradict is not taken."""
    from citykg.ops.hashing import spark_bucket

    out = str(tmp_path_factory.mktemp("legacy"))
    materialize.write_triples(spark, _frame(spark, [f"L{i}" for i in range(30)]), out, n_buckets=4)
    layout = os.path.join(out, "_layout.json")
    os.remove(layout)
    adapter = ParquetStoreAdapter(spark, out)
    assert adapter.n_buckets() == 4 and os.path.exists(layout)
    assert adapter.point_read("building", ["L3", "L17"]).num_rows == 2
    os.remove(layout)
    with pytest.raises(ValueError, match="bucketed by 4"):
        materialize.upsert_triples(spark, _frame(spark, ["L1"]).drop("bucket"), out, n_buckets=8)

    out = str(tmp_path_factory.mktemp("upserted"))
    subs = [s for s in (f"U{i}" for i in range(200)) if spark_bucket(s, 8) < 5]
    assert max(spark_bucket(s, 8) for s in subs) == 4
    materialize.upsert_triples(spark, _frame(spark, subs).drop("bucket"), out, n_buckets=8)
    os.remove(os.path.join(out, "_layout.json"))
    adapter = ParquetStoreAdapter(spark, out)
    assert adapter.n_buckets() is None  # the manifest says 5; the rows say otherwise
    with pytest.raises(RuntimeError, match="bucket count"):
        adapter.point_read("building", subs[:2])
    with pytest.raises(ValueError, match="not bucketed by 5"):
        adapter.record_buckets(5)
    adapter.record_buckets(8)
    assert adapter.n_buckets() == 8
    assert adapter.point_read("building", subs[:2]).num_rows == 2


def test_snapshot_id_changes_with_every_committed_write(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("snapshots"))
    adapter = ParquetStoreAdapter(spark, out)
    assert adapter.snapshot_id() == ()
    materialize.write_triples(spark, _frame(spark, ["T1", "T2", "T3"]), out, n_buckets=4)
    s1 = adapter.snapshot_id()
    assert s1 and s1 == adapter.snapshot_id()
    materialize.upsert_triples(spark, _frame(spark, ["T2"], obj="v2").drop("bucket"), out, n_buckets=4)
    s2 = adapter.snapshot_id()
    assert s2 != s1
    materialize.delete_subjects(spark, out, ["T3"], n_buckets=4)
    assert adapter.snapshot_id() not in (s1, s2)


def test_xxhash64_port_matches_spark(spark):
    """The driver-side xxhash64 equals Spark's on strings of 0-100 UTF-8
    bytes and more — every branch of XXH64: the 32-byte stripes, 8-byte
    words, the 4-byte word and single-byte tail — including multi-byte
    characters; and its pmod bucket equals materialize.with_bucket's."""
    import random

    from citykg.ops.hashing import spark_bucket, xxhash64

    rng = random.Random(7)
    alphabet = "abcXYZ019/:#_-" + "éß" + "中文" + "😀"
    strs = [""] + ["".join(rng.choice(alphabet) for _ in range(n)) for n in range(1, 101)]
    strs += ["a" * n for n in range(0, 101)]  # every byte length 0..100
    strs += ["http://www.theworldavatar.com/citieskg/namespace/berlin/sparql/cityobject/UUID_x/"]
    df = spark.createDataFrame([(s,) for s in strs], "subj string")
    for n in (4, 7, 64):
        rows = materialize.with_bucket(df, n).withColumn("h", F.xxhash64("subj")).collect()
        for r in rows:
            assert xxhash64(r.subj) == r.h, r.subj
            assert spark_bucket(r.subj, n) == r.bucket, (r.subj, n)
