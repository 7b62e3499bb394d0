"""The benchmark workloads.

Each workload function takes a ``Run`` (Spark session factory, seed, run
length, tracer, work directory) and returns a ``Result``: its set-up time,
the wall time and item count of every timed operation, the checks it made,
the workload's named figures, and in traced runs the per-layer figures.
Why each workload exists is recorded in NOTES.md.

Every timed operation is checked. A failed check or request counts in
``Result.failed``; nothing is retried and nothing is worked around.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

import host

# The store is rehomed to a namespace-shaped base so the agents' registry
# can route requests to it by IRI, as a deployed server does.
NAMESPACE = "http://www.theworldavatar.com/citieskg/namespace/central/sparql"

IMPORT_DOCS = 20        # corpus of one import_bulk pass
READ_DOCS = 12          # corpus of the serve_read store
READ_CLIENTS = 1        # two made each run's median vary 24 % (NOTES.md)
REQUEST_IRIS = 8
SEARCH_RADIUS_M = 500.0
REQUEST_TIMEOUT_S = 120.0  # a failed request counts as taking this long
# 70 % object information, 20 % pairwise distance, 10 % distance filter;
# every client walks its own seeded order of this pattern, so each run
# sends the same mix
ROUTE_PATTERN = ("info",) * 7 + ("distance",) * 2 + ("filter",)
ROUTES = ("info", "distance", "filter")


@dataclass
class Result:
    setup_s: float
    op_walls: list[float] = field(default_factory=list)
    op_items: list[int] = field(default_factory=list)
    timed_wall_s: float = 0.0
    timed_cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append("check failed: " + what)


@dataclass
class Run:
    seed: int
    seconds: float
    tracer: object
    work: str
    start_spark: object  # () -> SparkSession
    started: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Progress line on stderr: where the run's wall time goes."""
        print(f"perfbench: {name} done at {time.perf_counter() - self.started:.1f} s",
              file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def rng(self, salt: str) -> random.Random:
        return random.Random(f"{self.seed}:{salt}")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); (0, 0) with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return 0.0, 0.0
    # ten samples lie above index n - 11 of the sorted list
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


def _timed_loop(seconds: float, op) -> float:
    """Run ``op`` until ``seconds`` have passed, at least once; returns the
    wall time of the loop."""
    t0 = time.perf_counter()
    while True:
        op()
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# input staging
# ---------------------------------------------------------------------------

def _doc_ids(run: Run, salt: str, n: int) -> list[int]:
    return sorted(run.rng(salt).sample(range(1, 10_000_000), n))


def _stage_docs(spark, dirpath: str, ids: list[int]):
    """Write the raw documents table for ``ids`` (doc_id, source), derive
    the span-shaped docs from it with fixtures.synth_docs and stage them as
    parquet, the import's input table; returns the staged docs."""
    from citykg import fixtures

    spark.createDataFrame(
        [(d, "web") for d in ids], "doc_id bigint, source string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(dirpath, "documents.parquet"))
    out = os.path.join(dirpath, "docs")
    fixtures.synth_docs(spark, dirpath).repartition(4).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def _setup(run: Run, layer: dict, stage):
    """Start Spark, then ``stage(spark, dir)`` the inputs; returns (spark,
    staged value, seconds taken). The JVM starts once per process, so set-up
    is measured once per run; the benchmark reports its median over runs."""
    t0 = time.perf_counter()
    with run.tracer.span("session.get_spark"):
        spark = run.start_spark()
    layer["get_spark_s"] = time.perf_counter() - t0
    staged = stage(spark, run.path("input"))
    return spark, staged, time.perf_counter() - t0


def _import(spark, run: Run, docs, out_dir: str, traced: bool = False) -> None:
    """The bulk import path (submit_pipeline.py --bulk): build_triples with
    exact linking and rehoming, one single-pass write, then the geometry
    datatype registry."""
    from citykg import canon, extract, fixtures, link, materialize, pipeline

    tr = run.tracer if traced else None
    targets = [
        (extract, "extract_triples", "extract.extract_triples", True),
        (link, "entity_mentions", "link.entity_mentions", True),
        (link, "link_exact", "link.link_exact", True),
        (canon, "rehome_iris", "canon.rehome_iris", True),
    ]
    if tr is None:
        triples = pipeline.build_triples(
            spark, docs, gazetteer=fixtures.synth_gazetteer(spark), rehome_to=NAMESPACE
        )
        materialize.write_triples(spark, triples, out_dir, bucket_group=None)
        materialize.write_geometry_datatype_registry(
            spark, materialize.read_triples(spark, out_dir), out_dir
        )
        return
    try:
        with tr.span("import_pass"):
            with tr.patched(targets):
                triples = pipeline.build_triples(
                    spark, docs, gazetteer=fixtures.synth_gazetteer(spark), rehome_to=NAMESPACE
                )
            tr.call("materialize.write_triples", materialize.write_triples,
                    spark, triples, out_dir, bucket_group=None)
            tr.call("materialize.write_geometry_datatype_registry",
                    materialize.write_geometry_datatype_registry,
                    spark, materialize.read_triples(spark, out_dir), out_dir)
    finally:
        tr.release()


# ---------------------------------------------------------------------------
# import_bulk
# ---------------------------------------------------------------------------

def import_bulk(run: Run) -> Result:
    from pyspark.sql import functions as F

    from citykg import fixtures, link, materialize, pipeline

    layer: dict[str, float] = {}
    ids = _doc_ids(run, "import", IMPORT_DOCS)
    spark, docs, setup_s = _setup(run, layer, lambda sp, d: _stage_docs(sp, d, ids))
    res = Result(setup_s=setup_s, layer=layer)

    # warm-up: the in-memory plan's per-graph counts, which the checks
    # compare every written store against; running it first compiles the
    # extraction and linking code the timed passes reuse
    want = {
        r.graph: r.n
        for r in pipeline.build_triples(
            spark, docs, gazetteer=fixtures.synth_gazetteer(spark), rehome_to=NAMESPACE
        ).groupBy("graph").agg(F.count("*").alias("n")).collect()
    }
    n_triples = sum(want.values())

    stores: list[str] = []

    def one(traced: bool) -> float:
        out = run.path(f"store{len(stores)}")
        stores.append(out)
        t = time.perf_counter()
        _import(spark, run, docs, out, traced)
        return time.perf_counter() - t

    def untraced():
        res.op_walls.append(one(False))
        res.op_items.append(IMPORT_DOCS)

    run.phase("set-up and warm-up")
    traced = run.tracer.enabled
    cpu0 = host.tree_cpu_s()
    res.timed_wall_s = _timed_loop(run.seconds / 2 if traced else run.seconds, untraced)
    res.timed_cpu_s = host.tree_cpu_s() - cpu0
    if traced:
        # as many traced passes again; the difference of the medians is
        # the tracing overhead
        traced_walls: list[float] = []
        _timed_loop(run.seconds / 2, lambda: traced_walls.append(one(True)))
        layer["trace_overhead_s"] = _median(traced_walls) - _median(res.op_walls)
    run.phase("timed loop")

    fp = host.store_footprint(stores[0])
    for out in stores:
        got = {
            r.graph: r.n
            for r in materialize.read_triples(spark, out)
            .groupBy("graph").agg(F.count("*").alias("n")).collect()
        }
        res.check(got == want, f"store {os.path.basename(out)} per-graph counts")
        shutil.rmtree(out, ignore_errors=True)
    res.named["import_docs_per_s"] = (IMPORT_DOCS / _median(res.op_walls), "1/s")
    res.named["store_bytes_per_triple"] = (fp["bytes"] / n_triples, "B")
    res.named["store_files"] = (fp["files"], "count")

    if traced:
        tr = run.tracer
        spans_in = docs.select(F.sum(F.size("spans"))).first()[0]
        mentions = tr.last_attrs("link.entity_mentions").get("rows", 0)
        layer.update({
            "extract_triples_s": tr.median_self("extract.extract_triples"),
            "spans_in": spans_in,
            "triples_out": tr.last_attrs("extract.extract_triples").get("rows", 0),
            "link_exact_s": tr.median_self("link.link_exact"),
            "mentions_in": mentions,
            "rehome_iris_s": tr.median_self("canon.rehome_iris"),
            "write_triples_s": tr.median_self("materialize.write_triples"),
            "geometry_registry_s": tr.median_self("materialize.write_geometry_datatype_registry"),
            "files_written": fp["files"],
            "partitions_written": fp["partitions"],
            "bytes_written": fp["bytes"],
            "bytes_per_file": fp["bytes"] / max(fp["files"], 1),
        })
        m = link.entity_mentions(docs)
        layer["distinct_texts"] = m.select(F.lower("mention")).distinct().count()
        linked = link.link_exact(m, fixtures.synth_gazetteer(spark)).where(
            F.col("entity_id").isNotNull()).count()
        layer["linked_ratio"] = linked / max(mentions, 1)
    return res


# ---------------------------------------------------------------------------
# the serving workloads
# ---------------------------------------------------------------------------

def _post(port: int, route: str, body: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{route}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=REQUEST_TIMEOUT_S) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def _serve_setup(run: Run, layer: dict, n_docs: int):
    """Stage a corpus, build its store with the import path, register the
    store with a long-lived registry and start the HTTP server on it."""
    from citykg import agents, materialize

    ids = _doc_ids(run, "serve", n_docs)

    def stage(spark, d):
        # the store is built exactly as import_bulk builds one
        _import(spark, run, _stage_docs(spark, d, ids), run.path("store"))

    spark, _, staged_s = _setup(run, layer, stage)
    t0 = time.perf_counter()
    store = run.path("store")
    registry = agents.StoreRegistry(spark)
    registry.register(NAMESPACE, store_dir=store)
    server = agents.serve(spark, materialize.read_triples(spark, store), registry=registry)
    return spark, store, server, staged_s + time.perf_counter() - t0


def _centroid(envelope: str) -> tuple[float, float]:
    v = [float(x) for x in envelope.split("#")]
    n = len(v) // 3 - 1  # ring points without the closing one
    cx = cy = 0.0
    for i in range(n):
        cx += v[3 * i]
        cy += v[3 * i + 1]
    return cx / n, cy / n


def serve_read(run: Run) -> Result:
    from pyspark.sql import functions as F

    from citykg import agents, materialize

    layer: dict[str, float] = {}
    spark, store, server, setup_s = _serve_setup(run, layer, READ_DOCS)
    res = Result(setup_s=setup_s, layer=layer)
    port = server.server_port
    try:
        # expected answers, from the store as written
        rows = (
            materialize.read_triples(spark, store)
            .where(F.col("graph") == "cityobject")
            .select("subj", "pred", "obj").collect()
        )
        attrs: dict[str, list] = {}
        cent: dict[str, tuple[float, float]] = {}
        for r in rows:
            if r.pred == "ocgml:EnvelopeType":
                cent[r.subj] = _centroid(r.obj)
            else:
                attrs.setdefault(r.subj, []).append((r.pred, r.obj))
        pool = sorted(cent)

        def expect(route, iris):
            if route == "info":
                return sorted([i, p, o] for i in iris for p, o in attrs.get(i, []))
            if route == "distance":
                out = []
                for a in range(len(iris)):
                    for b in range(a + 1, len(iris)):
                        (ax, ay), (bx, by) = cent[iris[a]], cent[iris[b]]
                        out.append(((ax - bx) * (ax - bx) + (ay - by) * (ay - by)) ** 0.5)
                return out
            near = []
            for q in iris:
                qx, qy = cent[q]
                for n, (cx, cy) in cent.items():
                    d2 = (cx - qx) * (cx - qx) + (cy - qy) * (cy - qy)
                    if n != q and d2 <= SEARCH_RADIUS_M * SEARCH_RADIUS_M:
                        near.append((q, n, d2 ** 0.5))
            return sorted(near)

        def request(route, iris):
            if route == "info":
                return "/cityobjectinformation", {"iris": iris}
            if route == "distance":
                return "/distance", {"iris": iris}
            return "/cityobjectinformation", {"iris": iris, "searchDistance": SEARCH_RADIUS_M}

        def answer(route, body):
            if route == "info":
                return sorted(
                    [e["iri"], a["pred"], a["obj"]]
                    for e in body["cityobjectinformation"] for a in e["attributes"])
            if route == "distance":
                return body["distances"]
            return sorted(
                (e["query_iri"], e["neighbor_iri"], e["dist_m"]) for e in body["distanceFilter"])

        def matches(route, got, want):
            if route == "info":
                return got == want
            if len(got) != len(want):
                return False
            if route == "distance":
                return all(g is not None and abs(g - w) < 1e-5 for g, w in zip(got, want))
            return all(g[:2] == w[:2] and abs(g[2] - w[2]) < 1e-5 for g, w in zip(got, want))

        def judge(raw):
            """(route, latency, ok, rows out) per request; run after the
            timed loop so checking costs the clients nothing."""
            out = []
            for route, iris, lat, status, body in raw:
                ok = status == 200 and matches(route, answer(route, body), expect(route, iris))
                out.append((route, lat, ok, len(answer(route, body)) if ok else 0))
            return out

        raw: list = []
        lock = threading.Lock()

        def client(idx: int, seconds: float, sink):
            rng = run.rng(f"client{idx}:{len(sink)}")
            order = rng.sample(ROUTE_PATTERN, len(ROUTE_PATTERN))
            t_end = time.perf_counter() + seconds
            for k in itertools.count():
                if time.perf_counter() >= t_end:
                    return
                route = order[k % len(order)]
                iris = rng.sample(pool, REQUEST_IRIS)
                path, body = request(route, iris)
                t = time.perf_counter()
                status, out = _post(port, path, body)
                lat = time.perf_counter() - t
                with lock:
                    sink.append((route, iris, lat, status, out))

        def closed_loop(seconds: float, sink):
            threads = [threading.Thread(target=client, args=(i, seconds, sink))
                       for i in range(READ_CLIENTS)]
            t = time.perf_counter()
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            return time.perf_counter() - t

        # warm-up, untimed: the request pattern once over, so the JIT has
        # compiled the request path before timing starts
        warm = run.rng("warm-up")
        for route in ROUTE_PATTERN:
            path, body = request(route, warm.sample(pool, REQUEST_IRIS))
            _post(port, path, body)
        run.phase("set-up and warm-up")

        traced = run.tracer.enabled
        cpu0 = host.tree_cpu_s()
        wall = closed_loop(run.seconds / 2 if traced else run.seconds, raw)
        res.timed_cpu_s = host.tree_cpu_s() - cpu0
        if traced:
            tr = run.tracer
            # opening and scanning the whole store once
            tr.call("materialize.read_triples", materialize.read_triples, spark, store)
            # the registry hands out its cached frame; forcing it would
            # scan the store on every request
            targets = [
                (agents.StoreRegistry, "resolve", "agents.registry_resolve", False),
                (agents.CityInformationAgent, "info_frame", "agents.info", True),
                (agents.CityInformationAgent, "distance_filter_frame", "agents.filter", True),
                (agents.DistanceAgent, "distances_frame", "agents.distance", True),
            ]
            traced_raw: list = []
            with tr.patched(targets):
                closed_loop(run.seconds / 2, traced_raw)
            tr.release()
            rows_out: dict[str, list[int]] = {}
            for route, lat, ok, n_out in judge(traced_raw):
                res.check(ok, f"{route} response (traced) equals the store")
                if ok:
                    rows_out.setdefault(route, []).append(n_out)
            layer.update({
                "read_triples_s": tr.median_self("materialize.read_triples"),
                "registry_resolve_s": tr.median_self("agents.registry_resolve"),
                "info_s": tr.median_self("agents.info"),
                "distance_s": tr.median_self("agents.distance"),
                "filter_s": tr.median_self("agents.filter"),
                "trace_overhead_s": (
                    _median([r[2] for r in traced_raw]) - _median([r[2] for r in raw])),
            })
            for route in ROUTES:
                layer[f"{route}_rows_out"] = _median(rows_out.get(route, []))
        run.phase("timed loop")
        samples = judge(raw)
    finally:
        server.shutdown()
        server.server_close()

    res.timed_wall_s = wall
    for route, lat, ok, _ in samples:
        res.check(ok, f"{route} response equals the store")
        res.op_walls.append(lat if ok else REQUEST_TIMEOUT_S)
        res.op_items.append(1 if ok else 0)
    ok_lat = {r: [lat for rr, lat, ok, _ in samples if rr == r and ok] for r in ROUTES}
    tail, pct = _tail(res.op_walls)
    res.named.update({
        "info_p50_ms": (1000 * _median(ok_lat["info"]), "ms"),
        "distance_p50_ms": (1000 * _median(ok_lat["distance"]), "ms"),
        "filter_p50_ms": (1000 * _median(ok_lat["filter"]), "ms"),
        "read_tail_ms": (1000 * tail, "ms"),
        "read_tail_pct": (pct, "%"),
        "read_samples": (len(samples), "count"),
        "read_ok_per_s": (sum(1 for s in samples if s[2]) / wall, "1/s"),
    })
    return res


WORKLOADS = {
    "import_bulk": import_bulk,
    "serve_read": serve_read,
}
