"""The benchmark workloads.

Each workload is driven by one client in one process, closed loop: the
next operation starts when the previous one returns. A *pass* is a fixed
unit of work (every query of the list once, or the whole ingest scenario),
so every run measures the same mix whatever the host speed.

- ``doc_pipeline``: document queries over a generated corpus spread over
  more files than cores, with planted exact and near duplicates. A
  builder-heavy composition sits beside action-heavy Arrow-kernel queries,
  so builder, job-count and Python-boundary work all show here; the
  writers do no work.
- ``yelp_ingest``: the paper's pipeline. A ``run_batch`` backfill, then
  increments drained one at a time by ``run_streaming``, then one increment
  re-delivered under new file names, which must append nothing. The only
  workload that writes, and one with no Python plan node.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import shutil
import time

import gen

# A builder-heavy composition (fuzzy dedup: its builder runs the
# connected-components rounds as jobs), then action-heavy queries with Arrow
# kernels (five Python plan nodes between them).
DOC_QUERIES = [
    "near_dup_clusters_panel", "text_fingerprints_panel", "minhash_lsh_pairs_xxhash64",
    "incremental_dedup_panel",
]
DOMAINS = ("business", "review", "user")


def _cell(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", round(v, 9))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_cell(x) for x in v))
    return ("s", str(v))


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest: rows as sorted tuples of typed cells,
    columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in sorted(tuple(_cell(r[i]) for i in order) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def tree_digest(root: str) -> str:
    """Digest of every file under ``root``, for the byte-identity check."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


class Op:
    """One timed operation: its name, latency and whether it raised."""

    __slots__ = ("name", "seconds", "error")

    def __init__(self, name: str, seconds: float, error: str | None = None) -> None:
        self.name, self.seconds, self.error = name, seconds, error


class DocPipeline:
    """Document queries; each result is fetched to the client as Arrow."""

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.tr = work, seed, tracer
        self.data = os.path.join(work, "data")
        self.frames: dict = {}
        self.results: dict[str, list] = {name: [] for name in DOC_QUERIES}

    def generate(self) -> dict:
        planted = gen.gen_corpus(self.seed, self.data)
        self.exact = {tuple(sorted(p)) for p in planted["exact_pairs"]}
        self.near = {tuple(sorted(p)) for p in planted["near_pairs"]}
        return dict(gen.CORPUS, queries=len(DOC_QUERIES))

    def run_pass(self, spark) -> list[Op]:
        from yelp_business_data_pipeline_spark.plans import QUERIES

        sc = spark.sparkContext
        ops = []
        # A fixed order: a seed-dependent one moved first-use costs between
        # queries from run to run.
        for name in DOC_QUERIES:
            t0 = time.perf_counter()
            try:
                with self.tr.span(name, "bench"):
                    if self.tr.enabled:
                        sc.setJobGroup("perfbench-build", name)
                    with self.tr.span("plans.build", "plans"):
                        df = QUERIES[name].spark(spark, self.data)
                    if self.tr.enabled:
                        sc.setJobGroup("perfbench-exec", name)
                        with self.tr.span("plans.plan", "plans"):
                            df._jdf.queryExecution().executedPlan()
                    with self.tr.span("plans.exec", "plans"):
                        result = df.toArrow()
                ops.append(Op(name, time.perf_counter() - t0))
                self.frames[name] = df
                self.results[name].append(result)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                ops.append(Op(name, time.perf_counter() - t0, f"{type(e).__name__}: {e}"[:300]))
        if self.tr.enabled:
            sc.setJobGroup("perfbench-other", "")
        return ops

    def check(self, spark) -> tuple[list[str], dict]:
        """Every result is non-empty. A query with a DuckDB oracle twin in
        the registry must match it row for row; any other must read the
        same in every pass (after a single pass, when its plan runs a
        second time). The MinHash candidates hold every planted exact pair
        and at least 90% of the near pairs, and the near-duplicate clusters
        at least 90% of the planted documents."""
        failures, digests = [], {}
        for name in DOC_QUERIES:
            results = self.results[name]
            if not results:
                failures.append(f"{name}: never ran")
                continue
            cols, rows = _rows(results[0])
            digests[name] = digest(cols, rows)
            if not rows:
                failures.append(f"{name}: empty result")
            oracle = self._oracle(name)
            if oracle is not None and oracle != digests[name]:
                failures.append(f"{name}: digest {digests[name]}, DuckDB oracle {oracle}")
            if oracle is None and len(results) == 1:
                results.append(self.frames[name].toArrow())
            for again in {digest(*_rows(t)) for t in results[1:]} - {digests[name]}:
                failures.append(f"{name}: digest {digests[name]} in one pass, {again} in another")
            if name == "minhash_lsh_pairs_xxhash64":
                found = {tuple(sorted((r[0], r[1]))) for r in rows}
                exact = len(self.exact & found) / len(self.exact)
                near = len(self.near & found) / len(self.near)
                if exact < 1.0 or near < 0.9:
                    failures.append(f"{name}: recall exact {exact:.3f} near {near:.3f}")
            if name == "near_dup_clusters_panel":
                size, docs = cols.index("cluster_size"), cols.index("n_docs")
                clustered = sum(r[docs] for r in rows if r[size] > 1)
                planted = 2 * (len(self.exact) + len(self.near))
                if clustered < 0.9 * planted:
                    failures.append(f"{name}: {clustered} documents clustered, {planted} planted")
        return failures, digests

    def _oracle(self, name: str) -> str | None:
        """Digest of the query's DuckDB oracle twin over the corpus, or None
        if the registry holds no twin (a twin moved off the driver's gate
        stays in ``DEMOTED_ORACLES``)."""
        import duckdb

        from yelp_business_data_pipeline_spark.plans import QUERIES
        from yelp_business_data_pipeline_spark.plans.registry import DEMOTED_ORACLES

        sql = QUERIES[name].oracle or DEMOTED_ORACLES.get(name)
        if sql is None:
            return None
        con = duckdb.connect()
        try:
            parts = os.path.join(self.data, "documents.parquet", "*.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{parts}')")
            cur = con.execute(sql)
            return digest([c[0] for c in cur.description], cur.fetchall())
        finally:
            con.close()

    def records_per_pass(self) -> int:
        return gen.CORPUS["n_docs"] * len(DOC_QUERIES)


def _rows(table) -> tuple[list[str], list[tuple]]:
    return table.column_names, list(zip(*(c.to_pylist() for c in table.columns)))


class YelpIngest:
    """Backfill, increments and one re-delivery, into fresh tables per pass."""

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.tr = work, seed, tracer
        self.raw = os.path.join(work, "raw")
        self.passes = 0
        self.snapshots: list[list[tuple[str, dict]]] = []

    def generate(self) -> dict:
        self.expected = gen.gen_yelp(self.seed, self.raw)["expected"]
        self.raw_records = 0
        for f in glob.glob(os.path.join(self.raw, "*", "*", "*.json")):
            with open(f, "rb") as fh:
                self.raw_records += fh.read().count(b"\n")
        return dict(gen.YELP, raw_records=self.raw_records, expected=self.expected[-1])

    def run_pass(self, spark) -> list[Op]:
        from yelp_business_data_pipeline_spark import pipeline as p

        base = os.path.join(self.work, f"pass{self.passes}")
        self.passes += 1
        out = os.path.join(base, "out")
        land = {d: os.path.join(base, "landing", d) for d in DOMAINS}
        for d in land.values():
            os.makedirs(d)
        backfill = p.YelpPaths(*(os.path.join(self.raw, "backfill", d) for d in DOMAINS), out_dir=out)
        stream = p.YelpPaths(*(land[d] for d in DOMAINS), out_dir=out)
        ckpt = os.path.join(base, "checkpoints")
        ops: list[Op] = []
        snaps: list[tuple[str, dict]] = []

        def timed(name: str, fn) -> None:
            t0 = time.perf_counter()
            try:
                with self.tr.span(name, "bench"):
                    fn()
                ops.append(Op(name, time.perf_counter() - t0))
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                ops.append(Op(name, time.perf_counter() - t0, f"{type(e).__name__}: {e}"[:300]))
            snaps.append((name, table_state(out)))

        def land_files(src: str) -> None:
            for d in DOMAINS:
                for f in sorted(glob.glob(os.path.join(src, d, "*.json"))):
                    shutil.copy(f, land[d])

        def batch() -> None:
            with self.tr.span("pipeline.batch", "pipeline"):
                p.run_batch(spark, backfill)

        def drain(src: str):
            def go() -> None:
                land_files(src)
                with self.tr.span("pipeline.drain", "pipeline"):
                    p.run_streaming(spark, stream, ckpt)

            return go

        timed("backfill", batch)
        for k in range(gen.YELP["n_increments"]):
            timed("increment", drain(os.path.join(self.raw, f"inc{k}")))
        timed("redelivery", drain(os.path.join(self.raw, "redelivery")))
        self.snapshots.append(snaps)
        return ops

    def check(self, spark) -> tuple[list[str], dict]:
        """Row counts after each step match what the generator planted, and
        the re-delivery leaves every table file untouched."""
        failures = []
        want = self.expected + [self.expected[-1]]
        for i, snaps in enumerate(self.snapshots):
            for step, ((name, state), exp) in enumerate(zip(snaps, want)):
                got = {t: state[t]["rows"] for t in exp}
                if got != exp:
                    failures.append(f"pass {i} {name} {step}: rows {got} != {exp}")
            last, redo = snaps[-2][1], snaps[-1][1]
            for t in ("business", "review", "user"):
                if redo[t]["files"] != last[t]["files"]:
                    failures.append(f"pass {i} redelivery appended to {t}")
        digests = {"final_rows": str(self.snapshots[-1][-1][1]["unified"]["rows"])} if self.snapshots else {}
        return failures, digests

    def records_per_pass(self) -> int:
        return self.raw_records


def parquet_files(path: str) -> dict[str, int]:
    """Every parquet data file under ``path`` with its size in bytes."""
    return {f: os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)}


def parquet_rows(files) -> int:
    """Rows in the given parquet files, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def table_state(out: str) -> dict:
    """Rows and the set of data files per table."""
    state = {}
    for t, sub in (("business", "business_processed"), ("review", "review_processed"),
                   ("user", "user_processed"), ("unified", "unified_analytics")):
        files = parquet_files(os.path.join(out, sub))
        state[t] = {"rows": parquet_rows(files), "files": frozenset(os.path.relpath(f, out) for f in files)}
    return state


WORKLOADS = {"doc_pipeline": DocPipeline, "yelp_ingest": YelpIngest}
