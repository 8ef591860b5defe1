"""The three workloads (``query_mix`` is run by hand only, see run.py).
Each is a single-process closed loop with one
client on ``local[4]``: the next request is sent when the previous one
has returned. A query is already one or more Spark jobs across all
cores, so a second client would measure Spark's FIFO scheduler rather
than the engine; batch throughput is measured through the engine's own
batch API instead.

Every workload reports every end-to-end metric of :data:`E2E`, measured
on its own operations (see README.md for the per-workload meaning).
Outputs are checked after the timed loop; oracle time and memory stay
out of every metric.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from concurrent.futures import Future, ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import corpus, gen, host, oracle
from perfbench.stats import median, summary
from perfbench.spans import Tracer

MASTER = "local[4]"
K = 10
# (name, unit, better, bound): bound is the share of the parent's
# median by which the metric may worsen before a change is rejected.
# Run-to-run host speed alone moves single-run timings 5-15 % on a shared
# 4-vCPU host, so the timings get the widest bound allowed.
E2E = (
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("read_p50_s", "s", "lower", 0.25),
    ("write_docs_per_s", "1/s", "higher", 0.25),
    ("index_bytes_per_input_byte", "ratio", "lower", 0.1),
    ("written_bytes_per_input_byte", "ratio", "lower", 0.1),
)

CODE_BUILD = dict(
    text_col="content", variant="code", docs_per_segment=4096, segs_per_shard=4,
    num_buckets=64, fused_merge=True,
)
# three rounds of the six read shapes (gen.read_queries), so AND and OR
# reads come once at each size; 8 reads gave a median that swung with
# host load and the seeded terms more than any other timing
READS_PER_BUILD = 18
WARMUP_READS = 4  # enough to warm the read path; the oracle checks them too
KERNEL_SAMPLE_BATCHES = 10  # x 2048 docs: the in-process tokenizer sample

QUERY_ATTRS = ("lang", "n_chars")
QUERY_BUILD = dict(
    text_col="text", variant="base", docs_per_segment=4096, segs_per_shard=4,
    num_buckets=32, fused_merge=True, positions=True, attr_cols=QUERY_ATTRS,
)
STREAM_ROUNDS = 60  # more than any --seconds <= 60 can consume
# per run at least: one round gives only 11 searches, whose median then
# swings with the seeded terms
QUERY_ROUNDS = 2

INGEST_DOCS = 800
CYCLES = 2  # per run at least
INGEST_FILES = 20  # staging files per cycle; 8 files make one epoch, so 3 epochs
DELETE_ROUNDS = 2
DELETE_SIZE = (1, 2)  # keeps purged dl mass under compact_incremental's 1% drift gate
READS_PER_MUTATION = 2
WARMUP_INGEST_DOCS = 200


class Run:
    """State of one benchmark run: counters, budget and the tracer."""

    def __init__(self, seed: int, seconds: float, tracer: Tracer, cache: str, work: str):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cache = cache
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.measured = 0.0
        self.metrics: dict[str, float] = {}
        self.detail: dict = {"phase_s": {}}
        self._mark = time.perf_counter()
        self._stopped: Future | None = None

    @property
    def failed(self) -> int:
        return len(self.failures)

    def more(self, done: int, at_least: int = 1) -> bool:
        """Whether to start another unit of work (a build, a round of
        requests, an ingest cycle). At least ``at_least`` units run; after
        that, another runs only while it brings the measured time nearer
        to ``--seconds``, so the work per run does not flip between n and
        n + 1 units with small changes in speed."""
        if done < at_least:
            return True
        return self.measured + self.measured / done / 2 < self.seconds

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def discard(self, path: str) -> None:
        """Delete ``path`` as soon as the run is done with it, between
        timed requests, and add the time to ``delete_s``. Where the disk
        discards freed blocks (a virtio disk mounted with ``discard``),
        deleting files the kernel has written back takes ~10 s per
        100 MB; files it has not yet written back go for almost nothing,
        so the sooner the better."""
        t = time.perf_counter()
        shutil.rmtree(path, ignore_errors=True)
        self.detail["delete_s"] = round(self.detail.get("delete_s", 0.0) + time.perf_counter() - t, 3)

    def close(self) -> None:
        """Wait for the session to stop, stopping it if the loop did not
        end."""
        if self._stopped is not None:
            self._stopped.result()
        self.stop_session()
        self.phase("cleanup")

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.detail["phase_s"][name] = round(now - self._mark, 3)
        self._mark = now

    def start_setup(self) -> float:
        self.phase("inputs")
        return time.perf_counter()

    def start_session(self):
        with self.tracer.span("session"):
            from xsearch_spark.session import get_spark

            self.spark = get_spark("perfbench", master=MASTER)
        self.tracer.attach(self.spark.sparkContext)
        self.phase("session")
        return self.spark

    def end_setup(self, t0: float) -> None:
        """Close the set-up that began at ``t0``: it is ``setup_s``."""
        self.metrics["setup_s"] = time.perf_counter() - t0
        self.phase("warmup")

    def note_peak_mem(self) -> None:
        """Peak memory by process role, read once: at the end of the loop,
        or earlier if oracle work is about to add to the driver's."""
        if "peak_mem_mb" not in self.detail:
            self.detail["peak_mem_mb"] = {k: round(v, 1) for k, v in host.tree_hwm_mb(os.getpid()).items()}

    def end_loop(self) -> None:
        """Close the measured part. The oracles need no Spark, so the
        session stops now, in the background while they run: stopping
        waits mostly on the JVM deleting its local dirs."""
        self.note_peak_mem()
        self.phase("loop")
        self.tracer.collect()

        def stop() -> None:
            t = time.perf_counter()
            self.stop_session()
            self.detail["stop_session_s"] = round(time.perf_counter() - t, 3)

        stopper = ThreadPoolExecutor(1)
        self._stopped = stopper.submit(stop)
        stopper.shutdown(wait=False)

    def stop_session(self) -> None:
        """Stop the session, then the JVM it launched, then any Python
        worker left behind, and wait for each to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        spark, self.spark = self.spark, None
        leftovers = [p for p in host.tree_pids(os.getpid()) if p != os.getpid()]
        gateway = SparkContext._gateway
        try:
            spark.stop()
        finally:
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                try:
                    gateway.shutdown()
                except Exception as e:  # the JVM may already be gone
                    print(f"perfbench: gateway shutdown: {e!r}", file=sys.stderr)
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        deadline = time.monotonic() + 20
        for pid in leftovers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


class Op:
    """One client request. Counts as attempted; an exception counts as
    failed and is reported, and the loop goes on. ``timed`` requests add
    their wall time to the run's measured budget."""

    def __init__(self, run: Run, op_id: str, family: str, timed: bool = True):
        self.run, self.op_id, self.family, self.timed = run, op_id, family, timed
        self.ok = False
        self.wall = 0.0

    def __enter__(self) -> "Op":
        self._span = self.run.tracer.span("op", op_id=self.op_id, family=self.family)
        self._span.__enter__()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, et, ev, tb) -> bool:
        self.wall = time.perf_counter() - self._t0
        self._span.__exit__(None, None, None)
        self.run.attempted += 1
        if self.timed:
            self.run.measured += self.wall
        self.run.tracer.collect()
        self.ok = et is None
        if et is None or not issubclass(et, Exception):
            return False
        traceback.print_exception(et, ev, tb, file=sys.stderr)
        self.run.fail(f"{self.op_id}: {et.__name__}: {ev}")
        return True


def vocab_of(table: pa.Table) -> tuple[gen.Vocab, float]:
    """Query vocabulary of a documents table, and its mean token count."""
    from xsearch_spark.functions.tokenize import tokenize_base_py

    streams = [tokenize_base_py(s) for s in table["text"].to_pylist()]
    mean_dl = sum(len(s) for s in streams) / max(1, len(streams))
    return gen.build_vocab(streams, table["lang"].to_pylist()), mean_dl


def read(run: Run, built, q: str, variant: str, op_id: str, timed: bool = True):
    """One plain top-k ``search_wand`` request."""
    from xsearch_spark.operators.wand import search_wand
    from xsearch_spark.plans.query import parse

    rows = parsed = None
    with Op(run, op_id, "read", timed) as op:
        with run.tracer.span("plans.query"):
            parsed = parse(q, variant)
        with run.tracer.span("operators.wand", family="read"):
            rows = search_wand(built, parsed, K).collect()
    return op, parsed, rows


def _finish(run: Run, *, ops: int, reads: list[float], write_docs_per_s: float,
            index_ratio: float, written_ratio: float) -> None:
    run.metrics.update(
        ops_per_s=ops / run.measured if run.measured else 0.0,
        read_p50_s=median(reads) or 0.0,
        write_docs_per_s=write_docs_per_s,
        index_bytes_per_input_byte=index_ratio,
        written_bytes_per_input_byte=written_ratio,
    )
    run.detail["read"] = summary(reads)


# --------------------------------------------------------------------------
# code_build: repeated full builds of the code index over 100 000 files


def code_build(run: Run) -> None:
    from xsearch_spark.plans.build_index import build_index, checkpoint_source_ids
    from xsearch_spark.sources.io import read_source

    code = corpus.code_files(run.cache)
    input_bytes = sum(
        corpus.text_bytes(b.column(0))
        for b in pq.ParquetFile(code).iter_batches(batch_size=8192, columns=["content"])
    )
    query_docs = pq.read_table(corpus.documents_slice(run.cache, corpus.QUERY_ROWS, "query_docs"))
    vocab, _ = vocab_of(query_docs)
    del query_docs
    reads = gen.read_queries(run.seed, vocab, READS_PER_BUILD)

    n_docs = pq.ParquetFile(code).metadata.num_rows

    t0 = run.start_setup()
    spark = run.start_session()
    src = read_source(spark, code)
    # a build of a 5 000-file slice warms the JVM and the Python workers
    # as well as a full build does, in half the time
    warm_dir = run.path("warmup")
    ids, n = checkpoint_source_ids(spark, read_source(spark, corpus.code_slice(run.cache)), warm_dir)
    warm = build_index(spark, ids, warm_dir, n_docs=n, **CODE_BUILD)
    warm_reads = []
    with run.tracer.paused():
        for j, q in enumerate(reads[:WARMUP_READS]):
            rop, _p, rows = read(run, warm, q, "code", f"warmup.read{j}", timed=False)
            if rop.ok:
                warm_reads.append((q, rows))
    run.end_setup(t0)
    # (name, the docs the build indexed, whether it is a full build, reads)
    builds = [("warmup", indexed_docs(run, warm_dir), False, warm_reads)]

    build_walls, read_walls, written = [], [], []
    digests: list[tuple[str, str]] = []  # (name, index rows digest)
    index_bytes = 0
    i = 0
    while run.more(i):
        out = run.path(f"build{i}")
        with Op(run, f"build#{i}", "build") as op:
            with run.tracer.span("sources.ids"):
                ids, n = checkpoint_source_ids(spark, src, out)
            with run.tracer.span("plans.build_index"):
                built = build_index(spark, ids, out, n_docs=n, **CODE_BUILD)
        if op.ok:
            build_walls.append(op.wall)
            written.append(host.dir_bytes(out))
            index = os.path.join(out, "index")
            index_bytes = index_bytes or host.dir_bytes(index)
            got = []
            for j, q in enumerate(reads):
                rop, _p, rows = read(run, built, q, "code", f"build#{i}.read{j}")
                if rop.ok:
                    read_walls.append(rop.wall)
                    got.append((q, rows))
            if run.tracer.enabled:
                cut = run.path(f"cut{i}")
                if segments_cut(run, ids, n, cut):
                    digests.append((f"cut{i}", oracle.index_digest(os.path.join(cut, "index"))))
                run.discard(cut)
            # only when another index of this run is compared with this one
            if run.tracer.enabled or i > 0 or run.more(i + 1):
                digests.append((f"build{i}", oracle.index_digest(index)))
            run.note_peak_mem()
            builds.append((f"build{i}", indexed_docs(run, out), True, got))
        else:
            run.discard(out)
        i += 1
    if run.tracer.enabled:
        kernel_probe(run, code)
    run.end_loop()

    check_code_builds(run, builds, digests, n_docs, input_bytes)
    run.phase("oracle")
    _finish(
        run,
        ops=len(build_walls) + len(read_walls),
        reads=read_walls,
        write_docs_per_s=n_docs / median(build_walls) if build_walls else 0.0,
        index_ratio=index_bytes / input_bytes,
        written_ratio=(median(written) or 0) / input_bytes,
    )
    run.detail.update(n_docs=n_docs, build_s=build_walls)


def indexed_docs(run: Run, out: str) -> pa.Table:
    """The docs a build under ``out`` indexed, with the doc_ids it
    assigned, read back from its ids checkpoint for the oracle; then
    ``out`` is deleted, as soon as nothing else needs it."""
    docs = pq.read_table(os.path.join(out, "source"), columns=["doc_id", "content", "lang"])
    run.discard(out)
    return docs


def check_code_builds(run: Run, builds: list, digests: list, n_docs: int, input_bytes: int) -> None:
    """Each build's reads against pyref (code analyzer) over the docs
    that build indexed: the warm-up slice and every full build. A full
    build's input must be the whole corpus, and every index built from it
    in this run, the traced segment cut's included, must hold the same
    rows."""
    from xsearch_spark.plans.query import parse

    for name, digest in digests[1:]:
        if digest != digests[0][1]:
            run.fail(f"index rows of {name} differ from those of {digests[0][0]}")
    for name, docs, full, got in builds:
        if full and (docs.num_rows, corpus.text_bytes(docs["content"])) != (n_docs, input_bytes):
            run.fail(f"{name} indexed {docs.num_rows} docs, not the corpus's {n_docs}")
        parsed = {q: parse(q, "code") for q, _rows in got}
        ref = oracle.code_reference(docs, list(parsed.values()))
        for q, rows in got:
            have = oracle.ranked((r["doc_id"], r["score"]) for r in rows)
            want = oracle.pyref_topk(ref, parsed[q], K)
            if not oracle.same_ranking(have, want):
                run.fail(f"read {q!r} on {name}: engine {have} != pyref {want}")


def segments_cut(run: Run, ids, n_docs: int, out: str) -> bool:
    """The build's segment layer on its own (traced runs only): pack
    with a persist barrier, then merge and write. Its index must equal
    the ``build_index`` one, so it is digest-checked too."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from xsearch_spark.operators import segments as seg

    with Op(run, f"cut:{os.path.basename(out)}", "build", timed=False) as op:
        with run.tracer.span("operators.segments") as sp:
            packed = seg.pack_from_source(
                ids, "content", "doc_id", "code", CODE_BUILD["docs_per_segment"],
                n_docs=n_docs, attr_cols=("lang",),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            row = packed.agg(F.sum("sum_tf").alias("s"), F.count(F.lit(1)).alias("runs")).collect()[0]
            sp.attrs["pack_runs"] = int(row["runs"])
        with run.tracer.span("operators.segments"):
            merged = seg.merge_to_index(
                packed, int(row["s"] or 0) / n_docs, CODE_BUILD["segs_per_shard"],
                CODE_BUILD["num_buckets"], n_runs=int(row["runs"]),
            )
            merged.write.mode("overwrite").partitionBy("bucket").parquet(os.path.join(out, "index"))
        packed.unpersist()
    return op.ok


def kernel_probe(run: Run, code: str) -> None:
    """The tokenize+count kernel in-process, on a seeded sample of
    2048-doc batches (traced runs only)."""
    import pandas as pd

    from xsearch_spark.operators.build import count_batch

    pf = pq.ParquetFile(code)
    n_batches = -(-pf.metadata.num_rows // 2048)
    rng = np.random.default_rng([run.seed, 4])
    pick = set(rng.choice(n_batches, size=min(KERNEL_SAMPLE_BATCHES, n_batches), replace=False).tolist())
    batches = [
        b.column(0).to_pandas()
        for i, b in enumerate(pf.iter_batches(batch_size=2048, columns=["content"]))
        if i in pick
    ]
    docs = sum(len(b) for b in batches)
    with run.tracer.span("operators.build", docs=docs):
        for b in batches:
            count_batch(b, pd.Series(np.arange(len(b), dtype=np.int64)), "code")


# --------------------------------------------------------------------------
# query_mix: a seeded stream of searches and result-page requests


def _page_call(built, parsed, req: dict):
    from xsearch_spark.operators import wand

    kind = req["kind"]
    if kind == "facet":
        return wand.facet_counts(built, parsed, "lang")
    if kind == "stats":
        return wand.field_stats(built, parsed, "n_chars")
    if kind == "histogram":
        return wand.facet_histogram(built, parsed, "n_chars", req["interval"])
    if kind in ("sorted", "sorted_cursor"):
        return wand.search_sorted(
            built, parsed, "n_chars", ascending=req["ascending"], k=K,
            offset=req.get("offset", 0), after=req.get("after"),
        )
    if kind == "collapse":
        return wand.search_collapse(built, parsed, "lang", k=K, per_value=req["per_value"])
    if kind == "after_topk":
        return wand.search_after_topk(built, parsed, K, after=req.get("after"))
    raise ValueError(f"unknown page kind {kind!r}")


def _bind_cursor(req: dict, last_sorted: tuple[dict, list] | None) -> dict:
    """Cursor requests page on from the latest sort-by-field page, as a
    user following 'next page' would."""
    req = dict(req)
    prev_req, rows = last_sorted or ({"ascending": False}, [])
    if req["kind"] == "sorted_cursor":
        req["ascending"] = prev_req["ascending"]
        req["after"] = (int(rows[-1]["sort_value"]), int(rows[-1]["doc_id"])) if rows else None
    elif req["kind"] == "after_topk" and rows:
        r = rows[min(2, len(rows) - 1)]
        req["after"] = (round(float(r["score"]), oracle.ROUND), int(r["doc_id"]))
    return req


def _query_request(run: Run, built, req: dict, op_id: str, timed: bool = True):
    from xsearch_spark.operators.wand import search_wand
    from xsearch_spark.plans.query import parse

    fam = req["family"]
    rows = parsed = None
    with Op(run, op_id, fam, timed) as op:
        with run.tracer.span("plans.query"):
            parsed = parse(req["q"], attr_fields=QUERY_ATTRS)
        with run.tracer.span("operators.wand", family=fam):
            df = search_wand(built, parsed, K) if fam == "search" else _page_call(built, parsed, req)
            rows = df.collect()
    return op, parsed, rows


def query_mix(run: Run) -> None:
    from xsearch_spark.operators.wand import search_wand_batch
    from xsearch_spark.plans.build_index import build_index
    from xsearch_spark.plans.query import parse
    from xsearch_spark.sources.io import read_documents

    docs_path = corpus.documents_slice(run.cache, corpus.QUERY_ROWS, "query_docs")
    table = pq.read_table(docs_path)
    n_docs, input_bytes = table.num_rows, corpus.text_bytes(table["text"])
    vocab, _ = vocab_of(table)
    del table
    stream = gen.query_mix_stream(run.seed, vocab, STREAM_ROUNDS)
    warm_stream = gen.query_mix_stream(run.seed + 10**6, vocab, 1)

    t0 = run.start_setup()
    spark = run.start_session()
    docs = read_documents(spark, os.path.dirname(docs_path))
    docs.count()
    # the session's first build: its wall includes the JIT and Python
    # worker start-up every fresh session pays, and it repeats closer run
    # to run than the fixed-cost-bound warm builds of 2000 docs do
    out = run.path("index")
    with run.tracer.span("plans.build_index"):
        tb = time.perf_counter()
        built = build_index(spark, docs, out, n_docs=n_docs, **QUERY_BUILD)
        build_s = time.perf_counter() - tb
    run.tracer.collect()
    last_sorted = None
    with run.tracer.paused():
        for i, req in enumerate(warm_stream):
            req = _bind_cursor(req, last_sorted) if req["family"] == "page" else req
            op, _p, rows = _query_request(run, built, req, f"warmup#{i}", timed=False)
            if op.ok and req.get("kind") == "sorted":
                last_sorted = (req, rows)
    run.end_setup(t0)

    walls: dict[str, list[float]] = {"search": [], "page": [], "batch": []}
    by_kind: dict[str, list[float]] = {}
    checks: list[tuple[dict, object, object]] = []  # (request, parsed, engine rows)
    searches: list[dict] = []
    last_sorted = None
    rounds = 0
    for i, req in enumerate(stream):
        # stop only between rounds, so every run asks the same family mix
        if req["family"] == "search" and req["shape"] == gen.SEARCH_SHAPES[0]:
            if not run.more(rounds, at_least=QUERY_ROUNDS):
                break
            rounds += 1
        fam = req["family"]
        if fam == "page":
            req = _bind_cursor(req, last_sorted)
        op, parsed, rows = _query_request(run, built, req, f"{fam}#{i}")
        if not op.ok:
            continue
        walls[fam].append(op.wall)
        kind = req["shape"] if fam == "search" else req["kind"]
        by_kind.setdefault(kind, []).append(op.wall)
        req = {**req, "kind": "search"} if fam == "search" else req
        checks.append((req, parsed, rows))
        if fam == "search":
            searches.append(req)
        elif req["kind"] == "sorted":
            last_sorted = (req, rows)

    # the search stream again, through the batch API
    replayed = 0
    for b, chunk in enumerate(gen.batches(searches)):
        rows = None
        with Op(run, f"batch#{b}", "batch") as op:
            with run.tracer.span("plans.query"):
                parsed = {str(j): parse(r["q"], attr_fields=QUERY_ATTRS) for j, r in enumerate(chunk)}
            with run.tracer.span("operators.wand", family="batch"):
                rows = search_wand_batch(built, parsed, K).collect()
        if not op.ok:
            continue
        walls["batch"].append(op.wall)
        replayed += len(chunk)
        per_q: dict[str, list] = {qid: [] for qid in parsed}
        for r in rows:
            per_q[r["query_id"]].append(r)
        for qid, r in per_q.items():
            checks.append((chunk[int(qid)], parsed[qid], r))
    index_bytes, written = host.dir_bytes(os.path.join(out, "index")), host.dir_bytes(out)
    run.discard(out)
    run.end_loop()

    check_query_mix(run, docs_path, checks)
    run.phase("oracle")
    ops = sum(len(w) for w in walls.values())
    _finish(
        run,
        ops=ops,
        reads=walls["search"],
        write_docs_per_s=n_docs / build_s,
        index_ratio=index_bytes / input_bytes,
        written_ratio=written / input_bytes,
    )
    run.detail.update(
        n_docs=n_docs,
        build_s=build_s,
        rounds=rounds,
        search=summary(walls["search"]),
        page=summary(walls["page"]),
        batch_qps=replayed / sum(walls["batch"]) if walls["batch"] else None,
        # the family weights are assumed (no traffic record exists); each
        # family's share of the measured time shows what ops_per_s weighs
        share_of_measured_s={f: round(sum(w) / run.measured, 3) for f, w in walls.items()}
        if run.measured else {},
        p50_by_kind={k: median(v) for k, v in sorted(by_kind.items())},
    )


def check_query_mix(run: Run, docs_path: str, checks: list) -> None:
    from xsearch_spark import pyref

    table = pq.read_table(docs_path, columns=["doc_id", "text", "lang"])
    ids = table["doc_id"].to_pylist()
    ref = pyref.build(
        list(zip(ids, table["text"].to_pylist())), "base",
        langs=dict(zip(ids, table["lang"].to_pylist())),
    )
    del table
    duck = oracle.DuckOracle(docs_path)
    cache: dict = {}
    try:
        for req, parsed, rows in checks:
            kind = req["kind"]
            key = repr(sorted((k, v) for k, v in req.items() if k not in ("family", "round")))
            if key not in cache:
                cache[key] = oracle.expected(req, parsed, ref, duck, K)
            got = oracle.normalize(kind, rows)
            if not oracle.matches(kind, got, cache[key]):
                run.fail(f"{kind} {req['q']!r}: engine {got} != oracle {cache[key]}")
    finally:
        duck.close()


# --------------------------------------------------------------------------
# ingest_delete: streaming ingest, compaction, deletes, full compaction


def ingest_delete(run: Run) -> None:
    pool = pq.read_table(corpus.documents_slice(run.cache, corpus.INGEST_ROWS, "ingest_pool"))
    vocab, mean_dl = vocab_of(pool)
    reads = iter(gen.read_queries(run.seed, vocab, 1000, salt=5))
    warm = gen.ingest_cycle(run.seed + 10**6, 0, pool.num_rows, WARMUP_INGEST_DOCS, 8, 1, (1, 1))

    t0 = run.start_setup()
    run.start_session()
    with run.tracer.paused():
        warm_res = ingest_cycle(run, pool, warm, "warmup", mean_dl, reads, timed=False)
    run.end_setup(t0)

    cycles = []
    c = 0
    while run.more(c, at_least=CYCLES):
        cyc = gen.ingest_cycle(
            run.seed, c, pool.num_rows, INGEST_DOCS, INGEST_FILES, DELETE_ROUNDS, DELETE_SIZE
        )
        cycles.append(ingest_cycle(run, pool, cyc, f"cycle{c}", mean_dl, reads))
        c += 1
    run.end_loop()

    for res in [warm_res] + cycles:
        check_ingest_reads(run, res)
    run.phase("oracle")
    done = [r for r in cycles if r["ok"]]
    read_walls = [w for r in cycles for w in r["read_s"]]
    mutations = sum(len(r["mutation_s"]) for r in cycles)
    _finish(
        run,
        ops=mutations + len(read_walls),
        reads=read_walls,
        write_docs_per_s=median([r["n_docs"] / (r["ingest_s"] + r["compact_s"]) for r in done]) or 0.0,
        index_ratio=median([r["index_bytes"] / r["survivor_bytes"] for r in done]) or 0.0,
        written_ratio=median([r["written"] / r["input_bytes"] for r in done]) or 0.0,
    )
    run.detail.update(
        cycles=len(cycles),
        ingest_docs_per_s=median([r["n_docs"] / r["ingest_s"] for r in done]),
        compact_s=median([r["compact_s"] for r in done]),
        delete_s=median([d for r in done for d in r["delete_s"]]),
        full_compact_s=median([r["full_compact_s"] for r in done]),
        epochs=[r["epochs"] for r in cycles],
        delete_modes=[m for r in cycles for m in r["modes"]],
    )


def ingest_cycle(run: Run, pool: pa.Table, cyc: gen.IngestCycle, tag: str, mean_dl: float,
                 reads, timed: bool = True) -> dict:
    """Fresh index root -> streamed epochs -> compact_segments -> delete
    rounds (tombstones + compact_incremental) -> full compact, with
    sampled reads after every mutation."""
    from xsearch_spark.plans import admin
    from xsearch_spark.streaming.ingest import compact_segments, start_ingest

    spark = run.spark
    root = run.path(tag)
    staging, index_root = os.path.join(root, "staging"), os.path.join(root, "index_root")
    os.makedirs(staging)
    docs = pool.take(pa.array(cyc.rows)).drop_columns(["doc_id"])
    docs = docs.add_column(0, "doc_id", pa.array(np.arange(docs.num_rows), pa.int64()))
    b = cyc.file_bounds
    for i in range(len(b) - 1):
        pq.write_table(docs.slice(b[i], b[i + 1] - b[i]), os.path.join(staging, f"batch{i:04d}.parquet"))
    res = {
        "ok": False, "n_docs": docs.num_rows, "input_bytes": corpus.text_bytes(docs["text"]),
        "docs": docs.select(["doc_id", "text", "lang"]), "reads": [], "read_s": [],
        "mutation_s": [], "delete_s": [], "modes": [], "epochs": 0,
    }
    inv = host.file_inventory(index_root)
    written = 0

    def mutation(name: str):
        return Op(run, f"{tag}.{name}", "write", timed)

    def account(op: Op) -> None:
        """Bytes the mutation wrote, and its wall time."""
        nonlocal inv, written
        now = host.file_inventory(index_root)
        written += host.new_bytes(inv, now)
        inv = now
        res["mutation_s"].append(op.wall)

    def read_after(op: Op, deleted: frozenset, fresh: bool) -> None:
        for j in range(READS_PER_MUTATION):
            rop, parsed, rows = read(run, built, next(reads), "base", f"{op.op_id}.read{j}", timed)
            if rop.ok:
                res["read_s"].append(rop.wall)
                res["reads"].append((parsed, rows, deleted, fresh))

    try:
        with mutation("ingest") as op:
            with run.tracer.span("streaming.ingest") as sp:
                query = start_ingest(
                    spark, staging, index_root, avgdl_hint=mean_dl, variant="base", attr_cols="lang"
                )
                if sp is not None:
                    sp.extra_groups.append(str(query.runId))
                query.awaitTermination()
                if query.exception() is not None:
                    raise RuntimeError(f"streaming ingest failed: {query.exception()}")
            res["epochs"] = len(os.listdir(os.path.join(index_root, "segments")))
            if sp is not None:
                sp.attrs["epochs"] = res["epochs"]
        if not op.ok:
            return res
        res["ingest_s"] = op.wall
        account(op)

        with mutation("compact") as op:
            with run.tracer.span("streaming.ingest"):
                built = compact_segments(spark, index_root)
        if not op.ok:
            return res
        res["compact_s"] = op.wall
        account(op)
        read_after(op, frozenset(), fresh=True)

        deleted: frozenset = frozenset()
        for r, dset in enumerate(cyc.deletes):
            buckets = _bucket_files(index_root)
            with mutation(f"delete{r}") as op:
                with run.tracer.span("plans.admin"):
                    admin.append_tombstones(spark, index_root, dset)
                with run.tracer.span("plans.admin") as sp:
                    mode = admin.compact_incremental(spark, built)
            if not op.ok:
                return res
            if sp is not None:
                sp.attrs["buckets_rewritten"] = _rewritten(buckets, _bucket_files(index_root))
            deleted = deleted | frozenset(dset)
            res["modes"].append(mode)
            res["delete_s"].append(op.wall)
            account(op)
            read_after(op, deleted, fresh=(mode == "full"))

        buckets = _bucket_files(index_root)
        with mutation("full_compact") as op:
            with run.tracer.span("plans.admin") as sp:
                admin.compact(spark, built)
        if not op.ok:
            return res
        if sp is not None:
            sp.attrs["buckets_rewritten"] = _rewritten(buckets, _bucket_files(index_root))
        res["full_compact_s"] = op.wall
        account(op)
        read_after(op, deleted, fresh=True)

        res["index_bytes"] = host.dir_bytes(os.path.join(index_root, "index"))
        dead = pc.is_in(res["docs"]["doc_id"], value_set=pa.array(sorted(deleted), pa.int64()))
        alive = res["docs"].filter(pc.invert(dead))
        res["survivor_bytes"] = corpus.text_bytes(alive["text"])
        res["written"] = written
        res["ok"] = True
        return res
    finally:
        run.discard(root)


def _bucket_files(index_root: str) -> dict[str, dict]:
    idx = os.path.join(index_root, "index")
    if not os.path.isdir(idx):
        return {}
    return {d: host.file_inventory(os.path.join(idx, d)) for d in os.listdir(idx) if d.startswith("bucket=")}


def _rewritten(before: dict, after: dict) -> int:
    """Bucket partitions whose files changed: rewritten, created or removed."""
    return sum(1 for b in set(before) | set(after) if before.get(b) != after.get(b))


def check_ingest_reads(run: Run, res: dict) -> None:
    """Reads after compaction or a full compact must equal pyref over the
    surviving docs (a fresh build); reads between an incremental delete
    and the next full compact keep the pre-delete statistics, so they
    must equal pyref over all ingested docs with the deleted ones
    dropped."""
    from xsearch_spark import pyref

    ids = res["docs"]["doc_id"].to_pylist()
    texts = res["docs"]["text"].to_pylist()
    langs = dict(zip(ids, res["docs"]["lang"].to_pylist()))
    refs: dict[frozenset, object] = {}

    def ref_without(dead: frozenset):
        if dead not in refs:
            refs[dead] = pyref.build(
                [(d, t) for d, t in zip(ids, texts) if d not in dead], "base", langs=langs
            )
        return refs[dead]

    for parsed, rows, deleted, fresh in res["reads"]:
        got = oracle.ranked((r["doc_id"], r["score"]) for r in rows)
        if fresh:
            want = oracle.pyref_topk(ref_without(deleted), parsed, K)
        else:
            want = oracle.pyref_topk(ref_without(frozenset()), parsed, K, exclude=deleted)
        if not oracle.same_ranking(got, want):
            run.fail(f"read {parsed} after a mutation: engine {got} != pyref {want}")
