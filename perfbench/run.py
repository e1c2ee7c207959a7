#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {search_zipf,search_unique} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from
``--seed``, sets the engine up ``SETUP_REPS`` times (median = ``setup_s``),
warms it up with the first ``N_WARM`` requests of the workload's stream,
drives it through its HTTP front for the measured window, checks every answer
against the pure-Python oracle outside the window, and prints one JSON
object as the last line of stdout: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a traced run
also drives the write path or the curation pass after the window). Exits 1 when an
answer is wrong, 2 when the program cannot be imported.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for the phase log

import argparse
import http.client
import itertools
import json
import os
import shutil
import sys
import tempfile
import threading
from pathlib import Path
from urllib.parse import urlencode

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
from curate import curate_pass  # noqa: E402
from oracle import Oracle  # noqa: E402
from spans import Tracer  # noqa: E402

CORES = 4  # local[CORES]; load threads never exceed it
N_DOCS = 1000
# warm-up: the first N_WARM requests of the workload's own stream (two of
# each kind). Per-request cost falls steeply over a fresh JVM's first
# ~15 requests (JIT, Spark codegen, plan cache), and a window that starts
# inside that slope measures how far each run got down it.
N_WARM = 14
# request pool (search_unique sends each once) and zipf stream length: a
# 12 s window sends 30-50 requests today; the sizes leave room for code
# 20x faster before a window could run dry
N_DISTINCT = 1000
N_STREAM = 1000
N_FRESH = 50  # flushed batch; fits the marker request's page of 100
SETUP_REPS = 5


# -- HTTP client ---------------------------------------------------------------


class Sample:
    __slots__ = ("op", "req", "t0", "t1", "status", "ids", "error")

    def __init__(self, op, req, t0, t1, status, ids, error=None):
        self.op, self.req, self.t0, self.t1 = op, req, t0, t1
        self.status, self.ids, self.error = status, ids, error

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


def fetch(port: int, req, op: int, tracer: Tracer) -> Sample:
    """One closed-loop request: send, read to the last byte, parse ids."""
    _kind, path, params, _ast = req
    url = f"{path}?{urlencode(params)}"
    with tracer.span("client.request", req=op) as sp:
        headers = {"X-Bench-Req": str(op)}
        if sp is not None:
            headers["X-Bench-Span"] = str(sp.sid)
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        try:
            conn.request("GET", url, headers=headers)
            resp = conn.getresponse()
            body = resp.read()
            t1 = time.perf_counter()
        finally:
            conn.close()
    if resp.status != 200:
        return Sample(op, req, t0, t1, resp.status, None, body[:200].decode(errors="replace"))
    rows = json.loads(body)["results"]
    return Sample(op, req, t0, t1, 200, [int(r["doc_id"]) for r in rows])


class Clients:
    """``n`` closed-loop client threads: each sends its next request only
    after the previous reply. ``next_req`` hands out requests (thread
    safe); clients stop when it returns None or :meth:`stop` is called."""

    def __init__(self, port: int, n: int, next_req, tracer: Tracer, ops):
        self.port, self.next_req, self.tracer, self.ops = port, next_req, tracer, ops
        self.samples: list[Sample] = []
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._errors: list[BaseException] = []
        self._threads = [threading.Thread(target=self._loop, daemon=True) for _ in range(n)]

    def _loop(self):
        try:
            while not self._stop.is_set():
                req = self.next_req()
                if req is None:
                    return
                s = fetch(self.port, req, next(self.ops), self.tracer)
                with self._lock:
                    self.samples.append(s)
        except BaseException as e:  # surfaced by join(); the run fails loudly
            self._errors.append(e)

    def start(self) -> "Clients":
        for t in self._threads:
            t.start()
        return self

    def stop(self) -> None:
        self._stop.set()

    def join(self) -> list[Sample]:
        for t in self._threads:
            t.join(timeout=175)
            if t.is_alive():
                raise RuntimeError("client thread did not finish")
        if self._errors:
            raise self._errors[0]
        return self.samples


def run_closed_loop(port, n, reqs, tracer, ops, seconds=None) -> list[Sample]:
    """Send ``reqs`` (a list, consumed in order) from ``n`` clients until
    the list is exhausted or ``seconds`` have passed."""
    lock = threading.Lock()
    it = iter(reqs)

    def next_req():
        with lock:
            return next(it, None)

    c = Clients(port, n, next_req, tracer, ops)
    c.start()
    if seconds is not None:
        time.sleep(seconds)
        c.stop()
    return c.join()


# -- run context ----------------------------------------------------------------


class Run:
    def __init__(self, args, workdir: Path):
        self.args, self.workdir = args, workdir
        self.seed = args.seed
        self.ops = itertools.count(1)  # request ids; next() is atomic
        from accumulo_wikisearch_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.tracer = Tracer(self.sc, enabled=bool(args.trace))
        self.tracer.install()
        self.gen = gen.Generator(self.seed, N_DOCS)
        self.requests = gen.Requests(self.gen, np.random.default_rng([self.seed, 3]))
        self.oracle = Oracle()
        self.oracle.add(self.gen.corpus)
        self.phases: list[tuple[str, float]] = [("start", time.perf_counter() - T0)]
        self.corpus_bytes = len(gen.parquet_bytes(self.gen.corpus.table()))

    def phase(self, name: str) -> None:
        """Mark the end of a run phase (seconds since process start)."""
        self.phases.append((name, time.perf_counter() - T0))

    def write_corpus(self, corpus, name: str) -> str:
        d = self.workdir / name
        d.mkdir(parents=True)
        (d / "documents.parquet").write_bytes(gen.parquet_bytes(corpus.table()))
        return str(d)

    def close(self):
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        self.tracer.uninstall()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def check_samples(oracle: Oracle, samples: list[Sample]) -> tuple[int, list[str]]:
    """Failed-operation count and the first few reasons."""
    cache: dict = {}
    failed, why = 0, []
    for s in samples:
        err = s.error if s.status != 200 else None
        if err is None:
            key = (s.req[1], tuple(sorted(s.req[2].items())))
            exp = cache.get(key)
            if exp is None:
                exp = cache[key] = oracle.expected(s.req)
            err = oracle.check(s.req, s.ids, exp)
        if err is not None:
            failed += 1
            if len(why) < 5:
                why.append(f"{s.req[1]} {s.req[2]}: HTTP {s.status} {err}")
    return failed, why


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live descendant
    (the Spark JVM and its Python workers). CPU time excludes the time a
    virtual CPU is descheduled, so it is the run's steal-free cost."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            stats[int(pid)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    total, frontier = 0, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        total += stats.get(pid, (0, 0))[1]
        frontier += [p for p, (ppid, _) in stats.items() if ppid == pid]
    return total / tick


def peak_rss_mb(sc) -> float:
    """VmHWM of this driver process plus the Spark JVM, in MB."""
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


# -- workloads ------------------------------------------------------------------


def serve(run: Run, engine, warm: list, stream: list, after=None) -> dict:
    """Start the HTTP front over ``engine``, replay ``warm`` (plan and
    codegen caches fill; nothing is timed), then run ``CORES`` closed-loop
    clients over ``stream`` for the measured window. In a traced run,
    ``after(port)`` then drives the workload's traced-only phase over the
    same front and returns its own counts."""
    from accumulo_wikisearch_spark.serving import start_server

    srv = start_server(run.tracer.engine(engine))
    try:
        port = srv.server_address[1]
        warm_samples = run_closed_loop(port, CORES, warm, run.tracer, run.ops)
        run.phase("warm")
        cpu0 = tree_cpu_s()
        window = run_closed_loop(
            port, CORES, stream, run.tracer, run.ops, run.args.seconds
        )
        cpu = tree_cpu_s() - cpu0
        run.phase("window")
        # checked before ``after`` changes what the right answers are
        failed, why = check_samples(run.oracle, warm_samples + window)
        extra = after(port) if after is not None and run.args.trace else {}
        run.phase("after")
    finally:
        srv.shutdown()
        srv.server_close()
    return dict(
        extra,
        window=window, window_cpu_s=cpu,
        attempted=len(warm_samples) + len(window) + extra.get("attempted", 0),
        failed=failed + extra.get("failed", 0), why=why + extra.get("why", []),
    )


def search_zipf(run: Run) -> dict:
    """In-memory persisted engine (``get_engine``); requests follow
    Zipf(1.1) over ~1000 distinct requests, so the head repeats and is
    served from the plan cache while the tail misses because it is new (a
    run sends too few requests to fill the cache's 256 entries). Set-up = ``get_engine``
    (index graph + persist), ``SETUP_REPS`` times; the load is the final engine's
    ``materialize``. A traced run then also runs the curation pass
    (:mod:`curate`)."""
    from accumulo_wikisearch_spark.sources.corpus import get_engine

    tr = run.tracer
    pool = run.requests.distinct(N_DISTINCT)
    stream = gen.zipf_stream(pool, N_WARM + N_STREAM)
    setups, eng = [], None
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        # a fresh directory per rep: get_engine caches engines by corpus path
        data = run.write_corpus(run.gen.corpus, f"corpus{rep}")
        with tr.span("ingest.build", req=next(run.ops)):
            eng = get_engine(run.spark, data)
        setups.append(time.perf_counter() - t)
    run.phase("setup")
    tl, cl = time.perf_counter(), tree_cpu_s()
    with tr.span("ingest.persist", req=next(run.ops)):
        eng.index.materialize()
    load_s = time.perf_counter() - tl
    load_cpu_s = tree_cpu_s() - cl
    run.phase("load")
    # the window continues the stream where the warm-up left it
    res = serve(
        run, eng, stream[:N_WARM], stream[N_WARM:],
        after=lambda _port: curate_pass(run, data),
    )
    return dict(res, setups=setups, load_s=load_s, load_cpu_s=load_cpu_s)


def search_unique(run: Run) -> dict:
    """A catalog written to disk and served through ``Wikisearch.open``;
    every request expression is distinct, so the plan cache never hits and
    each request pays the freshness probe, parse, planning and parquet
    scans. Set-up = one bulk load (``build_index`` + ``write_index``),
    then the facade opened ``SETUP_REPS`` times. A traced run then also drives
    the write path (:func:`flush_and_compact`)."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    tr, spark = run.tracer, run.spark
    cfg = EngineConfig(unevaluated_fields=frozenset({"TEXT"}))  # as get_engine
    reqs = run.requests.distinct(N_DISTINCT)
    data = run.write_corpus(run.gen.corpus, "corpus")
    catalog = str(run.workdir / "catalog")
    tl, cl = time.perf_counter(), tree_cpu_s()
    with tr.span("ingest.build", req=next(run.ops)):
        idx = build_index(load_articles(spark, data), cfg, SCALAR_FIELDS, unique_ids=True)
    with tr.span("ingest.write_index", req=next(run.ops)):
        write_index(idx, catalog)
    load_s = time.perf_counter() - tl
    load_cpu_s = tree_cpu_s() - cl
    run.phase("load")
    setups, facade = [], None
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        with tr.span("api.open", req=next(run.ops)):
            facade = Wikisearch.open(spark, catalog, cfg)
        setups.append(time.perf_counter() - t)
    run.phase("setup")
    # warm-up: the pool's first requests (kinds rotate); the window's
    # requests are all new
    res = serve(
        run, facade, reqs[:N_WARM], reqs[N_WARM:],
        after=lambda port: flush_and_compact(run, port, catalog, cfg, reqs[: len(gen.KINDS)]),
    )
    return dict(res, setups=setups, load_s=load_s, load_cpu_s=load_cpu_s)


def flush_and_compact(run: Run, port: int, catalog: str, cfg, recheck: list) -> dict:
    """Traced runs, after the window: the write path under the live
    facade. One fresh batch is flushed as a delta (``write_delta``); the
    marker request, sent as soon as the flush returns, makes the facade
    heal and must return exactly the batch. A major compaction
    (``compact_index``) then folds the delta; afterwards the marker, the
    warm-up requests and one request for every document (ids only, no
    page limit) are checked against base + fresh documents."""
    from accumulo_wikisearch_spark.operators.compaction import compact_index, write_delta
    from accumulo_wikisearch_spark.operators.ingest import build_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    tr, spark = run.tracer, run.spark
    fresh = run.gen.fresh_batch(N_FRESH)
    fresh_dir = run.write_corpus(fresh, "fresh")
    with tr.span("compaction.write_delta", req=next(run.ops)):
        delta = build_index(load_articles(spark, fresh_dir), cfg, SCALAR_FIELDS, unique_ids=True)
        write_delta(delta, catalog, 1)
    flushed = time.perf_counter()
    run.oracle.add(fresh)
    marker = gen.marker_request()
    seen = fetch(port, marker, next(run.ops), tr)
    lag_ms = (seen.t1 - flushed) * 1e3
    with tr.span("compaction.compact", req=next(run.ops)):
        compacted = compact_index(spark, catalog, cfg)
    every_doc = gen.all_docs_request()
    after = [seen] + run_closed_loop(port, CORES, [marker, every_doc] + recheck, tr, run.ops)
    failed, why = check_samples(run.oracle, after)
    if compacted["n_deltas"] != 1:
        failed += 1
        why.append(f"compaction folded {compacted['n_deltas']} deltas, not 1")
    return dict(
        attempted=len(after) + 2, failed=failed, why=why,
        fresh_lag_ms=lag_ms, compaction=compacted,
    )


WORKLOADS = {"search_zipf": search_zipf, "search_unique": search_unique}


# -- main -----------------------------------------------------------------------


def _isolate(workdir: Path) -> None:
    """Keep Spark's and Python's scratch files inside the run directory."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            # -UsePerfData: no hsperfdata file in the system /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            f"--conf spark.sql.warehouse.dir={workdir / 'warehouse'}",
            # every job of a run stays readable for the traced read-back
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "accumulo_wikisearch_spark" / "__init__.py").is_file():
        print("perfbench: the accumulo_wikisearch_spark package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    workdir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(workdir)
    run = None
    try:
        run = Run(args, workdir)
        res = WORKLOADS[args.workload](run)
        res["peak_rss_mb"] = peak_rss_mb(run.sc)
        res["n_docs"] = N_DOCS
        res["corpus_bytes"] = run.corpus_bytes
        if args.trace:
            run.tracer.attach_jobs(metrics.SERIAL_SPANS)
            out = metrics.per_layer(run, res)
            metrics.dump_trace(ROOT / ".perfbench_out", args, run, res, out)
        else:
            out = metrics.end_to_end(res)
    finally:
        if run is not None:
            run.close()
            run.phase("close")
            phases = run.phases
        shutil.rmtree(workdir, ignore_errors=True)
    print(
        f"perfbench: {args.workload} setups_s={[round(x, 2) for x in res['setups']]}"
        f" load_s={res['load_s']:.2f} load_cpu_s={res['load_cpu_s']:.2f}"
        f" window_requests={len(res['window'])}"
        f" phases_s={[(n, round(t, 1)) for n, t in phases]}"
        f" wall_s={time.perf_counter() - T0:.1f}",
        file=sys.stderr,
    )
    for reason in res["why"]:
        print(f"perfbench: wrong answer: {reason}", file=sys.stderr)
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": out,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
