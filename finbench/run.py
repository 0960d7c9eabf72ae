#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 finbench/run.py --workload dashboard --seed 1 --seconds 16 --trace 0

Workloads (finbench/README.md says why each was chosen):

- ``dashboard``: every Spark-backed analytics route, over loopback HTTP to
  ``start_api``'s stdlib server;
- ``adhoc_sql``: the guarded SQL endpoint, same server;
- ``batch``: artifact builds and their consumer rows, called in-process.

Each run generates its inputs inside the checkout (``.bench_work/``),
starts the library's own session (``engine.session.get_spark``), sets up
and warms up (``setup_s``), then runs a fixed count of operations: whole
passes, ``--seconds`` divided by the workload's nominal pass length. One
operation is outstanding at a time. Every output is checked against
``expected.json``. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``; with ``--trace 1``
the metrics are the per-layer ones, from each op run traced and untraced.

``--record`` is the maintenance mode that (re)writes the expected digests
of a workload; it refuses to record a failing or unstable response.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import http.client
import importlib.util
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path[:0] = [HERE, ROOT]

from checks import load_expected, response_digest, rows_digest, save_expected  # noqa: E402
from workloads import (  # noqa: E402
    FRESH_SUMMARY_VIEW, KNOWN_DEFECTS, REGEX_BYPASS, WORKLOADS, Op,
)

#: driver memory on both sides of a comparison; the library default (16g)
#: exceeds a 15 GB host
DRIVER_MEM = "4g"
#: "today" for the analytics: inside the CUR's 1992-1998 dates
NOW = "1998-10-01"
#: files a checkout of the program must hold
REQUIRED = ("de_polars_spark/__init__.py", "start_api.py", "tools/gen_testdata.py")

# --------------------------------------------------------------------- #
# host and inputs                                                        #
# --------------------------------------------------------------------- #
def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> dict[str, str]:
    """Keep every file the program writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # the short-lived JVM that spark-submit starts to build the driver's
        # command line
        SPARK_LAUNCHER_OPTS=java_opts,
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    tempfile.tempdir = None
    return {"spark.driver.extraJavaOptions": java_opts}


def ensure_data(scale: str) -> str:
    """The TPC-H-shaped tables at ``scale`` (e.g. ``sf0.1``), generated
    once per checkout by the repository's deterministic generator."""
    out = os.path.join(WORK, "data", f"finbench-{scale}")
    if os.path.exists(out + ".complete"):
        return out
    import pyarrow as pa
    import pyarrow.parquet as pq

    # the generator copies the two static dimension tables from a source
    # directory; write them here (TPC-H: 5 regions, 25 nations)
    dims = os.path.join(WORK, "data", "dims")
    os.makedirs(dims, exist_ok=True)
    keys = pa.array(range(25), pa.int32())
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), os.path.join(dims, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": keys,
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    }), os.path.join(dims, "nation.parquet"))

    spec = importlib.util.spec_from_file_location(
        "gen_testdata", os.path.join(ROOT, "tools", "gen_testdata.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.SRC = dims
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        gen.main(["--out", tmp, "--scale", scale.removeprefix("sf")])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(out + ".complete", "w").close()
    return out


def calibration_md5_sec() -> float:
    """Fixed single-thread workload (md5 over 256 MB), as bench.py records."""
    buf = b"\0" * (1 << 20)
    h = hashlib.md5()
    t0 = time.perf_counter()
    for _ in range(256):
        h.update(buf)
    return round(time.perf_counter() - t0, 4)


def steal_jiffies():
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def mem_total_kb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return None


def commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def descendants(root: int) -> set[int]:
    """``root`` and every process below it, from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = set(), [root]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier += [c for c, p in parent.items() if p == pid and c not in tree]
    return tree


def running(pid: int) -> bool:
    """Whether ``pid`` is alive (a zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark() -> None:
    """Stop the session, if one was started, then end the JVM and every
    process it started (the Python workers), and wait until each has ended.

    ``SparkContext.stop`` leaves the JVM running; it exits only once it
    reads end-of-file on its standard input, which would otherwise happen
    after this process has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    children = descendants(os.getpid()) - {os.getpid()}
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while True:
            alive = [pid for pid in children if running(pid)]
            if not alive:
                break
            if time.monotonic() > deadline:
                for pid in alive:
                    with contextlib.suppress(OSError):
                        os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled every 0.2 s (traced runs only: it
    varies too much from run to run to carry a bound)."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.peak = max(self.peak, self._tree_rss())

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / (1 << 20)


# --------------------------------------------------------------------- #
# the run                                                                #
# --------------------------------------------------------------------- #
class Outcome:
    """Tallies of one phase."""

    def __init__(self):
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.unexpected: list[str] = []
        self.defects: dict[str, int] = {}
        self.response_bytes: list[int] = []
        self.rows_returned: list[int] = []
        #: client time spent decoding and checking responses
        self.check_s = 0.0
        self.busy_s = 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.scale = args.scale or self.workload.scale
        self.expected = load_expected().get(self.scale, {})
        self.tracer = None
        self.counters = None
        self.server = None
        self.notes: list[str] = []
        #: fixed known defects that have no recorded digest yet
        self.unrecorded: set[str] = set()

    # -- setup ---------------------------------------------------------- #
    def setup(self, java_conf: dict) -> float:
        """Session, registration, server and warm-up; returns setup_s
        (the one-time input preparation between them is not counted)."""
        t0 = time.perf_counter()
        from de_polars_spark.engine import session

        self.spark = session.get_spark("finbench", extra_conf=java_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        setup_s = time.perf_counter() - t0

        self.sf_dir = ensure_data(self.scale)
        from de_polars_spark.inventory.kpi_views import _ensure_cur_ext

        marker = os.path.join(WORK, f"cur-{self.scale}.ready")
        if not os.path.exists(marker):  # first run of this checkout
            _ensure_cur_ext(self.spark, self.sf_dir)
            open(marker, "w").close()
        self.clear_artifacts()

        t1 = time.perf_counter()
        cur = _ensure_cur_ext(self.spark, self.sf_dir)
        if self.workload.name == "batch":
            self.batch_setup()
        else:
            self.start_server(cur)
            if self.workload.name == "adhoc_sql":
                t_probe = time.perf_counter()
                self.probe(FRESH_SUMMARY_VIEW)
                t1 += time.perf_counter() - t_probe
                from de_polars_spark.views.kpi import register_kpi_views

                # what the server does on its first KPI request
                register_kpi_views(self.spark, "CUR", now=NOW)
            for _ in range(self.workload.warmup_passes):
                for group in self.workload.distinct_groups():
                    self.call(group[0])
        return setup_s + time.perf_counter() - t1

    def clear_artifacts(self) -> None:
        """Every run pays the same artifact writes."""
        from de_polars_spark.inventory import llm_ops
        from de_polars_spark.inventory.kpi_views import clear_kpi_artifacts
        from de_polars_spark.operators.bucketing import clear_bucketed_artifacts
        from de_polars_spark.operators.quantiles import clear_probe_memo

        clear_kpi_artifacts(self.sf_dir)
        llm_ops.clear_dedup_pair_artifacts(self.sf_dir)
        llm_ops.clear_ivf_index_artifacts(self.sf_dir)
        llm_ops.clear_pq_artifacts(self.sf_dir)
        clear_bucketed_artifacts(self.spark, self.sf_dir)
        clear_probe_memo()

    def start_server(self, cur: str) -> None:
        from http.server import ThreadingHTTPServer

        from de_polars_spark.api.handlers import FinOpsHandlers
        from de_polars_spark.client import FinOpsEngine
        from de_polars_spark.config import DataConfig
        from start_api import make_handler_class

        engine = FinOpsEngine(
            DataConfig(local_data_path=cur, table_name="CUR"), spark=self.spark, now=NOW
        )
        handler_cls = make_handler_class(FinOpsHandlers(engine))
        if self.tracer is not None:
            self.tracer.set_server(handler_cls)
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), handler_cls)
        self.port = self.server.server_address[1]
        self.server_thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.server_thread.start()

    def stop_server(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server_thread.join(timeout=10)

    def batch_setup(self) -> None:
        from de_polars_spark.inventory import QUERIES
        from de_polars_spark.inventory import llm_ops
        from de_polars_spark.inventory.kpi_views import _ensure_kpi_views
        from de_polars_spark.operators.dedup import release_cached as release_dedup
        from de_polars_spark.operators.similarity import release_cached as release_sim

        spark, sf = self.spark, self.sf_dir
        self.queries = QUERIES

        def quantile_probe():
            # the probes run eagerly while the consumer plans are built
            for name in ("quantile_price_profile", "embedding_norm_profile",
                         "histogram_equidepth_price"):
                QUERIES[name](spark, sf)

        def ran(build):
            # builders that return a path in the checkout: their consumer
            # rows check what they wrote
            return lambda: build(spark, sf) and None

        self.artifacts = {
            "kpi_views": ran(_ensure_kpi_views),
            "dedup_pair_graph": lambda: llm_ops._dedup_pair_graph(spark, sf).count(),
            "dedup_components": lambda: llm_ops._dedup_components(spark, sf).count(),
            "ivf_index": ran(llm_ops._ensure_ivf_index),
            "pq_codebooks": ran(llm_ops._ensure_pq_codebooks),
            "quantile_probe": quantile_probe,
        }

        def release():
            release_dedup()
            release_sim()

        self.release = release
        # warm-up as bench.py does: one Python worker round trip, so no
        # consumer row pays the worker start
        spark.range(1).mapInPandas(lambda it: it, "id long").collect()

    # -- one operation -------------------------------------------------- #
    def call(self, op: Op):
        """Run ``op``; returns (status, body, latency s, response bytes,
        seconds the client spent decoding the response after the latency)."""
        if op.kind == "http":
            return self.http(op)
        name = op.key.split(":", 1)[1]
        if op.kind == "artifact":
            t0 = time.perf_counter()
            body = self.artifacts[name]()
            latency = time.perf_counter() - t0
        elif self.tracer is not None and self.tracer.installed:
            body, latency = self.traced_row(name)
        else:
            t0 = time.perf_counter()
            body = self.queries[name](self.spark, self.sf_dir).collect()
            latency = time.perf_counter() - t0
        self.release()
        return 200, body, latency, 0, 0.0

    def traced_row(self, name: str):
        """A consumer row split into Python build, planning and execution."""
        wrap = self.tracer.wrap
        t0 = time.perf_counter()
        df = wrap("inventory.build", self.queries[name])(self.spark, self.sf_dir)
        wrap("inventory.plan", lambda: df._jdf.queryExecution().executedPlan())()
        rows = wrap("inventory.exec", df.collect)()
        return rows, time.perf_counter() - t0

    def http(self, op: Op):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        payload = json.dumps(op.body).encode() if op.body is not None else None
        headers = {"Content-Type": "application/json"} if payload else {}
        try:
            t0 = time.perf_counter()
            conn.request(op.method, op.path, body=payload, headers=headers)
            resp = conn.getresponse()
            data = resp.read()
            latency = time.perf_counter() - t0
        finally:
            conn.close()
        t1 = time.perf_counter()
        try:
            body = json.loads(data)
        except ValueError:
            body = data.decode(errors="replace")
        return resp.status, body, latency, len(data), time.perf_counter() - t1

    def digest(self, op: Op, body) -> str:
        if op.kind != "http":
            return rows_digest(body if isinstance(body, list) else [[body]])
        defect = KNOWN_DEFECTS.get(op.key)
        return response_digest(body, defect.mask if defect else frozenset())

    def judge(self, op: Op, status: int, body) -> tuple[bool, str, bool]:
        """(passed, why not, failed as a known defect).

        While a known defect lasts its op fails as such, but only after the
        part of the response its mask leaves has matched the recorded
        digest: a mismatch there is an unexpected failure. Once the defect
        is fixed the op is checked like any other, against the digest
        ``--record`` stores for it then; until one is stored, showing the
        correct behaviour is enough (and a note says so)."""
        defect = KNOWN_DEFECTS.get(op.key)
        want = self.expected.get(op.key)
        if defect is not None and not defect.fixed(status, body):
            if defect.mask:
                why = self.mismatch(op, status, body, want)
                if why:
                    return False, why, False
            return False, f"known defect: {defect.what}", True
        if want is None and defect is not None:
            self.unrecorded.add(op.key)
            return True, "", False
        why = self.mismatch(op, status, body, want)
        return not why, why, False

    def mismatch(self, op: Op, status: int, body, want) -> str:
        """Why the response differs from the recorded one ('' if it does not)."""
        if want is None:
            return "no expected digest recorded"
        if status != want["status"]:
            return f"status {status}, expected {want['status']}"
        if self.digest(op, body) != want["digest"]:
            return "body digest differs from the recorded one"
        return ""

    def probe(self, op: Op) -> None:
        """An untimed request for a known defect; its verdict is printed."""
        status, body, latency, size, _ = self.call(op)
        passed, why, _ = self.judge(op, status, body)
        rows = body.get("row_count") if isinstance(body, dict) else None
        verdict = "pass" if passed else f"FAIL ({why})"
        self.notes.append(
            f"probe {op.key.split(':')[1]}: {verdict}; status {status}, "
            f"rows {rows}, {size} bytes, {latency * 1000:.0f} ms")

    # -- a timed phase --------------------------------------------------- #
    def execute(self, op: Op, out: Outcome) -> float:
        """Run ``op``, check it and tally it into ``out``; returns latency."""
        # collect the previous op's garbage (py4j references included)
        # before the clock starts, so no collection lands inside a latency;
        # the phase's wall time, and so ops_per_s, includes it
        gc.collect()
        status, body, latency, size, decode_s = self.call(op)
        t_check = time.perf_counter()
        out.attempted += 1
        out.latencies.append(latency)
        passed, why, known = self.judge(op, status, body)
        if not passed:
            out.failed += 1
            if known:
                out.defects[op.key] = out.defects.get(op.key, 0) + 1
            else:
                out.unexpected.append(f"{op.key}: {why}")
        if op.kind == "http":
            out.response_bytes.append(size)
            if isinstance(body, dict) and "row_count" in body:
                out.rows_returned.append(body["row_count"])
        out.check_s += decode_s + time.perf_counter() - t_check
        return latency

    def phase(self, ops: list[Op]) -> Outcome:
        """The timed operations, each once; ``busy_s`` is the phase's wall
        time less the client's decoding and checking of the responses."""
        out = Outcome()
        t0 = time.perf_counter()
        for op in ops:
            self.execute(op, out)
        out.busy_s = time.perf_counter() - t0 - out.check_s
        return out

    def traced_phase(self, ops: list[Op]):
        """Each op twice, traced and untraced, the order alternating from
        op to op; artifact builds run once, traced. Returns the traced and
        the untraced tallies, and (traced, untraced) latency pairs."""
        tracer, counters, sc = self.tracer, self.counters, self.spark.sparkContext
        traced, plain, pairs = Outcome(), Outcome(), []
        self.spark_totals: dict[str, float] = {}
        self.op_ids: list[str] = []
        self.transport: list[float] = []
        for i, op in enumerate(ops):
            if op.kind == "artifact":
                order = (True,)
            else:
                order = (True, False) if (i + self.args.seed) % 2 == 0 else (False, True)
            pair = {}
            for with_trace in order:
                if not with_trace:
                    if op.kind != "http":
                        sc.setJobGroup("finbench-untraced", "untraced")
                    pair[False] = self.execute(op, plain)
                    continue
                op_id = f"op-{i}"
                tracer.op = op_id
                self.op_ids.append(op_id)
                if op.kind != "http":
                    sc.setJobGroup(tracer.group(op_id), op_id)
                compiles0, _ = counters.codegen()
                gc0 = counters.gc_seconds()
                tracer.install()
                try:
                    latency = self.execute(op, traced)
                finally:
                    tracer.uninstall()
                    tracer.op = "idle"
                pair[True] = latency
                compiles1, compile_ms = counters.codegen()
                counts = counters.op_counts(tracer.group(op_id))
                counts.update(codegen_compiles=compiles1 - compiles0,
                              codegen_ms=(compiles1 - compiles0) * compile_ms,
                              gc_s=counters.gc_seconds() - gc0)
                for k, v in counts.items():
                    self.spark_totals[k] = self.spark_totals.get(k, 0) + v
                if op.kind == "http":
                    self.transport.append(latency - tracer.durations(op_id, "api.server"))
            if len(pair) == 2:
                pairs.append((pair[True], pair[False]))
        return traced, plain, pairs


def percentile_metrics(latencies: list[float]) -> tuple[float, float]:
    """Median and the 11th-largest latency (ms): the highest percentile
    with at least ten samples beyond it."""
    ordered = sorted(latencies, reverse=True)
    tail = ordered[10] if len(ordered) > 10 else ordered[-1]
    return statistics.median(ordered) * 1000, tail * 1000


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="data scale, e.g. sf0.001 (default: the workload's)")
    ap.add_argument("--record", action="store_true",
                    help="maintenance: record the expected digests of this workload")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"finbench: not a checkout of the program (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2

    # a terminated run still stops the session and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    steal0 = steal_jiffies()
    calibration = calibration_md5_sec()
    java_conf = configure_env()
    bench = Bench(args)
    if args.trace:
        from tracing import SparkCounters, Tracer

        rss = RssSampler()
        rss.start()
        bench.tracer = Tracer()
        bench.tracer.install()
    try:
        setup_s = bench.setup(java_conf)
        if args.record:
            return record(bench)
        ops = bench.workload.schedule(args.seed, bench.workload.passes(args.seconds))
        if not args.trace:
            result = bench.phase(ops)
            if bench.workload.name == "adhoc_sql":
                bench.probe(REGEX_BYPASS)
            p50, tail = percentile_metrics(result.latencies)
            metrics = {
                "setup_s": metric(setup_s, "s"),
                "ops_per_s": metric(result.attempted / result.busy_s, "ops/s"),
                "p50_ms": metric(p50, "ms"),
                "tail_ms": metric(tail, "ms"),
            }
        else:
            bench.counters = SparkCounters(bench.spark)
            bench.tracer.spark = bench.spark
            result, metrics = traced_metrics(bench, ops)
            metrics["peak_rss_mb"] = metric(rss.stop(), "MB")
        provenance = provenance_of(bench, result, calibration, steal0)
    finally:
        bench.stop_server()
        if args.trace and bench.tracer is not None:
            bench.tracer.uninstall()
        stop_spark()
    for key, n in sorted(result.defects.items()):
        print(f"failed x{n} (known defect: {KNOWN_DEFECTS[key].what}): {key[:120]}")
    for line in result.unexpected:
        print(f"FAILED (unexpected): {line[:300]}")
    for key in sorted(bench.unrecorded):
        print(f"known defect fixed, no digest recorded yet (run --record): {key[:120]}")
    for note in bench.notes:
        print(note)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({
        "correct": not result.unexpected,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def provenance_of(bench: Bench, result: Outcome, calibration: float, steal0) -> dict:
    """The host, versions and settings a run was measured with."""
    import pyspark

    args = bench.args
    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": bench.scale, "commit": commit(),
        "passes": bench.workload.passes(args.seconds), "samples": result.attempted,
        "nproc": cpu_count(), "mem_total_kb": mem_total_kb(),
        "spark": pyspark.__version__,
        "jdk": bench.spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"], "driver_memory": DRIVER_MEM,
        "calibration_md5_sec": calibration,
    }
    steal1 = steal_jiffies()
    if steal0 is not None and steal1 is not None:
        provenance["steal_jiffies_delta"] = steal1 - steal0
    return provenance


def traced_metrics(bench: Bench, ops: list[Op]):
    """Per-layer metrics of a traced phase (see ``Bench.traced_phase``)."""
    tracer, counters = bench.tracer, bench.counters
    tracer.uninstall()
    ex0 = counters.sql_executions()
    traced, plain, pairs = bench.traced_phase(ops)
    ex1 = counters.sql_executions()
    totals, op_ids, transport = bench.spark_totals, bench.op_ids, bench.transport
    n = traced.attempted
    wall = sum(traced.latencies)
    own = tracer.self_times(op_ids)
    setup = tracer.self_times(["setup"])
    per_op = lambda name: own.get(name, 0.0) / n  # noqa: E731
    s = "s"
    m = {
        "engine.session_s": metric(tracer.durations("setup", "engine.session"), s),
        "sources.register_s": metric(tracer.durations("setup", "sources.register"), s),
        "engine.translate_s": metric(per_op("engine.translate"), s),
        "engine.validate_s": metric(per_op("engine.validate"), s),
        "engine.query_s": metric(per_op("engine.query"), s),
        "views.register_s": metric(setup.get("views.register", 0.0)
                                   + own.get("views.register", 0.0), s),
        "views.materialize_s": metric(sum(tracer.durations(o, "views.materialize")
                                          for o in op_ids), s),
    }
    from tracing import ANALYTICS

    for short in ANALYTICS:
        m[f"analytics.{short}_s"] = metric(per_op(f"analytics.{short}"), s)
    http_n = len(traced.response_bytes)
    m.update({
        "analytics.collect_s": metric(per_op("analytics.collect"), s),
        "client.rollup_s": metric(per_op("client.rollup"), s),
        "api.handler_s": metric(per_op("api.handler"), s),
        "api.edge_s": metric(per_op("api.server"), s),
        "api.response_bytes": metric(sum(traced.response_bytes) / http_n if http_n else 0,
                                     "bytes"),
        "api.rows_returned": metric(statistics.mean(traced.rows_returned)
                                    if traced.rows_returned else 0, "count"),
        "api.transport_ms": metric(statistics.mean(transport) * 1000 if transport else 0,
                                   "ms"),
        "inventory.build_s": metric(per_op("inventory.build"), s),
        "inventory.plan_s": metric(per_op("inventory.plan"), s),
        "inventory.exec_s": metric(per_op("inventory.exec"), s),
    })
    from workloads import ARTIFACTS, ROWS

    latency_of = {}
    for op, latency in zip(ops, traced.latencies):
        latency_of[op.key] = latency_of.get(op.key, 0.0) + latency
    for a in ARTIFACTS:
        m[f"artifact.{a}_s"] = metric(latency_of.get(f"artifact:{a}", 0.0), s)
    for r in ROWS:
        m[f"row.{r}_s"] = metric(latency_of.get(f"row:{r}", 0.0), s)
    cores = cpu_count()
    run_s = totals.get("executor_run_ms", 0) / 1000
    m.update({
        "spark.jobs_per_op": metric(totals.get("jobs", 0) / n, "count"),
        "spark.stages_per_op": metric(totals.get("stages", 0) / n, "count"),
        "spark.tasks_per_op": metric(totals.get("tasks", 0) / n, "count"),
        "spark.codegen_compiles_per_op": metric(totals.get("codegen_compiles", 0) / n, "count"),
        "spark.codegen_compile_s": metric(totals.get("codegen_ms", 0) / 1000 / n, s),
        "spark.shuffle_read_bytes": metric(totals.get("shuffle_read_bytes", 0) / n, "bytes"),
        "spark.shuffle_write_bytes": metric(totals.get("shuffle_write_bytes", 0) / n, "bytes"),
        "spark.spill_bytes": metric(totals.get("spill_bytes", 0) / n, "bytes"),
        "spark.output_bytes": metric(totals.get("output_bytes", 0) / n, "bytes"),
        "spark.executor_run_s": metric(run_s, s),
        "spark.busy_ratio": metric(run_s / (wall * cores), "ratio"),
        "spark.gc_s": metric(totals.get("gc_s", 0), s),
        "spark.broadcast_bytes_max": metric(counters.broadcast_bytes_max(ex1 - ex0), "bytes"),
    })
    # per-op ratios, geometric mean: within a pair the second run is the
    # warmer one, and the order alternates, so the bias cancels op by op
    # instead of being weighted by the slowest ops
    overhead = statistics.geometric_mean(t / u for t, u in pairs) - 1
    m["trace.overhead"] = metric(overhead, "ratio")
    bench.notes += [
        "per-layer: *_s of a layer is its self time per operation of the traced "
        "phase; engine.session_s, sources.register_s and views.register_s are "
        "setup totals (views register once per engine)",
        "per-layer: spark.codegen_compile_s is, per traced operation, its "
        "compilations x the mean compile time of CodegenMetrics' sampled "
        "reservoir (the JVM keeps no exact sum); spark.gc_s is the JVM's "
        "collection time summed over the traced operations",
        "per-layer: trace.overhead is the geometric mean over ops of traced / "
        "untraced latency, minus 1; each op runs twice, in alternating order "
        "(artifact builds run once, traced)",
    ]
    trace_path = os.path.join(WORK, f"trace-{bench.workload.name}-{bench.args.seed}.jsonl")
    tracer.write(trace_path)
    bench.notes.append(f"spans written to {os.path.relpath(trace_path, ROOT)}")
    # the result's tallies cover both phases
    traced.attempted += plain.attempted
    traced.failed += plain.failed
    traced.unexpected += plain.unexpected
    for k, v in plain.defects.items():
        traced.defects[k] = traced.defects.get(k, 0) + v
    return traced, m


def record(bench: Bench) -> int:
    """Run every op of the workload twice and store status + digest.

    Refuses (exit 1, nothing written) when a response has an unexpected
    status or differs between the two calls. A known defect's output is
    never recorded: while it lasts only the part its mask leaves is (and
    nothing, for a defect without a mask); once it is fixed the op is
    recorded like any other."""
    entries, problems, skipped = {}, [], []
    for op in bench.workload.all_ops():
        defect = KNOWN_DEFECTS.get(op.key)
        seen, present = [], False
        for _ in range(2):
            status, body, _, _, _ = bench.call(op)
            seen.append((status, bench.digest(op, body)))
            present |= defect is not None and not defect.fixed(status, body)
        if present and not defect.mask:
            skipped.append(op.key)
        elif seen[0][0] != op.expect_status:
            problems.append(f"{op.key}: status {seen[0][0]}, expected {op.expect_status}")
        elif seen[0] != seen[1]:
            problems.append(f"{op.key}: differs between two calls {seen}")
        else:
            entries[op.key] = {"status": seen[0][0], "digest": seen[0][1]}
    if problems:
        for p in problems:
            print(f"record: refusing: {p}", file=sys.stderr)
        return 1
    expected = load_expected()
    expected.setdefault(bench.scale, {}).update(entries)
    save_expected(expected)
    print(f"recorded {len(entries)} digests for {bench.workload.name} at {bench.scale}; "
          f"{len(skipped)} known defects without a mask left out")
    return 0


if __name__ == "__main__":
    sys.exit(main())
