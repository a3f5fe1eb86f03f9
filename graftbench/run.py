"""End-to-end benchmark of the engine: one closed-loop client.

Usage (from the repository root):

    python3 graftbench/run.py --workload {wordcount,iterative} \
        --seed N --seconds S --trace {0,1}

One client process starts the engine's default session
(``session.get_spark`` on ``local[$SPARK_GRAFT_CPUS]``, which defaults
here to the cores this process may run on), generates the workload's
inputs from ``--seed``, and issues one pass at a time. A pass runs every
query of the workload: build, execute, write to the sink, collect. Only
calls into the engine's public functions are timed. After each pass,
outside the clock, every output is checked against the DuckDB digest of
its registry oracle, and the session is cleaned: cached tables and
persisted RDDs are dropped, streaming memory-sink views removed, and
the benchmark asserts that nothing is left.

A run is: set-up (timed from process start to the first trivial job),
the cold pass, ``WARMUP_PASSES`` untimed passes that let JIT and
codegen settle, then passes until ``--seconds`` have been measured and
at least ``MIN_MEASURED`` passes have run. Once that session is
stopped, ``COLD_STARTS - 1`` more fresh processes each set up a session
and run one cold pass over the same inputs, one after another; setup_s
and cold_pass_s are the medians over all the fresh sessions of the run.
With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
every measured pass is traced and the run reports the per-layer metrics
(medians over those passes), including the tracer's own in-clock time.
The last stdout line is the result JSON; the line before it records the
host. Spans, per-pass samples and the host record are written under
``.graftbench_work/`` in the checkout, where Spark, JVM, Python-worker
and DuckDB temp files also go.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

_T0 = time.perf_counter()
_ENV0 = dict(os.environ)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".graftbench_work")

# Passes after the cold one before the clock starts, so that JIT and
# codegen have settled. On 4 cores the iterative queries take about
# 31 s cold and 13.5-14 s on the next pass, then shrink by 5-10% a pass
# to 10-12.5 s by the fourth; word count passes shrink from 6-7.5 s
# cold and 2.3-2.9 s next to 1.2-1.9 s by the fifth and still a few
# percent a pass after it. Over ten seeds in one host window, the
# spread (IQR over median) of word count's pass_s fell from 0.25 to
# 0.18 when its first two measured passes were also left out; hence
# five warm-ups, not three. One iterative warm-up takes the steep part
# of its trend out of the measured window; more do not fit a run's time
# budget, so its measured passes still sit on the flat tail.
WARMUP_PASSES = {"wordcount": 5, "iterative": 1}

# Measured passes in a run, at least. An iterative pass takes longer
# than the window (--seconds), so its run always measures exactly this
# many, the same passes of the trend on every run whatever their speed;
# word count fills the window.
MIN_MEASURED = 2

# Fresh sessions per run (--trace 0), each a new process timed from its
# own start through its first job (setup_s) and its cold pass. A cold
# pass is one sample of the JIT, codegen and heap growth of a new JVM;
# word count's single sample spread (IQR over median, ten seeds) 0.21
# and 0.25 in two sets on a busy shared host. Over two sets of ten
# seeds on 4 vCPUs, the median of two sessions spread 0.111 and 0.067,
# against 0.126-0.167 and 0.065-0.114 for either session alone. A
# second iterative session would cost ~37 s more a run (set-up plus a
# 27-29 s cold pass), which the time budget of all runs does not allow;
# its single cold pass spread 0.153 and 0.056 in the same two sets.
COLD_STARTS = {"wordcount": 2, "iterative": 1}
COLD_START_TIMEOUT_S = 120

# Queries of the iterative workload, in pass order.
ITERATIVE_QUERIES = (
    "sql_recursive_hierarchy",
    "text_bpe_train_merges",
    "graph_pagerank",
    "dedup_semantic_semdedup",
    "streaming_tumbling_counts",
)

END_TO_END = {"pass_s": "s", "cold_pass_s": "s", "setup_s": "s"}

# Per-layer metrics of the traced run: unit, direction, the end-to-end
# metric the layer should move, and the workloads where it reads high
# ("on") and near zero ("off"), as measured on 4 cores. Executors are
# busy on both workloads: iterative's tasks carry the k-means Arrow
# kernels, and at sf0.1 its PageRank and BPE joins shuffle as many
# bytes as word count (6 MB) and read 7 MB against word count's 48 MB.
# Its terminal collects run the lazy part of each plan, while word
# count's top-N reads the dual-sink cache, so collect_s is on for
# iterative. Word count leaves its one dual-sink cache pinned. GC time
# is small on both; spill and task failures read zero on both, as the
# inputs fit in memory and no task fails. The python.* values are the
# SQL store's per-task totals; python.init_s sums every task's worker
# initialization and reads above spark.executor_run_s.
# BENCHMARK.json mirrors the first two columns; the tests keep them in
# step.
LAYERS = {
    "session.start_s": ("s", "lower", "setup_s", "all", "-"),
    "registry.load_s": ("s", "lower", "setup_s", "all", "-"),
    "catalog.build_s": ("s", "lower", "pass_s cold_pass_s", "iterative", "wordcount"),
    "catalog.build_jobs": ("count", "lower", "pass_s cold_pass_s", "iterative", "wordcount"),
    "spark.plan_s": ("s", "lower", "pass_s", "iterative", "wordcount"),
    "spark.jobs": ("count", "lower", "pass_s", "iterative", "wordcount"),
    "spark.stages": ("count", "lower", "pass_s", "iterative", "wordcount"),
    "spark.tasks": ("count", "lower", "pass_s", "iterative", "wordcount"),
    "spark.core_busy_frac": ("ratio", "higher", "pass_s", "wordcount", "iterative"),
    "spark.executor_run_s": ("s", "lower", "pass_s", "wordcount iterative", "-"),
    "spark.executor_cpu_s": ("s", "lower", "pass_s", "wordcount iterative", "-"),
    "spark.gc_s": ("s", "lower", "pass_s", "wordcount iterative", "-"),
    "spark.input_mb": ("MB", "lower", "pass_s", "wordcount iterative", "-"),
    "spark.shuffle_write_mb": ("MB", "lower", "pass_s", "wordcount iterative", "-"),
    "spark.shuffle_read_mb": ("MB", "lower", "pass_s", "wordcount iterative", "-"),
    "spark.spill_mb": ("MB", "lower", "pass_s", "-", "wordcount iterative"),
    "spark.task_failures": ("count", "lower", "pass_s", "-", "wordcount iterative"),
    "python.boot_s": ("s", "lower", "cold_pass_s", "iterative", "wordcount"),
    "python.init_s": ("s", "lower", "pass_s cold_pass_s", "iterative", "wordcount"),
    "python.run_s": ("s", "lower", "pass_s", "iterative", "wordcount"),
    "python.sent_mb": ("MB", "lower", "pass_s", "iterative", "wordcount"),
    "python.received_mb": ("MB", "lower", "pass_s", "iterative", "wordcount"),
    "materialize.leftover_pins": ("count", "lower", "pass_s", "iterative", "-"),
    "materialize.pinned_mb": ("MB", "lower", "pass_s", "iterative", "-"),
    "jvm.peak_rss_mb": ("MB", "lower", "-", "all", "-"),
    "streaming.batches": ("count", "lower", "pass_s", "iterative", "wordcount"),
    "streaming.batch_s": ("s", "lower", "pass_s", "iterative", "wordcount"),
    "sink.write_s": ("s", "lower", "pass_s", "wordcount", "iterative"),
    "spark.output_mb": ("MB", "lower", "pass_s", "wordcount", "iterative"),
    "collect_s": ("s", "lower", "pass_s", "iterative", "wordcount"),
    "trace.overhead_s": ("s", "lower", "-", "all", "-"),
}


class Run:
    """State of one benchmark run: session, inputs, oracle, tracer."""

    def __init__(self, spark, workload: str, data: str, run_dir: str, oracle, traced: bool):
        from graftbench.trace import NullTracer, SparkProbe, Tracer

        self.spark = spark
        self.workload = workload
        self.data = data
        self.oracle = oracle
        self.probe = SparkProbe(spark)
        self.tracer = Tracer(self.probe.next_job_id) if traced else None
        self.null = NullTracer()
        self.sink = os.path.join(run_dir, "sink", "word_counts")
        self.passes: list[dict] = []

    # --- the queries of one pass ------------------------------------

    def _wordcount(self, tr):
        from mock_map_reduce_spark.catalog.flagship import TOP_N
        from mock_map_reduce_spark.operators.wordcount import word_count_dual_sink
        from mock_map_reduce_spark.sources.tables import read_text
        from mock_map_reduce_spark import registry

        with tr.span("sink.write", jobs=True):
            top = word_count_dual_sink(
                read_text(self.spark, self.data), self.sink, text_col="value", n=TOP_N
            )
        with tr.span("collect"):
            rows = [tuple(r) for r in top.collect()]
        return [
            (top, top.columns, lambda: rows, registry.ORACLES["top_words"]),
            (None, ["word", "count"], self._sink_rows, registry.ORACLES["word_count"]),
        ]

    def _sink_rows(self):
        import pyarrow.parquet as pq

        # Through numpy: a fifth of to_pylist's time on 10^5 rows, and
        # neither column holds nulls.
        table = pq.read_table(self.sink, columns=["word", "count"])
        return list(zip(*(c.to_numpy(zero_copy_only=False).tolist() for c in table.columns)))

    def _registry(self, names, tr):
        from mock_map_reduce_spark import registry

        out = []
        for name in names:
            with tr.span("catalog.build", jobs=True, query=name):
                df = registry.QUERIES[name](self.spark, self.data)
            with tr.span("collect", query=name):
                rows = [tuple(r) for r in df.collect()]
            out.append((df, df.columns, lambda rows=rows: rows, registry.ORACLES[name]))
        return out

    def _queries(self, tr):
        if self.workload == "wordcount":
            return self._wordcount(tr)
        return self._registry(ITERATIVE_QUERIES, tr)

    # --- one pass ---------------------------------------------------

    def one_pass(self, kind: str, traced: bool = False) -> dict:
        """Run, check and clean up one pass; return its record."""
        from graftbench.oracle import digest
        from graftbench.trace import BatchCounter, plan_seconds

        rec = {"kind": kind, "traced": traced, "ok": False}
        tr = self.tracer if traced else self.null
        listener = None
        if traced:
            listener = BatchCounter()
            self.spark.streams.addListener(listener)
            lo = self.probe.ids()
            own0 = self.tracer.own_s
        try:
            t0 = time.perf_counter()
            with tr.span("pass", kind=kind) as span:
                outputs = self._queries(tr)
            rec["wall_s"] = time.perf_counter() - t0
            mismatches = [
                sql[:60]
                for _, cols, rows, sql in outputs
                if digest(cols, rows()) != self.oracle.expected(sql)
            ]
            rec["ok"] = not mismatches
            if mismatches:
                rec["error"] = f"oracle mismatch: {mismatches}"
            if traced:
                hi = self.probe.ids()
                idx = span["id"]
                layers = self.probe.counters(lo, hi)
                layers.update(
                    {
                        "catalog.build_s": self.tracer.total("catalog.build", under=idx),
                        "catalog.build_jobs": self.tracer.total("catalog.build", "jobs", under=idx),
                        "sink.write_s": self.tracer.total("sink.write", under=idx),
                        "collect_s": self.tracer.total("collect", under=idx),
                        "spark.plan_s": sum(plan_seconds(df) for df, *_ in outputs if df is not None),
                        "streaming.batches": float(listener.batches),
                        "streaming.batch_s": listener.batch_s,
                        "trace.overhead_s": self.tracer.own_s - own0 + listener.own_s,
                    }
                )
                cores = self.spark.sparkContext.defaultParallelism
                layers["spark.core_busy_frac"] = layers["spark.executor_run_s"] / (rec["wall_s"] * cores)
                rec["layers"] = layers
        except Exception as exc:  # noqa: BLE001 -- a failed pass is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
        finally:
            if listener is not None:
                self.spark.streams.removeListener(listener)
            pins, pinned_mb = self.probe.pins()
            rec.setdefault("layers", {}).update(
                {"materialize.leftover_pins": float(pins), "materialize.pinned_mb": pinned_mb}
            )
            self.clean()
        self.passes.append(rec)
        log(
            f"{kind}{' traced' if traced else ''} pass {rec.get('wall_s', float('nan')):.3f}s "
            f"ok={rec['ok']} {rec.get('error', '')}"
        )
        return rec

    def clean(self) -> None:
        """Drop everything a pass left in the session; assert none is left."""
        spark = self.spark
        for q in spark.streams.active:
            q.stop()
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        self.probe.drain()
        left = jsc.getPersistentRDDs().size()
        if left or spark.streams.active:
            raise RuntimeError(f"cleanup left {left} persisted RDDs / active streams")


def log(msg: str) -> None:
    """Progress line on stderr, stamped with the process age."""
    from graftbench.trace import process_age_s

    print(f"[graftbench {process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


# --- host record ----------------------------------------------------


def _sha_seconds(threads: int, mb: int = 128) -> float:
    """Wall seconds for ``threads`` threads to each sha256 ``mb`` MiB."""
    buf = b"\x5a" * (mb << 20)
    workers = [threading.Thread(target=hashlib.sha256, args=(buf,)) for _ in range(threads)]
    t0 = time.perf_counter()
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return time.perf_counter() - t0


def calibrate(cores: int) -> dict[str, float]:
    return {"sha256_1core_s": _sha_seconds(1), f"sha256_{cores}core_s": _sha_seconds(cores)}


def host_record(spark) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark.master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


# --- the run --------------------------------------------------------


def _prepare_dirs(name: str) -> str:
    run_dir = os.path.join(WORK, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    # Set before the engine or pyspark is imported: tempfile caches its
    # directory, and the JVM and its Python workers inherit these.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return run_dir


def _oracle_tables(workload: str, data: str) -> dict[str, str]:
    if workload == "wordcount":
        # One row per line, as Spark's text source reads it: DuckDB's
        # regex split is superlinear on whole-file strings.
        return {
            "documents": f"SELECT text FROM read_csv('{data}/*.txt', columns={{'text': 'VARCHAR'}}, "
            "header=false, delim='\\t', quote='', escape='', auto_detect=false)"
        }
    from mock_map_reduce_spark.sources.tables import TABLES

    return {t: f"SELECT * FROM '{data}/{t}.parquet'" for t in TABLES}


def _median(values):
    return statistics.median(values) if values else None


def _start_session():
    """Start the default session, load the registry, run a first job."""
    from graftbench.trace import process_age_s

    from mock_map_reduce_spark import registry
    from mock_map_reduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("graftbench")
    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    spark.range(1).count()
    # From process start (interpreter start-up included) when /proc
    # agrees with the in-process clock; a container whose /proc/uptime
    # is virtualized falls back to the time since this module loaded.
    since_main = time.perf_counter() - _T0
    setup_s = process_age_s()
    if not since_main <= setup_s <= since_main + 5:
        setup_s = since_main
    log(f"setup {setup_s:.2f}s")
    return spark, {"setup_s": setup_s, "session.start_s": t1 - t0, "registry.load_s": t2 - t1}


def _fsync_tree(root: str) -> None:
    """Flush the generated inputs, so no write-back overlaps a pass."""
    for dirpath, _, files in os.walk(root):
        for name in files:
            fd = os.open(os.path.join(dirpath, name), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def _open_oracle(workload: str, data: str, run_dir: str):
    from graftbench.oracle import OracleCache, fingerprint

    return OracleCache(
        os.path.join(WORK, "oracle_digests.json"),
        _oracle_tables(workload, data),
        fingerprint(data),
        os.path.join(run_dir, "tmp"),
    )


def cold_start(workload: str, data: str) -> int:
    """In a fresh process: set up, run one cold pass over ``data``, stop.

    Prints one JSON line with the set-up times and the pass record.
    """
    run_dir = _prepare_dirs("cold")
    os.chdir(run_dir)
    sys.path.insert(0, ROOT)
    spark, setup = _start_session()
    oracle = _open_oracle(workload, data, run_dir)
    try:
        rec = Run(spark, workload, data, run_dir, oracle, traced=False).one_pass("cold")
    finally:
        oracle.close()
        _stop(spark)
    print(json.dumps({"setup": setup, "pass": rec}, default=str))
    return 0


def _spawn_cold_start(workload: str, seed: int, data: str) -> dict:
    """Run ``cold_start`` in a new process; return its record.

    The process gets the environment this one started with and a
    process group of its own, so that on a timeout it and its JVM are
    killed together; it is always waited for.
    """
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--cold-start", data]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=_ENV0, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=COLD_START_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return {"pass": {"kind": "cold", "ok": False, "error": "cold start timed out"}}
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    try:
        return json.loads(out.strip().splitlines()[-1])
    except (ValueError, IndexError):
        return {"pass": {"kind": "cold", "ok": False, "error": f"cold start exited {proc.returncode}"}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Internal: one of a run's extra fresh sessions (see COLD_STARTS).
    ap.add_argument("--cold-start", metavar="INPUT_DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.cold_start:
        return cold_start(args.workload, args.cold_start)

    run_dir = _prepare_dirs("run")
    os.chdir(run_dir)  # cwd-relative Spark files (warehouse) land here
    sys.path.insert(0, ROOT)

    spark, setup = _start_session()

    from graftbench import inputs

    cores = spark.sparkContext.defaultParallelism
    host = host_record(spark)
    host["calib_pre"] = calibrate(cores)

    data = inputs.GENERATORS[args.workload](args.seed, os.path.join(run_dir, "inputs"))
    _fsync_tree(data)
    oracle = _open_oracle(args.workload, data, run_dir)
    log("inputs written")
    run = Run(spark, args.workload, data, run_dir, oracle, traced=bool(args.trace))
    try:
        cold = run.one_pass("cold")
        for _ in range(WARMUP_PASSES[args.workload]):
            run.one_pass("warmup")
        measured: list[dict] = []
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds or len(measured) < MIN_MEASURED:
            measured.append(run.one_pass("measured", traced=bool(args.trace)))
        peak_rss = run.probe.jvm_peak_rss_mb()
    finally:
        oracle.close()
    _stop(spark)
    log("stopped")

    # The traced run reports no set-up or cold-pass metric, so it starts
    # no further sessions.
    starts = [{"setup": setup, "pass": cold}]
    if not args.trace:
        for _ in range(COLD_STARTS[args.workload] - 1):
            starts.append(_spawn_cold_start(args.workload, args.seed, data))
    host["calib_post"] = calibrate(cores)

    passes = run.passes + [s["pass"] for s in starts[1:]]
    failed = sum(not p["ok"] for p in passes)
    good = [p for p in measured if p["ok"]]
    if args.trace:
        values = {
            name: _median([p["layers"][name] for p in good if name in p["layers"]])
            for name in LAYERS
        }
        values.update(
            {
                "session.start_s": setup["session.start_s"],
                "registry.load_s": setup["registry.load_s"],
                "jvm.peak_rss_mb": peak_rss,
            }
        )
        metrics = {n: {"value": values[n], "unit": LAYERS[n][0]} for n in LAYERS}
    else:
        values = {
            "pass_s": _median([p["wall_s"] for p in good]),
            "cold_pass_s": _median([s["pass"]["wall_s"] for s in starts if s["pass"]["ok"]]),
            "setup_s": _median([s["setup"]["setup_s"] for s in starts if "setup" in s]),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "setup": [s.get("setup") for s in starts],
        "passes": passes,
        "metrics": metrics,
    }
    stem = os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if run.tracer is not None:
        run.tracer.dump(stem + "-spans.json")

    print(json.dumps({"host": host}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(passes),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
