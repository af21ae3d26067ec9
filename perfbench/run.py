#!/usr/bin/env python3
"""kgeng benchmark: warm-state, correctness-gated, one JSON line.

    python3 perfbench/run.py --workload {build,reads} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Each run starts its own local[4] Spark
session, generates or looks up its inputs, checks the program's
outputs in an untimed warm-up, then times warm ops for ``--seconds``
(and at least two ops).
Everything before the first timed op is ``setup_s``.

``--trace 0`` prints the end-to-end metrics of the workload.
``--trace 1`` prints the per-layer metrics instead: it runs one traced
tour over both workloads with Spark's event log on and every layer call
tagged with ``setJobGroup``, so every per-layer metric comes from the
same run. The last line of stdout is always the result object; progress
and diagnostics go to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
OUT = os.path.join(HERE, "out")

# -- session pins (kgeng/session.py is used as is; these ride on top) --
CPUS = 4  # local[4]: one task slot per core of the 4-core reference host
DRIVER_MEM = "3g"  # the session default (48g) exceeds a 15 GB host
# Driver heap pins: a fixed heap and young generation. G1's adaptive
# sizing made the peak RSS of identical runs differ by up to 2x. The JIT
# is left at the JVM default (tiered C2), the one kgeng runs under.
JVM_OPTS = "-Xms3g -Xmn768m"

# -- workload sizes (perfbench/DESIGN.md says how they were chosen) --
BUILD_PAGES = 10000
KERNEL_PAGES = 200  # page sample for the Spark-free kernel throughput
READ_QUERIES = [
    # graph: the kgview Cypher surface (union-heavy plans, joins)
    "kg_label_inventory",
    # direction-2 tail: small-build-side joins and windows
    "q_customer_rfm",
    "q_revenue_rollup",
    "q_revenue_rolling",
    "doc_decontam",
    # one per remaining read layer
    "dedup_exact",  # textops.dedup
    "ann_cosine_topk",  # textops.similarity
    "mm_features",  # textops.multimodal (Arrow UDF channel)
    "q_events_sessions",  # streaming.events
]
PIPELINE_STAGES = [
    "extract_text",
    "triples",
    "link_dims",
    "canon_map",
    "link",
    "canon",
    "materialize",
]
WORKLOADS = ("build", "reads")
MB = 1024.0 * 1024.0


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


def host_probe() -> float:
    """Fixed pure-Python CPU loop, no kgeng code: marks slow host windows."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t0


class Gate:
    """Counts gated ops; any exception or wrong output is a failed op."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, label: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem:
            self.failed += 1
            log(f"FAILED {label}: {problem}")
        return not problem

    def op(self, label: str, fn) -> bool:
        """One gated op: ``fn`` returns None (or "") when its output is
        right, else the problem it found."""
        try:
            problem = fn()
        except Exception as exc:  # an op that raises is a failed op; the run goes on
            traceback.print_exc(file=sys.stderr)
            problem = f"{type(exc).__name__}: {exc}"
        return self.record(label, problem)


# -- session --------------------------------------------------------------


def pin_environment(work: str) -> str:
    """Keep every file the session writes inside the run's work dir and
    make ``kgeng`` importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + prev if prev else "")
    os.environ["KGENG_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    tempfile.tempdir = tmp
    return tmp


def start_session(tmp: str, event_dir: str | None):
    from kgeng.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTS}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                # 4.1's default is a rolling zstd log; plain JSON lines parse anywhere
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("kgeng-perfbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM and wait for every process below us."""
    from pyspark import SparkContext

    import procstat

    below = procstat.descendants(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    alive = below
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.2)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


# -- build ----------------------------------------------------------------


def build_inputs(work: str, seed: int) -> tuple[str, str, int]:
    import golden
    from kgeng import fixtures

    offset = (seed % 1_000_000) * BUILD_PAGES
    pages = golden.write_corpus(os.path.join(work, "pages.parquet"), offset, BUILD_PAGES)
    dictionary = fixtures.write_dictionary(os.path.join(work, "dictionary.parquet"))
    return pages, dictionary, offset


def gated_build(gate: Gate, spark, pages: str, dictionary: str, out: str, offset: int) -> bool:
    """One untimed build followed by its golden check."""
    import golden
    from kgeng.pipeline import run_pipeline

    def op():
        run_pipeline(spark, pages, dictionary, out)
        return "; ".join(golden.check_build(out, offset, BUILD_PAGES))

    return gate.op(f"build {os.path.basename(out)}", op)


def workload_build(spark, work: str, seed: int, seconds: float, gate: Gate) -> dict:
    import golden
    import procstat
    from kgeng.pipeline import run_pipeline

    pages, dictionary, offset = build_inputs(work, seed)
    log(f"corpus: pages {offset}..{offset + BUILD_PAGES - 1}")
    gated_build(gate, spark, pages, dictionary, os.path.join(work, "warmup"), offset)
    shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)
    setup_s = time.perf_counter() - T_PROCESS

    ops = []  # (out_dir, wall_s, cpu_s, error)
    t_loop = time.perf_counter()
    while len(ops) < 2 or time.perf_counter() - t_loop < seconds:
        out = os.path.join(work, f"build{len(ops)}")
        c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        try:
            run_pipeline(spark, pages, dictionary, out)
            error = None
        except Exception as exc:  # recorded below as a failed op
            traceback.print_exc(file=sys.stderr)
            error = f"{type(exc).__name__}: {exc}"
        ops.append((out, time.perf_counter() - t0, procstat.tree_cpu_s() - c0, error))
    hwm = procstat.tree_hwm_kb()

    stored = []
    for out, wall, _cpu, error in ops:  # checked after timing
        if error is None:
            error = "; ".join(golden.check_build(out, offset, BUILD_PAGES))
            stored.append(golden.parquet_mb(out))
        gate.record(f"timed build {os.path.basename(out)} ({wall:.2f}s)", error)
        shutil.rmtree(out, ignore_errors=True)
    # The fastest and the cheapest timed build: under the default JIT the
    # first timed build (the session's second) is still warming (6-20%
    # longer, 10-30% more CPU than the next one), and a host stall in one
    # build drops out too. A second warm-up build would do the same, but
    # the run budget has no room for it.
    op_s = min(w for _o, w, _c, _e in ops)
    return {
        "setup_s": setup_s,
        "op_s": op_s,
        "items_per_s": BUILD_PAGES / op_s,
        "cpu_s": min(c for _o, _w, c, _e in ops),
        "rss_mb": sum(kb for _n, kb in hwm.values()) / 1024.0,
        "stored_mb": statistics.median(stored) if stored else 0.0,
        "ops": [(w, c) for _o, w, c, _e in ops],
        "hwm_kb": sorted(hwm.values()),
    }


# -- reads ----------------------------------------------------------------


def read_order(seed: int) -> list[str]:
    order = list(READ_QUERIES)
    random.Random(seed).shuffle(order)
    return order


def checked_read_pass(spark, order: list[str], gate: Gate) -> None:
    """Untimed pass that collects every query and compares it with its
    DuckDB twin; it is also the warm-up of the timed passes."""
    import __spark_entry__ as entry
    from oracle import TwinCache

    fns, sqls = entry.queries(), entry.oracle_sql()
    os.makedirs(OUT, exist_ok=True)
    twins = TwinCache(REPO, SF_DIR, os.path.join(OUT, "twins.json"))
    try:
        for name in order:

            def op(name=name):
                df = fns[name](spark, SF_DIR)
                return twins.check(df.columns, [tuple(r) for r in df.collect()], sqls[name])

            gate.op(f"check {name}", op)
    finally:
        twins.close()


def timed_read_pass(spark, order: list[str], gate: Gate, span=None) -> dict[str, float]:
    """One pass over ``order``, each query written to the noop sink;
    ``span`` (optional) wraps each query call. Returns each query's wall."""
    import __spark_entry__ as entry

    fns = entry.queries()
    walls = {}
    for name in order:

        def op(name=name):
            fns[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()

        t0 = time.perf_counter()
        if span is None:
            gate.op(name, op)
        else:
            span(f"queries.{name}", lambda op=op, name=name: gate.op(name, op))
        walls[name] = time.perf_counter() - t0
    return walls


def shuffle_written_mb(spark) -> float:
    """Shuffle bytes the session has written to local disk so far, from
    Spark's status store (the driver is the only executor of local[N])."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True).iterator()
    total = 0
    while execs.hasNext():
        total += execs.next().totalShuffleWrite()
    return total / MB


def workload_reads(spark, work: str, seed: int, seconds: float, gate: Gate) -> dict:
    import procstat

    order = read_order(seed)
    log(f"query order: {order}")
    checked_read_pass(spark, order, gate)
    setup_s = time.perf_counter() - T_PROCESS

    passes = []  # (wall_s, cpu_s, shuffle MB written, {query: wall_s})
    t_loop = time.perf_counter()
    while len(passes) < 2 or time.perf_counter() - t_loop < seconds:
        c0, t0, s0 = procstat.tree_cpu_s(), time.perf_counter(), shuffle_written_mb(spark)
        walls = timed_read_pass(spark, order, gate)
        wall, cpu = time.perf_counter() - t0, procstat.tree_cpu_s() - c0
        passes.append((wall, cpu, shuffle_written_mb(spark) - s0, walls))
    # each query's fastest warm run and the cheapest pass: a host stall in
    # one pass drops out, and so does the JIT compilation the first timed
    # pass still carries (~20% more CPU than the next one)
    op_s = sum(min(p[3][q] for p in passes) for q in order)
    hwm = procstat.tree_hwm_kb()
    return {
        "setup_s": setup_s,
        "op_s": op_s,
        "items_per_s": len(order) / op_s,
        "cpu_s": min(p[1] for p in passes),
        "rss_mb": sum(kb for _n, kb in hwm.values()) / 1024.0,
        # what a pass writes to disk: shuffle files (the noop sink stores nothing)
        "stored_mb": statistics.median(p[2] for p in passes),
        "ops": passes,
        "hwm_kb": sorted(hwm.values()),
    }


# -- traced tour ----------------------------------------------------------


class Spans:
    """Wall, process-tree CPU and job-group tag of each traced layer call."""

    OTHER = "perfbench.untraced"

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: dict[str, tuple[float, float, float]] = {}
        self.sc.setJobGroup(self.OTHER, self.OTHER)

    def __call__(self, name: str, fn):
        import procstat

        self.sc.setJobGroup(name, name)
        c0, t0 = procstat.tree_cpu_s(), time.time()
        try:
            return fn()
        finally:
            t1 = time.time()
            self.spans[name] = (t0 * 1000.0, t1 * 1000.0, procstat.tree_cpu_s() - c0)
            self.sc.setJobGroup(self.OTHER, self.OTHER)

    def wall_s(self, name: str) -> float:
        t0, t1, _ = self.spans[name]
        return (t1 - t0) / 1000.0

    def cpu_s(self, name: str) -> float:
        return self.spans[name][2]


def trace_build(spark, work: str, seed: int, gate: Gate, spans: Spans, m: dict) -> dict:
    import pyarrow.parquet as pq

    import golden
    from kgeng.extract.text import extract_text_py
    from kgeng.extract.triples import extract_triples_py
    from kgeng.pipeline import Pipeline, run_pipeline

    pages, dictionary, offset = build_inputs(work, seed)
    gated_build(gate, spark, pages, dictionary, os.path.join(work, "warmup"), offset)
    t0 = time.perf_counter()
    gated_build(gate, spark, pages, dictionary, os.path.join(work, "untraced"), offset)
    untraced_op = time.perf_counter() - t0

    # the same stages run_pipeline runs, one at a time, each its own span
    out = os.path.join(work, "traced")
    p = Pipeline(spark, pages, dictionary, out)
    paths: dict[str, object] = {}
    steps = {
        "extract_text": p.stage_extract_text,
        "triples": lambda: p.stage_triples(paths["extract_text"]),
        "link_dims": p.stage_link_dims,
        "canon_map": p.stage_canon_map,
        "link": lambda: p.stage_link(paths["triples"], paths["link_dims"]),
        "canon": lambda: p.stage_canon(paths["link"], paths["canon_map"]),
        "materialize": lambda: p.stage_materialize(paths["canon"], paths["canon_map"]),
    }
    for s in PIPELINE_STAGES:

        def op(s=s):
            paths[s] = spans(f"pipeline.{s}", steps[s])

        if not gate.op(f"stage {s}", op):
            break
    else:
        gate.record("check traced build", "; ".join(golden.check_build(out, offset, BUILD_PAGES)))
    rows = {s: v.get("rows", v.get("nodes", 0) + v.get("edges", 0)) for s, v in p.metrics.items()}

    def resume():  # over the committed out dir: every stage must be skipped
        res = run_pipeline(spark, pages, dictionary, out)
        redone = [s for s, v in res["metrics"].items() if not v.get("skipped")]
        return f"resume recomputed {redone}" if redone else None

    t0 = time.perf_counter()
    gate.op("resume", resume)
    m["io.lineage.resume_s"] = time.perf_counter() - t0

    # Spark-free kernels over a fixed page sample
    html = pq.read_table(pages, columns=["html"]).column("html").to_pylist()[:KERNEL_PAGES]
    c0, t0 = time.process_time(), time.perf_counter()
    texts = [extract_text_py(h) for h in html]
    kernel_wall, kernel_cpu = time.perf_counter() - t0, time.process_time() - c0
    t0 = time.perf_counter()
    for text in texts:
        extract_triples_py(text)
    m["extract.kernel_pages_per_s"] = len(html) / kernel_wall
    m["extract.triples_kernel_pages_per_s"] = len(html) / (time.perf_counter() - t0)
    return {"untraced_op": untraced_op, "rows": rows, "kernel_cpu_per_page": kernel_cpu / len(html)}


def trace_reads(spark, seed: int, gate: Gate, spans: Spans) -> dict:
    order = read_order(seed)
    checked_read_pass(spark, order, gate)
    # untraced, traced, untraced: the overhead is taken against the mean
    # of the passes around the traced one, so warm-up still going on
    # between passes does not read as tracing cost
    untraced = []
    for traced in (False, True, False):
        t0 = time.perf_counter()
        timed_read_pass(spark, order, gate, span=spans if traced else None)
        if traced:
            traced_op = time.perf_counter() - t0
        else:
            untraced.append(time.perf_counter() - t0)
    # RDD blocks still held after the passes (localCheckpoint sites)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() + i.diskSize() for i in infos)
    return {"untraced_op": statistics.mean(untraced), "traced_op": traced_op, "cached_mb": cached / MB}


def trace_tour(work: str, tmp: str, seed: int, gate: Gate) -> dict:
    import eventlog

    m: dict[str, float] = {}
    probe0 = host_probe()
    event_dir = os.path.join(work, "eventlog")
    t0 = time.perf_counter()
    spark = start_session(tmp, event_dir)
    m["session.start_s"] = time.perf_counter() - t0
    try:
        spans = Spans(spark)
        b = trace_build(spark, work, seed, gate, spans, m)
        r = trace_reads(spark, seed, gate, spans)
    finally:
        stop_session(spark)
    m["host.probe_s"] = (probe0 + host_probe()) / 2.0

    (log_path,) = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    groups = eventlog.parse_file(log_path)

    def g(name: str) -> eventlog.Counters:
        return groups.get(name, eventlog.Counters())

    def counted(name: str) -> None:
        if g(name).tasks == 0:
            gate.record(f"trace {name}", "no tasks in the event log")

    stage_names = [f"pipeline.{s}" for s in PIPELINE_STAGES if f"pipeline.{s}" in spans.spans]
    for name in stage_names:
        counted(name)
        m[f"{name}.wall_s"] = spans.wall_s(name)
        m[f"{name}.cpu_s"] = spans.cpu_s(name)
        m[f"{name}.shuffle_mb"] = g(name).shuffle_write_bytes / MB
        m[f"{name}.rows"] = b["rows"].get(name.split(".", 1)[1], 0)
    pipe = eventlog.combine(groups, stage_names)
    m["pipeline.extract_text.task_skew"] = g("pipeline.extract_text").task_skew()
    m["pipeline.overlap_s"] = sum(spans.wall_s(n) for n in stage_names) - b["untraced_op"]
    m["pipeline.gc_s"] = pipe.gc_ms / 1000.0
    m["pipeline.spill_mb"] = pipe.spill_bytes / MB
    m["pipeline.peak_exec_mb"] = pipe.peak_exec_bytes / MB
    if "pipeline.extract_text" in spans.spans:
        stage_cpu_per_page = spans.cpu_s("pipeline.extract_text") / BUILD_PAGES
        m["extract.udf_overhead"] = stage_cpu_per_page / b["kernel_cpu_per_page"]

    read_names = [f"queries.{q}" for q in READ_QUERIES if f"queries.{q}" in spans.spans]
    for name in read_names:
        counted(name)
        m[f"{name}.wall_s"] = spans.wall_s(name)
        m[f"{name}.cpu_s"] = spans.cpu_s(name)
        m[f"{name}.shuffle_mb"] = g(name).shuffle_write_bytes / MB
    # queries.analytics (q_*, incl. streaming.events) is the one read layer
    # with more than one query in the pass
    analytics = [n for n in read_names if n.startswith("queries.q_")]
    m["queries.analytics.wall_s"] = sum(spans.wall_s(n) for n in analytics)
    m["queries.analytics.cpu_s"] = sum(spans.cpu_s(n) for n in analytics)
    m["queries.analytics.shuffle_mb"] = eventlog.combine(groups, analytics).shuffle_write_bytes / MB
    reads = eventlog.combine(groups, read_names)
    driver_ms = 0.0
    for name in read_names:  # query wall during which no Spark job ran
        lo, hi, _ = spans.spans[name]
        driver_ms += (hi - lo) - g(name).covered_ms(lo, hi)
    m["reads.driver_s"] = driver_ms / 1000.0
    m["reads.jobs"] = reads.jobs
    m["reads.stages"] = len(reads.stages)
    m["reads.gc_s"] = reads.gc_ms / 1000.0
    m["reads.spill_mb"] = reads.spill_bytes / MB
    m["reads.peak_exec_mb"] = reads.peak_exec_bytes / MB
    m["reads.cached_mb"] = r["cached_mb"]
    m["trace.reads_overhead_s"] = r["traced_op"] - r["untraced_op"]
    log(
        f"tracing overhead: build {m['pipeline.overlap_s']:.2f}s on {b['untraced_op']:.2f}s "
        f"(stages run one at a time), reads {m['trace.reads_overhead_s']:.2f}s on {r['untraced_op']:.2f}s"
    )
    return m


# -- main -----------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description="kgeng benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    needed = [
        os.path.join(REPO, "kgeng", "pipeline.py"),
        os.path.join(REPO, "tests", "oracle_harness.py"),
        os.path.join(REPO, "BENCHMARK.json"),
        SF_DIR,
    ]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        print(f"perfbench: not a kgeng checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = pin_environment(work)
    gate = Gate()
    try:
        if args.trace:
            values = trace_tour(work, tmp, args.seed, gate)
            wanted = spec["per_layer"]
        else:
            spark = start_session(tmp, None)
            try:
                fn = workload_build if args.workload == "build" else workload_reads
                values = fn(spark, work, args.seed, args.seconds, gate)
            finally:
                stop_session(spark)
            wanted = spec["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(OUT, f"last-{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump({"args": vars(args), "values": values, "failed": gate.failed}, fh, indent=1)

    for w in wanted:
        if w["name"] not in values:
            gate.record(f"metric {w['name']}", "not measured")
    metrics = {w["name"]: {"value": float(values.get(w["name"], 0.0)), "unit": w["unit"]} for w in wanted}
    result = {
        "correct": gate.failed == 0,
        "attempted": max(gate.attempted, 1),
        "failed": gate.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
