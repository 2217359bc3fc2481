#!/usr/bin/env python3
"""Engine benchmark: one workload of the query registry as a closed loop.

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 16 --trace 0

Inputs are generated from ``--seed`` (``perfbench/gen.py``) under
``.perfbench_work/``; the engine receives only that directory. A run:

1. sets the session up from a stopped JVM: ``get_spark``, ``ship_package``,
   the first ``mapInPandas`` and the first streaming micro-batch. It does
   so up to ``SETUP_REPEATS`` times, each in a new JVM, while
   ``SETUP_BUDGET_S`` allows, and ``setup_s`` is the median, each repeat
   counted from the start of this script (the interpreter and imports are
   paid once and added to every repeat; input generation is excluded);
2. runs one untimed warm-up pass over the workload's queries that checks
   every result against its DuckDB oracle;
3. issues the queries back to back, in order, for ``--seconds`` (one
   client; each query is ``spec.fn`` plus a noop write of every column);
4. with ``--trace 1``, sets up once and splits ``--seconds`` in two: step 3
   runs for the first half, then a second cold session with Spark's event
   log, job groups and a streaming listener runs one untimed pass and
   repeats step 3 for the second half, and the traced time is attributed
   to the engine's layers (``perfbench/eventlog.py``). The tracing
   overhead is the traced minus the untraced ``total_s``.

Stdout ends with one JSON line: ``correct``, ``attempted``, ``failed`` and
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). A full report with provenance, per-pass query times and
the per-query layer breakdown goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

SF = 0.01
DOCUMENTS = 250
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile
SETUP_REPEATS = 3
# no further set-up repeat once this much has been spent, so a run on a
# contended host still ends well within its time limit
SETUP_BUDGET_S = 15.0
# query_tail_s, fail_frac and peak_rss_mb are printed but not contract
# metrics: a run has too few samples for a tail above the median; fail_frac
# is 0 when the engine is correct (attempted and failed carry it); and with
# the engine's 8 GB driver heap the JVM's resident memory grows through the
# whole timed window, so its peak says how far the window got (it rises as
# queries get faster) more than how much memory the work needs.
END_TO_END = ("setup_s", "total_s", "query_p50_s")
SESSION_METRICS = ("session_start_s", "pkg_ship_s", "py_warm_s", "stream_warm_s")


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    return "ratio" if metric in ("stage_skew", "empty_batch_frac") else "count"


def _identity(batches):
    return batches


def _stream_warmup(spark) -> None:
    """The first micro-batch of a session pays state-store, streaming
    codegen and file-source/memory-sink start-up (the same warm-up
    ``bench.py`` does)."""
    src = tempfile.mkdtemp(prefix="stwarm_")
    try:
        spark.range(0, 32).write.mode("overwrite").parquet(src)
        q = (
            spark.readStream.schema("id long").parquet(src).groupBy("id").count()
            .writeStream.format("memory").queryName("perfbench_stwarm")
            .outputMode("update").trigger(availableNow=True).start()
        )  # fmt: skip
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
    finally:
        shutil.rmtree(src, ignore_errors=True)


def setup_session(conf: dict):
    """Start a session and pay every first-use cost; returns the session
    and the seconds spent in each step."""
    from gmall_flink_210726_spark.session import default_cpus, get_spark, ship_package

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=default_cpus(), extra_conf=conf)
    t1 = time.perf_counter()
    ship_package(spark)
    t2 = time.perf_counter()
    spark.range(0, 64, 1, default_cpus()).mapInPandas(_identity, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    t3 = time.perf_counter()
    _stream_warmup(spark)
    t4 = time.perf_counter()
    return spark, dict(zip(SESSION_METRICS, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)))


def cold_setups(conf: dict, repeats: int, imports_s: float):
    """:func:`setup_session` up to ``repeats`` times, each from a stopped
    JVM, until ``SETUP_BUDGET_S`` is spent; keeps the last session. Returns
    it and one step dict per set-up. ``imports_s``, the interpreter and
    imports this process paid once, is added to each ``session_start_s``."""
    runs = []
    t0 = time.perf_counter()
    while True:
        spark, steps = setup_session(conf)
        steps["session_start_s"] += imports_s
        runs.append(steps)
        if len(runs) >= repeats or time.perf_counter() - t0 > SETUP_BUDGET_S:
            return spark, runs
        _stop_spark(spark)


def median_steps(runs: list[dict]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in runs) for k in SESSION_METRICS}


class Outcomes:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}

    def fail(self, name: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.setdefault(name, "".join(traceback.format_exception_only(exc)).strip())
        traceback.print_exception(exc, file=sys.stderr)


def oracle_pass(spark, specs, queries, sf_dir, count: Outcomes) -> dict[str, float]:
    """Untimed warm-up: every query's result against its DuckDB oracle,
    with the normalization of the repo's oracle tests. DuckDB computes the
    next oracles on a second thread while Spark runs, since nothing here
    is timed."""
    from tests.oracle import assert_frames_match, duckdb_con

    con = duckdb_con(sf_dir)
    times = {}
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracles = {name: pool.submit(lambda sql: con.execute(sql).df(), specs[name].oracle) for name in queries}
            for name in queries:
                count.attempted += 1
                try:
                    expected = oracles[name].result()
                    t0 = time.perf_counter()
                    assert_frames_match(specs[name].fn(spark, sf_dir), expected, name)
                    times[name] = time.perf_counter() - t0
                except Exception as exc:  # a failing query is a measured outcome
                    count.fail(name, exc)
    finally:
        con.close()
    return times


def timed_loop(spark, specs, queries, sf_dir, seconds, count: Outcomes, spans=None) -> list[dict]:
    """Closed loop for ``seconds``, the first pass always whole; returns
    one ``{query: seconds, or None if it failed}`` dict per pass, the last
    possibly cut at the deadline. With ``spans``, tags each phase with a
    job group and records its span."""
    from perfbench.eventlog import Span, job_group

    sc = spark.sparkContext
    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        passes.append({})
        for name in queries:
            if len(passes) > 1 and time.perf_counter() >= deadline:
                break
            count.attempted += 1
            passes[-1][name] = None
            marks = []
            t0 = time.perf_counter()
            try:
                for phase in ("build", "action"):
                    span_t0 = time.time() * 1e3
                    if spans is not None:
                        sc.setJobGroup(job_group(len(passes), name, phase), name)
                    if phase == "build":
                        df = specs[name].fn(spark, sf_dir)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                    marks.append(Span(len(passes), name, phase, span_t0, time.time() * 1e3))
            except Exception as exc:  # counted; the loop goes on
                count.fail(name, exc)
                continue
            passes[-1][name] = time.perf_counter() - t0
            if spans is not None:
                spans.extend(marks)
    return passes


def summarize(passes: list[dict], queries) -> dict:
    """End-to-end timings of the timed passes.

    ``total_s`` is one typical pass: the sum over queries of each query's
    median time over every pass it succeeded in, the pass cut at the
    deadline included, so one slow pass moves it little. The per-execution
    statistics use only the passes in which every query ran and succeeded,
    so each query weighs the same in them. The tail is the highest
    percentile with ``TAIL_BEYOND`` samples beyond it; with fewer samples
    than that it is the maximum."""
    per_query = {q: [p[q] for p in passes if p.get(q) is not None] for q in queries}
    whole = [p for p in passes if len(p) == len(queries) and None not in p.values()]
    samples = sorted(t for p in whole for t in p.values())
    if not samples:
        raise RuntimeError("no pass of the workload completed without a failure")
    k = len(samples) - TAIL_BEYOND - 1 if len(samples) > TAIL_BEYOND else len(samples) - 1
    return {
        "total_s": sum(statistics.median(ts) for ts in per_query.values()),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": samples[k],
        "tail_percentile": 100.0 * (k + 1) / len(samples),
        "samples": len(samples),
        "passes": len(whole),
    }


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10, check=True
        )
    except (OSError, subprocess.SubprocessError):
        return None  # not a git checkout
    return out.stdout.strip()


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait until every
    process below this one (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    pids = descendants(os.getpid())
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    end = time.monotonic() + 30
    while pids and time.monotonic() < end:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in pids:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def run(args, tmp: str, sf_dir: str, gen_s: float, sampler) -> dict:
    from gmall_flink_210726_spark.registry import load_all
    from gmall_flink_210726_spark.session import default_cpus

    import pyspark

    from perfbench import eventlog
    from perfbench.probes import ProgressLog

    queries = WORKLOADS[args.workload]
    base_conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    report: dict = {"workload": args.workload, "queries": list(queries), "seed": args.seed, "sf": SF, "documents": DOCUMENTS}
    count = Outcomes()
    spark = None
    try:
        imports_s = time.perf_counter() - _T_PROCESS - gen_s
        spark, setups = cold_setups(base_conf, 1 if args.trace else SETUP_REPEATS, imports_s)
        specs = load_all()
        missing = [q for q in queries if q not in specs or not specs[q].oracle]
        if missing:
            raise SystemExit(f"perfbench: not registered or without an oracle: {missing}")
        report["provenance_spark"] = {"spark": spark.version, "pyspark": pyspark.__version__, "cpus": default_cpus()}

        cold = oracle_pass(spark, specs, queries, sf_dir, count)
        report["oracle_failures"] = dict(count.errors)
        sampler.take_window()
        seconds = args.seconds / 2 if args.trace else args.seconds
        passes = timed_loop(spark, specs, queries, sf_dir, seconds, count)
        rss = sampler.take_window()
        e2e = summarize(passes, queries)
        e2e["setup_s"] = statistics.median(sum(r.values()) for r in setups)
        e2e["peak_rss_mb"] = rss["total"]
        report["rss_peak_mb"] = rss
        report["end_to_end"] = e2e
        report["query_times"] = {
            q: {"oracle": cold.get(q), "timed": [p.get(q) for p in passes]}
            for q in queries
        }

        if args.trace:
            _stop_spark(spark)
            log_dir = os.path.join(tmp, "eventlog")
            os.makedirs(log_dir)
            traced_conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
            spark, more = cold_setups(base_conf | traced_conf, 1, imports_s)
            setups += more
            listener = ProgressLog()
            spark.streams.addListener(listener)
            # one untimed pass, as the oracle pass is in the untraced half,
            # so that traced minus untraced total_s is the cost of tracing
            # alone; it records no span, so its events are not attributed
            timed_loop(spark, specs, queries, sf_dir, 0, count)
            spans: list = []
            sampler.take_window()
            traced = timed_loop(spark, specs, queries, sf_dir, seconds, count, spans)
            rss = sampler.take_window()
            listener.drain()
            _stop_spark(spark)
            spark = None
            rows = eventlog.attribute(eventlog.read_event_log(log_dir), spans, listener.progress)
            by_query = eventlog.per_query(rows, queries)
            layers = eventlog.workload_totals(by_query)
            layers.update(median_steps(setups))
            layers["driver_rss_mb"] = rss["driver"]
            layers["worker_rss_mb"] = rss["worker"]
            layers["trace_overhead_s"] = summarize(traced, queries)["total_s"] - e2e["total_s"]
            report["per_layer"] = layers
            report["per_query_layers"] = by_query
            for q in queries:
                report["query_times"][q]["traced"] = [p.get(q) for p in traced]
        report["setups"] = setups
    finally:
        if spark is not None:
            _stop_spark(spark)
    report["attempted"], report["failed"], report["errors"] = count.attempted, count.failed, count.errors
    return report


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "gmall_flink_210726_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle.py")
    ):
        print("perfbench: the engine package and tests/oracle.py must sit next to perfbench/", file=sys.stderr)
        return 2
    # pyspark and the engine load here, before generation starts: their
    # import time belongs to set-up
    from perfbench import gen
    from perfbench.probes import RssSampler

    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"run{os.getpid()}_", dir=work)
    # everything the engine and Spark write goes below the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # every JVM, the spark-submit launcher's too: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    provenance = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),  # unset: the engine's 8g
        "loadavg_1m_start": os.getloadavg()[0],
        "python": platform.python_version(),
        "git_commit": _git_commit(),
    }
    try:
        t0 = time.perf_counter()
        sf_dir = gen.generate(os.path.join(work, "data"), args.seed, SF, DOCUMENTS)
        gen_s = time.perf_counter() - t0
        with RssSampler() as sampler:
            report = run(args, tmp, sf_dir, gen_s, sampler)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    provenance["loadavg_1m_end"] = os.getloadavg()[0]
    provenance.update(report.pop("provenance_spark", {}))
    report["provenance"] = provenance

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)

    e2e = report["end_to_end"]
    attempted, failed = report["attempted"], report["failed"]
    print(f"perfbench {args.workload} seed={args.seed} report={os.path.relpath(path, ROOT)}")
    print(f"provenance {json.dumps(provenance)}")
    print(
        f"setup_s={e2e['setup_s']:.4f} s  total_s={e2e['total_s']:.4f} s  "
        f"query_p50_s={e2e['query_p50_s']:.4f} s  "
        f"query_tail_s={e2e['query_tail_s']:.4f} s (p{e2e['tail_percentile']:.1f} of {e2e['samples']} samples)  "
        f"fail_frac={failed / attempted:.4f} ({failed}/{attempted})  peak_rss_mb={e2e['peak_rss_mb']:.1f} MB"
    )
    if args.trace:
        metrics = report["per_layer"]
        print("per_layer " + " ".join(f"{k}={v:.4g}" for k, v in metrics.items()))
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
