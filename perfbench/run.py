"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload keyword_report --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run generates (or reuses) the
workload's seeded inputs, opens a Spark session, sets up (loads, index
builds and any warm-up), runs the workload's operations for at
least ``--seconds`` seconds and at least its minimum count, checks
every operation's output against an independent replay, and prints a
summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones.  Their times
are CPU seconds of the Python driver and its JVM, not wall time: on a
shared virtual machine, time stolen by other guests moves wall time far
more than CPU time, and the summary prints the wall figures beside
them.  With
``--trace 1`` the same run is traced and the metrics are the per-layer
ones, attributed from Spark's event log.  Scratch files go under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def environment_report() -> None:
    """Load average and other JVMs, so a contended run is visible."""
    others = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().split(b"\0")
        except OSError:
            continue
        if cmd and os.path.basename(cmd[0]) == b"java":
            others.append(pid)
    la = os.getloadavg()
    print(f"load average: {la[0]:.2f} {la[1]:.2f} {la[2]:.2f}; "
          f"cpus: {os.cpu_count()}; other JVMs running: {len(others)} {others}")


def cpu_times() -> list[int]:
    """The machine's cumulative CPU ticks from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_report(start: list[int]) -> str:
    """Shares of the machine's CPU time since `start`.  Steal is time
    the hypervisor gave this machine's CPUs to other guests: a run with
    much of it ran on a contended host."""
    d = [b - a for a, b in zip(start, cpu_times())]
    total = sum(d) or 1
    return (f"cpu over the run: busy {100 * (d[0] + d[1] + d[2] + d[5] + d[6]) / total:.0f}%, "
            f"idle {100 * (d[3] + d[4]) / total:.0f}%, steal {100 * d[7] / total:.0f}%")


def warm_page_cache(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                while chunk := fh.read(1 << 20):
                    total += len(chunk)
    return total


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of every thread of process `pid`."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import spans as T

    # imports the library too: without it in the checkout this fails first
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    w = WORKLOADS[args.workload]
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, "runs", f"{w.name}-{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    environment_report()
    cpu0 = cpu_times()

    t, c = time.perf_counter(), cpu_s(os.getpid())
    inputs = w.inputs(os.path.join(work, "inputs"), args.seed)
    gen_s = time.perf_counter() - t
    nbytes = warm_page_cache(inputs)
    print(f"inputs: {inputs} ({nbytes / 1e6:.1f} MB, {gen_s:.2f} s to generate or find)")
    untimed = time.perf_counter() - t
    untimed_cpu = cpu_s(os.getpid()) - c

    from database_per_keyword_analysis_spark import materialize
    from database_per_keyword_analysis_spark.session import get_spark

    # keep every scratch file of Spark and the JVM inside the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name=f"perfbench-{w.name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # process start to session ready, less the untimed input generation
    session_s = time.perf_counter() - PROCESS_START - untimed
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tracer = T.Tracer(spark, traced)
    tracer.enabled = False  # spans cover the timed loop only, not set-up
    tracked: list[int] = []

    def release() -> None:
        """Between operations, outside any timed window."""
        tracked.append(materialize.n_tracked())
        materialize.release_materialized()
        spark.catalog.clearCache()

    def run_cpu() -> float:
        """CPU seconds the driver and its JVM have used so far."""
        return cpu_s(os.getpid()) + cpu_s(jvm_pid)

    ctx = Ctx(spark, tracer, args.seed, inputs, release=release, cpu=run_cpu)
    try:
        t = time.perf_counter()
        state = w.build(ctx, os.path.join(run_dir, "setup"))
        build_s = time.perf_counter() - t
        release()
        # CPU seconds from process start through set-up, less the input generation
        setup_cpu_s = run_cpu() - untimed_cpu
        print(f"setup: {setup_cpu_s:.2f} CPU s; wall: session {session_s:.2f} s, "
              f"loads, index builds and warm-up {build_s:.2f} s")

        tracer.enabled = traced
        ctx.deadline = time.perf_counter() + args.seconds
        m = w.measure(ctx, state)
        release()
        peak_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_pid)) / 1024
        failed = w.check(ctx, state, m)
        if traced and hasattr(w, "breakdown"):
            tracer.enabled = False  # counters only: keep the extra pass out of the layer figures
            w.breakdown(ctx, state)
        extras = dict(ctx.extras)
        extras.update(w.figures(ctx, state, m))
    finally:
        stop_spark(spark)

    attempted = m.attempted
    op_cpu_ms = sum(m.cpu) / len(m.cpu) * 1e3
    docs_per_cpu_s = m.docs / m.docs_cpu_s if m.docs_cpu_s else 0.0
    p50_ms = T.percentile(m.lat, 50) * 1e3
    print(f"{w.name}: {attempted} operations, {failed} failed; {len(m.lat)} timed: "
          f"{op_cpu_ms:.0f} CPU ms each, wall p50 {p50_ms:.0f} ms, "
          f"CPU per op {[round(x, 2) for x in m.cpu]} s; peak RSS {peak_mb:.0f} MB")
    for k, v in extras.items():
        print(f"  {k}: {v}")
    print(cpu_report(cpu0))
    last_path = os.path.join(work, f"last-{w.name}-{args.seed}.json")
    if not traced:
        metrics = {
            "setup_s": {"value": setup_cpu_s, "unit": "s"},
            "op_cpu_ms": {"value": op_cpu_ms, "unit": "ms"},
            "docs_per_cpu_s": {"value": docs_per_cpu_s, "unit": "docs/s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
        with open(last_path, "w") as fh:
            json.dump({"op_cpu_ms": op_cpu_ms, "op_p50_ms": p50_ms}, fh)
    else:
        metrics = traced_metrics(T, tracer, run_dir, session_s, tracked)
        if os.path.exists(last_path):
            with open(last_path) as fh:
                base = json.load(fh)
            for key, now in (("op_cpu_ms", op_cpu_ms), ("op_p50_ms", p50_ms)):
                if key in base:
                    print(f"tracing overhead: {key} {now:.1f} traced vs {base[key]:.1f} untraced "
                          f"({(now / base[key] - 1) * 100:+.1f}%)")
        else:
            print("tracing overhead: no untraced run of this workload and seed yet")
        tracer.dump(os.path.join(run_dir, "spans.json"))
    # indexes, outputs and Spark scratch are large; keep only the small reports
    for name in os.listdir(run_dir):
        if name not in ("spans.json", "layers.md"):
            shutil.rmtree(os.path.join(run_dir, name), ignore_errors=True)
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


def traced_metrics(T, tracer, run_dir, session_s, tracked) -> dict:
    logdir = os.path.join(run_dir, "eventlog")
    lines = []
    for f in sorted(os.listdir(logdir)):
        with open(os.path.join(logdir, f)) as fh:
            lines.extend(fh)
    log_ = T.parse_event_log(lines)
    spans = tracer.spans
    vals = T.layer_metrics(spans, log_)
    c = tracer.counters
    cand = c.get("operators.dedup.candidate_pairs", 0.0)
    ver = c.get("operators.dedup.verified_pairs", 0.0)
    vals["operators.dedup.candidate_pairs"] = cand
    vals["operators.dedup.verified_pairs"] = ver
    vals["operators.dedup.verify_yield"] = ver / cand if cand else 0.0
    vals["operators.search.index_files"] = c.get("operators.search.index_files", 0.0)
    vals["streaming.ingest.bytes_written_mb"] = c.get("streaming.ingest.bytes_written_mb", 0.0)
    vals["materialize.tracked"] = float(max(tracked + [s.tracked for s in spans] + [0]))
    vals["session.start_s"] = session_s
    vals["session.gc_s"] = T.gc_seconds(log_)
    print(f"trace: {len(spans)} spans, {len(log_.jobs)} jobs "
          f"({T.unattributed_jobs(log_, spans)} outside any span), {len(log_.tasks)} tasks")
    rows = [(layer, vals) for layer in T.LAYERS if vals[f"{layer}.calls"]]
    with open(os.path.join(run_dir, "layers.md"), "w") as fh:
        fh.write(layer_table(T, rows))
    print(layer_table(T, rows))
    return {
        n: {"value": vals[n], "unit": T.per_layer_unit(n)}
        for n in T.per_layer_names()
    }


def layer_table(T, rows) -> str:
    head = "| layer | " + " | ".join(T.LAYER_FIELDS) + " |"
    out = [head, "|" + "---|" * (len(T.LAYER_FIELDS) + 1)]
    for layer, vals in rows:
        cells = []
        for f in T.LAYER_FIELDS:
            v = vals[f"{layer}.{f}"]
            cells.append(f"{v:.0f}" if f in ("calls", "jobs", "tasks", "failed") else f"{v:.2f}")
        out.append(f"| {layer} | " + " | ".join(cells) + " |")
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    sys.exit(main())
