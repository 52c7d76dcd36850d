#!/usr/bin/env python3
"""End-to-end benchmark of silvia_spark: fresh contract queries, a
stream-to-PostgreSQL ingest, and lakehouse commits, each split by layer.

    python3 perfbench/run.py --workload contract_sweep --seed 1 \\
        --seconds 20 --trace 0

Run it from the root of a checkout. It prints one JSON report line (the
run's stamp and the workload's own figures), then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run turns on Spark's event log and per-layer timers and reports the
per-layer metrics instead, plus the tracing overhead. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import host

# Test-corpus scales: the contract sweep's corpus, and the events the
# ingest streams and commits.
SWEEP_SF = "sf0.01"
EVENTS_SF = "sf0.1"
# Spark runs local[2] at most: on a 4-core box that leaves cores for the
# driver, the JIT and the garbage collector, which keeps stragglers (and
# with them the run-to-run spread) down on a shared host.
CORES_MAX = 2

# Seconds budgeted for one timed pass. On a 4-core box a pass took about
# 4.6 s on contract_sweep and 7.8 s on ingest_commit; the budget leaves
# headroom for a contended host. A run makes round(seconds / budget)
# passes (at least MIN_PASSES), so the amount of work, and with it every
# sample count, is fixed for given arguments.
NOMINAL_PASS_S = {"contract_sweep": 6.0, "ingest_commit": 7.5}
MIN_PASSES = {"contract_sweep": 2, "ingest_commit": 2}

MB = 1024 * 1024


T_START = host.process_start()


class Mem:
    """RSS of this process tree: the driver Python process, the JVM it
    launched, and the JVM's Python workers. Sampled between operations."""

    def __init__(self):
        self.peak_sum = 0.0
        self.hwm: dict[str, float] = {"py": 0.0, "jvm": 0.0}

    @staticmethod
    def _status(pid: int) -> dict[str, float]:
        out = {}
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(("VmRSS:", "VmHWM:")):
                        k, v = line.split(":")
                        out[k] = float(v.split()[0]) / 1024
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                out["java"] = float(b"java" in f.read().split(b"\0")[0])
        except (OSError, ValueError, IndexError):
            pass
        return out

    def sample(self) -> None:
        total = 0.0
        me = os.getpid()
        for pid in host.tree():
            st = self._status(pid)
            total += st.get("VmRSS", 0.0)
            kind = "py" if pid == me else ("jvm" if st.get("java") else "")
            if kind:
                self.hwm[kind] = max(self.hwm[kind], st.get("VmHWM", 0.0))
        self.peak_sum = max(self.peak_sum, total)

    def children(self) -> list[int]:
        return [p for p in host.tree() if p != os.getpid()]


def git_commit(root: str) -> str:
    """The checkout's commit, when it is a git repository."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10,
                             check=False)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def loadavg() -> list[float]:
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return []


def clean_stale_runs(work: str) -> None:
    """Remove run directories left by runs that no longer exist."""
    if not os.path.isdir(work):
        return
    for d in os.listdir(work):
        if d.startswith("run-"):
            try:
                pid = int(d.split("-")[1])
                os.kill(pid, 0)
                continue  # still running
            except (ValueError, IndexError, ProcessLookupError):
                pass
            except PermissionError:
                continue
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)


def set_environment(run_dir: str, cores: int, trace: bool) -> None:
    """Keep everything the run writes inside the checkout: temp files,
    Spark's local dirs, the JVM's temp dir and (traced runs) the event
    log, configured through a private SPARK_CONF_DIR."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = (os.environ.get(var, "") + " " + jvm).strip()
    conf = os.path.join(run_dir, "conf")
    os.makedirs(conf)
    lines = [f"spark.local.dir {os.environ['SPARK_LOCAL_DIRS']}"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{log_dir}",
                  "spark.eventLog.compress false",
                  "spark.eventLog.rolling.enabled false"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ["SPARK_CONF_DIR"] = conf


def load_metric_names(root: str) -> dict[str, dict[str, str]]:
    """Metric name -> unit, per kind, from the checkout's BENCHMARK.json:
    the run reports exactly the metrics listed there."""
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def new_session(api, cores: int):
    spark = api.get_session("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(ctx) -> None:
    if ctx.spark is not None:
        try:
            ctx.api.clear_caches()
        finally:
            ctx.spark.stop()
            ctx.stopped.append(ctx.spark)
            ctx.spark = None


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit (it exits when
    its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    except Exception:
        pass
    proc = getattr(gw, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap(mem: Mem) -> None:
    """Terminate and wait for anything still running under this process."""
    left = mem.children()
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.time() + 20
    while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in left):
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    bench_dir = os.path.dirname(os.path.abspath(__file__))
    if not (os.path.isfile(os.path.join(root, "silvia_spark", "api.py"))
            and os.path.isfile(os.path.join(root, "tests", "parity.py"))):
        print("perfbench: run me from the root of a silvia_spark checkout "
              "(silvia_spark/api.py and tests/parity.py not found)",
              file=sys.stderr)
        return 2
    try:
        metric_names = load_metric_names(root)
    except (OSError, ValueError, KeyError) as exc:
        print(f"perfbench: cannot read BENCHMARK.json: {exc}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, bench_dir]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    nproc = os.cpu_count() or 1
    cores = min(CORES_MAX, nproc)
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "git_commit": git_commit(root), "nproc": nproc,
        "env_SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": loadavg(),
    }
    steal0 = host.steal_s()
    work = os.path.join(root, ".perfbench")
    clean_stale_runs(work)
    run_dir = os.path.join(work, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(run_dir)
    set_environment(run_dir, cores, trace)
    os.chdir(run_dir)  # spark-warehouse/, derby.log and the like land here

    mem = Mem()
    wl = None
    ctx = None
    try:
        from silvia_spark import api, registry
        from silvia_spark.io import DEFAULT_SF_DIR

        registry.load_all_modules()
        # The library's own test corpus, read in place and never written.
        corpus_root = os.path.dirname(DEFAULT_SF_DIR)
        corpus_dir = os.path.join(corpus_root, SWEEP_SF)
        events_dir = os.path.join(corpus_root, EVENTS_SF)
        for d in (corpus_dir, events_dir):
            if not os.path.isdir(d):
                raise SystemExit(f"perfbench: test corpus {d} not found")
        ctx = workloads.Ctx(api=api, registry=registry, run_dir=run_dir,
                            corpus_dir=corpus_dir, events_dir=events_dir,
                            seed=args.seed % (1 << 63),
                            trace=trace, mem=mem)
        passes = max(MIN_PASSES[args.workload],
                     round(args.seconds / NOMINAL_PASS_S[args.workload]))
        wl = workloads.WORKLOADS[args.workload](ctx)
        # The seeded inputs and their oracle are the benchmark's own work,
        # the only part of the way to the first timed operation that
        # setup_s leaves out.
        t_prep = time.time()
        wl.prepare(passes)
        prepare_s = time.time() - t_prep

        # One set-up, as a user meets it: get_session, table registration,
        # one probe job and the warm-up pass.
        t0 = time.time()
        ctx.spark = new_session(api, cores)
        get_session_s = time.time() - t0
        wl.register()
        wl.probe()
        mem.sample()
        ctx.timers.enabled = False  # per-layer timers cover timed passes
        t0 = time.time()
        wl.run_pass(-1)
        warmup_s = time.time() - t0
        setup_s = time.time() - T_START - prepare_s
        ctx.timers.enabled = trace
        if trace:
            wl.install_timers()
        app_id = ctx.spark.sparkContext.applicationId
        sc = ctx.spark.sparkContext
        stamp.update({
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": ctx.spark.conf.get(
                "spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory", ""),
            "master": sc.master,
        })
        t_timed = time.time()
        for k in range(passes):
            wl.run_pass(k)
        timed_s = time.time() - t_timed
        wl.finish()
        mem.sample()

        samples, pass_s = list(wl.samples), list(wl.pass_s)
        op_tail, tail_pct = workloads.tail(samples)
        e2e = {
            "setup_s": setup_s,
            "sweep_s": wl.sweep_s(),
            "op_p50_s": wl.op_p50_s(),
            "op_tail_s": op_tail,
            "peak_rss_mb": mem.peak_sum,
        }
        stamp["end_to_end"] = dict(e2e)
        report = wl.report()
        layers = {}
        if trace:
            layers = traced_metrics(ctx, wl, app_id, run_dir, cores,
                                    get_session_s, passes)
        stamp["loadavg_end"] = loadavg()
        stamp["cpu_steal_s"] = host.steal_s() - steal0
    finally:
        t_down = time.time()
        if wl is not None:
            try:
                wl.teardown()
            except Exception as exc:
                print(f"perfbench: teardown: {exc}", file=sys.stderr)
        if ctx is not None:
            try:
                stop_spark(ctx)
            except Exception:
                pass
        try:
            shutdown_jvm()
        except Exception:
            pass
        t_jvm = time.time()
        reap(mem)
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
        stamp["teardown_s"] = [t_jvm - t_down, time.time() - t_jvm]

    attempted = max(1, ctx.attempted)
    failed = len(ctx.errors)
    stamp.update({
        "prepare_s": prepare_s, "warmup_s": warmup_s, "timed_s": timed_s,
        "passes": passes, "pass_s": pass_s, "get_session_s": get_session_s,
        "op_samples": len(samples), "op_tail_percentile": tail_pct,
        "error_rate": failed / attempted,
        "errors": ctx.errors[:20],
    })
    if args.workload == "contract_sweep":
        report.update({"query_p50_s": e2e["op_p50_s"],
                       "query_tail_s": e2e["op_tail_s"],
                       "query_tail_percentile": tail_pct})
    stamp["workload_figures"] = report
    if trace:
        layers["error_rate"] = failed / attempted
        layers["mem.peak_rss_mb"] = mem.peak_sum
        chosen, values = metric_names["per_layer"], layers
    else:
        chosen, values = metric_names["end_to_end"], e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
               for k, u in chosen.items()}
    print(json.dumps({"perfbench": stamp}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def traced_metrics(ctx, wl, app_id, run_dir, cores, get_session_s,
                   passes) -> dict:
    """Per-layer figures: the event log of the traced session, the
    workload's timers and listener records, then an untraced repeat of the
    timed passes in a fresh session for the tracing overhead."""
    import eventlog

    traced_first = wl.pass_s[0]
    stop_spark(ctx)  # flushes and closes the event log
    groups = eventlog.parse(eventlog.find_log(
        os.path.join(run_dir, "eventlog"), app_id))
    tot = eventlog.total(groups, wl.keep_group)
    n = max(1, passes)
    t = ctx.timers
    out = {
        "session.get_session_s": get_session_s,
        "io.load_table_s": t.total("io.load_table_s"),
        "io.clear_caches_s": t.median("io.clear_caches_s"),
        "io.persisted_after_clear": max(
            t.samples.get("io.persisted_after_clear", [0])),
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.failed_tasks": tot["failed_tasks"] / n,
        "spark.executor_run_s": tot["run_ms"] / 1000 / n,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.gc_s": tot["gc_ms"] / 1000 / n,
        "spark.shuffle_read_mb": tot["shuffle_read_bytes"] / MB / n,
        "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / MB / n,
        "spark.spill_mb": tot["spill_bytes"] / MB / n,
        "spark.slot_busy_ratio": tot["run_ms"] / max(
            1.0, tot["stage_wall_ms"] * cores),
        "python.total_s": tot["total_s"] / n,
        "python.boot_s": tot["boot_s"] / n,
        "python.init_s": tot["init_s"] / n,
        "python.bytes_sent_mb": tot["sent_bytes"] / MB / n,
        "python.bytes_received_mb": tot["received_bytes"] / MB / n,
        "python.rows_received": tot["rows_received"] / n,
        "mem.py_rss_mb": ctx.mem.hwm["py"],
        "mem.jvm_rss_mb": ctx.mem.hwm["jvm"],
    }
    out.update(wl.layer_metrics(groups))
    # The first timed pass again, untraced, after its own warm-up pass:
    # event log off for the new session, no timers, no plan forcing.
    ctx.trace = False
    ctx.timers.enabled = False
    wl.remove_timers()
    from pyspark import SparkContext

    SparkContext._jvm.java.lang.System.setProperty(
        "spark.eventLog.enabled", "false")
    ctx.spark = new_session(ctx.api, cores)
    wl.reset()
    wl.register()
    wl.run_pass(-1)
    wl.run_pass(0)
    untraced = wl.pass_s[0]
    out["trace.untraced_sweep_s"] = untraced
    out["trace.overhead_s"] = traced_first - untraced
    return out


if __name__ == "__main__":
    sys.exit(main())
