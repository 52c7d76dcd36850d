"""The benchmark's workloads. Each drives the library from outside, through
the contract registry and the public ``silvia_spark.api`` / ``pg`` /
``streams`` functions, and checks every output against an independent
computation.

A workload has the same life cycle in every run:

* ``prepare``: write the seeded inputs and compute their oracle (the only
  work before the first timed operation that ``setup_s`` leaves out);
* ``register`` + ``probe``: the session's set-up;
* ``run_pass(-1)``: one warm-up pass, the last part of ``setup_s``;
* ``run_pass(k)``: timed pass ``k``, recording the latency of every
  operation under its key (``self.by_key``) and the per-operation samples
  behind the percentiles (``self.samples``);
* ``finish`` / ``teardown``: final checks, then stop and drop what the run
  started and made.
"""

from __future__ import annotations

import math
import os
import signal
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle

# Contracts of the sweep (README.md records why each is in, and what the
# run-time budget left out).
OLAP_OPS = ["agg_pricing_summary", "join_5way_star", "stream_session_30m",
            "q21_waiting_orders"]
LLM_OPS = ["sim_ann_lsh", "text_fuzzy_pairs"]
STREAM_OP = "stream_foreachbatch_upsert"
COMMITS = ("append", "merge", "update", "delete")


class Timers:
    """Named duration samples and counters for the traced run's per-layer
    figures; a no-op while disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)

    def add(self, name: str, seconds: float) -> None:
        if self.enabled:
            self.samples[name].append(seconds)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def median(self, name: str) -> float:
        v = self.samples.get(name)
        return statistics.median(v) if v else 0.0

    def total(self, name: str) -> float:
        return float(sum(self.samples.get(name, ())))


class Ctx:
    """What a workload shares with ``run.py``: the session, the paths, the
    seed and the recorders."""

    def __init__(self, *, api, registry, run_dir, corpus_dir, events_dir,
                 seed, trace, mem):
        self.api = api
        self.registry = registry
        self.spark = None
        self.run_dir = run_dir
        self.corpus_dir = corpus_dir  # the contract sweep's corpus
        self.events_dir = events_dir  # source of the ingest's events
        self.seed = seed
        self.rng = np.random.default_rng([seed, 0])
        self.trace = trace
        self.timers = Timers(trace)
        self.mem = mem
        self.errors: list[str] = []
        self.attempted = 0
        # Stopped sessions stay referenced: io.load_table memoizes per
        # id(spark), and a freed session's id could be reused by the next.
        self.stopped: list = []

    def group(self, gid: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, gid)

    def fail(self, what: str) -> None:
        self.errors.append(what)


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.reset()

    def reset(self) -> None:
        """Forget the timed samples (before a repeat of the timed work)."""
        self.by_key: dict[str, list[float]] = defaultdict(list)
        self.samples: list[float] = []
        self.pass_s: list[float] = []

    def prepare(self, passes: int) -> None:
        pass

    def data_dir(self) -> str:
        return self.ctx.corpus_dir

    def register(self) -> None:
        """Table registration: one ``load_table`` per input table, each
        timed as a call into the io layer."""
        c = self.ctx
        for t in self.tables:
            t0 = time.perf_counter()
            c.api.load_table(c.spark, self.data_dir(), t)
            c.timers.add("io.load_table_s", time.perf_counter() - t0)

    def probe(self) -> None:
        """The session's first job: count the first input table."""
        c = self.ctx
        c.api.load_table(c.spark, self.data_dir(), self.tables[0]).count()

    def run_pass(self, k: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def teardown(self) -> None:
        pass

    def install_timers(self) -> None:
        pass

    def remove_timers(self) -> None:
        pass

    def report(self) -> dict:
        return {}

    def layer_metrics(self, groups) -> dict:
        return {}

    def keep_group(self, g: str) -> bool:
        """Job groups of the timed passes."""
        return g.startswith(f"{self.name}:t")

    def sweep_s(self) -> float:
        """A typical pass: the sum over operations of each one's median
        latency across the timed passes."""
        return sum(statistics.median(v) for v in self.by_key.values())

    def op_p50_s(self) -> float:
        """The median latency per operation."""
        return statistics.median(self.samples)

    def timed(self, key: str, seconds: float, k: int, sample: bool = True):
        """Record one timed operation under ``key``; ``sample`` adds it to
        the samples behind the percentiles too."""
        if k >= 0:
            self.by_key[key].append(seconds)
            if sample:
                self.samples.append(seconds)


class ContractSweep(Workload):
    """Fresh contract queries: the OLAP set (Catalyst planning, codegen,
    the per-job scheduling floor) and the LLM-data set (Arrow/numpy
    kernels, build-time jobs, persisted slots, pair generation). A pass
    runs every contract once, fresh, in a seeded order: ``clear_caches()``,
    the contract call (plan build plus its build-time jobs), then
    ``toArrow()``. Each result is fingerprinted against the DuckDB oracle
    after the clock stops."""

    name = "contract_sweep"
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")
    ops = OLAP_OPS + LLM_OPS

    def prepare(self, passes: int) -> None:
        self.expect = oracle.contract_fingerprints(self.ctx.corpus_dir,
                                                   self.ops)

    def run_pass(self, k: int) -> None:
        c = self.ctx
        t0 = time.perf_counter()
        for name in [self.ops[i] for i in c.rng.permutation(len(self.ops))]:
            dt = self.run_op(name, f"t{k}" if k >= 0 else "w")
            if dt is not None:
                self.timed(name, dt, k)
        if k >= 0:
            self.pass_s.append(time.perf_counter() - t0)

    def run_op(self, name: str, tag: str) -> float | None:
        c = self.ctx
        t = time.perf_counter()
        c.api.clear_caches()
        c.timers.add("io.clear_caches_s", time.perf_counter() - t)
        if c.trace:
            c.timers.add("io.persisted_after_clear",
                         c.spark.sparkContext._jsc.getPersistentRDDs().size())
        gid = f"{self.name}:{tag}:{name}"
        c.attempted += 1
        try:
            c.group(gid + ":build")
            t0 = time.perf_counter()
            df = c.registry.QUERIES[name](c.spark, c.corpus_dir)
            t1 = time.perf_counter()
            if c.trace:
                c.group(gid + ":plan")
                df._jdf.queryExecution().executedPlan()
                c.timers.add("plan.s", time.perf_counter() - t1)
            c.group(gid + ":run")
            table = df.toArrow()
            t2 = time.perf_counter()
        except Exception as exc:  # a failed operation counts in error_rate
            c.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        c.timers.add("build.s", t1 - t0)
        c.mem.sample()
        got = oracle.arrow_fingerprint(table)
        if got != self.expect[name]:
            c.fail(f"{name}: fingerprint {got} != oracle {self.expect[name]}")
        return t2 - t0

    def op_p50_s(self) -> float:
        """The median over contracts of each contract's median latency.
        The pooled samples cluster by contract, so their median would sit
        on the gap between two clusters and jump from run to run."""
        return statistics.median(
            statistics.median(v) for v in self.by_key.values())

    def layer_metrics(self, groups) -> dict:
        build_jobs = sum(r["jobs"] for g, r in groups.items()
                         if self.keep_group(g) and g.endswith(":build"))
        return {"build.jobs": build_jobs / max(1, len(self.samples)),
                "build.s": self.ctx.timers.median("build.s"),
                "plan.s": self.ctx.timers.median("plan.s")}

    def report(self) -> dict:
        def p50(names):
            v = [x for n in names for x in self.by_key[n]]
            return statistics.median(v) if v else 0.0
        return {"olap_query_p50_s": p50(OLAP_OPS),
                "llm_query_p50_s": p50(LLM_OPS),
                "query_s": {n: statistics.median(v)
                            for n, v in self.by_key.items()},
                "samples_s": dict(self.by_key)}


# --- PostgreSQL ----------------------------------------------------------------

def _postmaster(root: str) -> int | None:
    """Pid of the live server whose data directory is ``root/data``."""
    try:
        with open(os.path.join(root, "data", "postmaster.pid")) as f:
            pid = int(f.readline())
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, ValueError, IndexError):
        return None
    return None if state == "Z" else pid


def _stop_postmaster(pid: int) -> None:
    """Fast shutdown (SIGINT), then wait for the server to exit. It is not
    our child (``pg_ctl`` daemonizes it), so wait on /proc."""
    os.kill(pid, signal.SIGINT)
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return
        except OSError:
            return
        time.sleep(0.05)


def _listener(spark):
    """A StreamingQueryListener that records every progress report. The
    stream's jobs carry the stream's own job group (its run id), so the
    listener is how micro-batches are timed and attributed."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: set[str] = set()
            self.timed_runs: set[str] = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({"run": str(p.runId),
                                  "rows": int(p.numInputRows),
                                  "ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.add(str(event.runId))

        def wait_terminated(self, seen: int) -> list[dict]:
            """Progress reports after report ``seen``, once every query
            they belong to has posted its termination (the listener bus
            delivers asynchronously, in order)."""
            deadline = time.time() + 30
            while time.time() < deadline:
                new = self.progress[seen:]
                runs = {p["run"] for p in new}
                if runs and runs <= self.terminated:
                    return new
                time.sleep(0.01)
            return self.progress[seen:]

    rec = Recorder()
    spark.streams.addListener(rec)
    return rec


class IngestCommit(Workload):
    """The load stage and its lakehouse sink. A pass is:

    * one drain: ``stream_foreachbatch_upsert`` streams a seeded multi-part
      events backlog, one part file per micro-batch, into the PostgreSQL
      server the library auto-boots, and reads the per-type totals back
      from the database (fresh checkpoint; the contract makes and drops
      its own per-run table). Each micro-batch is one latency sample, timed
      by the stream's own progress report (trigger execution, which ends
      after the sink's commit);
    * one DML round on a manifest table made by ``create_table``:
      ``commit_append``, ``commit_merge``, ``commit_update``,
      ``commit_delete``, then a ``read_snapshot`` aggregate, each timed
      under its own key.

    The backlog and the DML source are the sf0.1 events of the test
    corpus. The seed sets the backlog's samples and every DML key range.
    DuckDB counts the backlog and replays the DML sequence up front, so the
    readback, each round's aggregate and the final snapshot have exact
    expected values."""

    name = "ingest_commit"
    tables = ("events",)
    parts = 4
    warmup_parts = 2
    frac = 0.5
    dml_rows = 50_000  # the DML source: events with event_id below this
    cols = "event_id, user_id, event_type, value"

    def reset(self) -> None:
        super().reset()
        self.batches: list[dict] = []
        self.drain_events: list[int] = []
        self.drain_s: list[float] = []
        self.read_s: list[float] = []
        self.user_rows: list[int] = []
        self.bytes_added: list[int] = []

    # -- inputs and oracle --------------------------------------------------
    def prepare(self, passes: int) -> None:
        from silvia_spark import pg
        from silvia_spark.streaming import streams

        c = self.ctx
        self.pg = pg
        # The run stops the auto-booted server at teardown only if it
        # was not already serving someone else when the run began.
        self.pg_was_up = _postmaster(pg.AUTOBOOT_ROOT) is not None
        src = pq.read_table(os.path.join(c.events_dir, "events.parquet"))
        self.etl_dir = os.path.join(c.run_dir, "etl")
        self.n_events = write_event_backlog(
            src, self.etl_dir, c.seed, self.parts, self.frac)
        # the warm-up drains a shorter backlog of its own
        self.warm_dir = os.path.join(c.run_dir, "etl-warmup")
        self.n_warm = write_event_backlog(
            src, self.warm_dir, c.seed + 1, self.warmup_parts, self.frac)
        self.plan(passes)
        self.roots: list[str] = []
        streams.SOURCE_OPTIONS["maxFilesPerTrigger"] = "1"

    def plan(self, rounds: int) -> None:
        """Seeded key ranges per round, the backlog's expected readback,
        and the DuckDB replay's expected per-round aggregates and final
        table."""
        import duckdb

        con = duckdb.connect()
        self.expect_drain = {
            d: oracle.duck_fingerprint(
                con, "SELECT event_type, count(*) AS cnt FROM read_parquet("
                f"'{d}/events.parquet/*.parquet') GROUP BY event_type")
            for d in (self.etl_dir, self.warm_dir)}
        rng = np.random.default_rng([self.ctx.seed, 2])
        n = self.dml_rows

        def lo(w):
            return int(rng.integers(0, n - w))
        self.rounds = [{
            "append": (lo(2000), 2000, (r + 1) * 10_000_000),
            "merge_u": (lo(1000), 1000),
            "merge_d": (lo(500), 500),
            "merge_i": (lo(500), 500, 500_000_000 + r * 1_000_000),
            "update": (lo(1500), 1500),
            "delete": (lo(800), 800),
        } for r in range(rounds + 1)]  # the last one is the warm-up's
        base = (f"(SELECT * FROM read_parquet('{self.ctx.events_dir}/"
                f"events.parquet') WHERE event_id < {n})")
        con.execute(f"CREATE TABLE t AS SELECT {self.cols} FROM {base}")
        self.expect_reads = []
        for p in self.rounds[:rounds]:
            a, w, off = p["append"]
            con.execute(f"INSERT INTO t SELECT event_id + {off}, user_id, "
                        f"event_type, value FROM {base} WHERE event_id "
                        f"BETWEEN {a} AND {a + w - 1}")
            u, uw = p["merge_u"]
            d, dw = p["merge_d"]
            i, iw, ioff = p["merge_i"]
            con.execute(f"""CREATE OR REPLACE TEMP TABLE chg AS
                SELECT event_id, user_id, event_type, value + 0.5 AS value,
                       'U' AS op FROM {base}
                WHERE event_id BETWEEN {u} AND {u + uw - 1}
                UNION ALL SELECT event_id, user_id, event_type, value, 'D'
                FROM {base} WHERE event_id BETWEEN {d} AND {d + dw - 1}
                UNION ALL SELECT event_id + {ioff}, user_id, event_type,
                       value, 'I' FROM {base}
                WHERE event_id BETWEEN {i} AND {i + iw - 1}""")
            n_chg = con.execute("SELECT count(*) FROM chg").fetchone()[0]
            con.execute("DELETE FROM t USING chg "
                        "WHERE t.event_id = chg.event_id "
                        "AND t.event_type = chg.event_type")
            con.execute(f"INSERT INTO t SELECT {self.cols} FROM chg "
                        "WHERE op <> 'D'")
            s, sw = p["update"]
            where = f"event_id BETWEEN {s} AND {s + sw - 1}"
            n_upd = con.execute(
                f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]
            con.execute(f"UPDATE t SET value = value + 1 WHERE {where}")
            x, xw = p["delete"]
            where = f"event_id BETWEEN {x} AND {x + xw - 1}"
            n_del = con.execute(
                f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]
            con.execute(f"DELETE FROM t WHERE {where}")
            p["user_rows"] = {"append": w, "merge": n_chg, "update": n_upd,
                              "delete": n_del}
            self.expect_reads.append(oracle.duck_fingerprint(
                con, self.read_sql("t")))
        self.expect_final = con.execute(f"SELECT {self.cols} FROM t").arrow()
        con.close()

    @staticmethod
    def read_sql(table: str) -> str:
        return (f"SELECT event_type, count(*) AS cnt, "
                f"sum(event_id) AS id_sum, "
                f"sum(CAST(round(value * 100) AS BIGINT)) AS value_cents "
                f"FROM {table} GROUP BY event_type")

    # -- set-up ---------------------------------------------------------------
    def data_dir(self) -> str:
        return self.etl_dir

    def base(self):
        from pyspark.sql import functions as F

        c = self.ctx
        return (c.api.load_table(c.spark, c.events_dir, "events")
                .where(F.col("event_id") < self.dml_rows)
                .select("event_id", "user_id", "event_type", "value"))

    def register(self) -> None:
        """Registration of the backlog and the DML source, plus two
        ``create_table`` calls: the warm-up round runs on the first fresh
        manifest table, the timed rounds on the second."""
        c = self.ctx
        super().register()
        t0 = time.perf_counter()
        self.base()
        c.timers.add("io.load_table_s", time.perf_counter() - t0)
        for _ in range(2):
            root = os.path.join(c.run_dir, "tables", f"t{len(self.roots)}")
            c.api.create_table(self.base(), root, "event_type",
                               stats_cols=["event_id"])
            self.roots.append(root)
        self.listener = _listener(c.spark)

    def probe(self) -> None:
        c = self.ctx
        super().probe()
        c.api.read_snapshot(c.spark, self.roots[-1]).count()

    # -- passes ---------------------------------------------------------------
    def run_pass(self, k: int) -> None:
        t0 = time.perf_counter()
        self.drain(k)
        if k < 0:
            self.dml_round(self.rounds[-1], k, self.roots[-2])
            return
        self.dml_round(self.rounds[k], k, self.roots[-1])
        self.pass_s.append(time.perf_counter() - t0)

    def drain(self, k: int) -> None:
        c = self.ctx
        c.attempted += 1
        src, n = ((self.etl_dir, self.n_events) if k >= 0
                  else (self.warm_dir, self.n_warm))
        seen = len(self.listener.progress)
        c.group(f"{self.name}:{'t' if k >= 0 else 'w'}{k}:readback")
        t0 = time.perf_counter()
        try:
            table = c.registry.QUERIES[STREAM_OP](c.spark, src).toArrow()
        except Exception as exc:
            c.fail(f"{STREAM_OP}: {type(exc).__name__}: {str(exc)[:200]}")
            return
        dt = time.perf_counter() - t0
        c.mem.sample()
        progress = self.listener.wait_terminated(seen)
        rows = sum(p["rows"] for p in progress)
        if self.pg.resolve_host() is None:
            c.fail(f"{STREAM_OP}: no PostgreSQL server; the contract fell "
                   "back to its parquet sink")
        if oracle.arrow_fingerprint(table) != self.expect_drain[src]:
            c.fail(f"{STREAM_OP}: readback != DuckDB count of the backlog")
        if rows != n:
            c.fail(f"{STREAM_OP}: stream read {rows} of {n} events")
        if k < 0:
            return
        self.timed("drain", dt, k, sample=False)
        self.drain_s.append(dt)
        self.drain_events.append(rows)
        self.listener.timed_runs |= {p["run"] for p in progress}
        for p in progress:
            if p["rows"]:  # the final empty trigger commits nothing
                self.samples.append(p["ms"]["triggerExecution"] / 1000)
                self.batches.append(p)

    def dml_round(self, p: dict, k: int, root: str) -> None:
        from pyspark.sql import functions as F

        c = self.ctx
        tag = f"t{k}" if k >= 0 else "w"
        base = self.base()

        def rng(lo, w):
            return F.col("event_id").between(lo, lo + w - 1)
        a, w, off = p["append"]
        u, uw = p["merge_u"]
        d, dw = p["merge_d"]
        i, iw, ioff = p["merge_i"]
        s, sw = p["update"]
        x, xw = p["delete"]
        chg = (base.where(rng(u, uw))
               .withColumn("value", F.col("value") + 0.5)
               .withColumn("op", F.lit("U"))
               .unionByName(base.where(rng(d, dw))
                            .withColumn("op", F.lit("D")))
               .unionByName(base.where(rng(i, iw))
                            .withColumn("event_id", F.col("event_id") + ioff)
                            .withColumn("op", F.lit("I"))))
        commits = {
            "append": lambda: c.api.commit_append(
                c.spark, root, base.where(rng(a, w)).withColumn(
                    "event_id", F.col("event_id") + off), "event_type"),
            "merge": lambda: c.api.commit_merge(
                c.spark, root, chg, keys=["event_id", "event_type"],
                part_col="event_type"),
            "update": lambda: c.api.commit_update(
                c.spark, root, {"value": "value + 1"},
                where=f"event_id BETWEEN {s} AND {s + sw - 1}"),
            "delete": lambda: c.api.commit_delete(
                c.spark, root,
                where=f"event_id BETWEEN {x} AND {x + xw - 1}"),
        }
        for kind in COMMITS:
            c.attempted += 1
            before = _tree_bytes(root) if c.trace and k >= 0 else 0
            c.group(f"{self.name}:{tag}:{kind}")
            t0 = time.perf_counter()
            try:
                commits[kind]()
            except Exception as exc:
                c.fail(f"commit_{kind}: {type(exc).__name__}: "
                       f"{str(exc)[:200]}")
                continue
            self.timed(kind, time.perf_counter() - t0, k, sample=False)
            c.mem.sample()
            if c.trace and k >= 0:
                self.bytes_added.append(_tree_bytes(root) - before)
                self.user_rows.append(p["user_rows"][kind])
        c.attempted += 1
        c.group(f"{self.name}:{tag}:read")
        t0 = time.perf_counter()
        try:
            c.api.read_snapshot(c.spark, root).createOrReplaceTempView(
                "perfbench_snapshot")
            table = c.spark.sql(self.read_sql("perfbench_snapshot")).toArrow()
        except Exception as exc:
            c.fail(f"read_snapshot: {type(exc).__name__}: {str(exc)[:200]}")
            return
        dt = time.perf_counter() - t0
        c.mem.sample()
        if k < 0:
            return
        self.timed("read", dt, k, sample=False)
        self.read_s.append(dt)
        if oracle.arrow_fingerprint(table) != self.expect_reads[k]:
            c.fail(f"round {k}: snapshot aggregate != DuckDB replay")

    def finish(self) -> None:
        c = self.ctx
        c.attempted += 1
        snap = c.api.read_snapshot(c.spark, self.roots[-1])
        got = snap.select("event_id", "user_id", "event_type",
                          "value").toArrow()
        if not oracle.same_rows(got, self.expect_final):
            c.fail("final snapshot != DuckDB replay of the DML sequence")
        self.live_files = snap.inputFiles()

    def teardown(self) -> None:
        pid = _postmaster(self.pg.AUTOBOOT_ROOT)
        if pid is not None and not self.pg_was_up:
            _stop_postmaster(pid)

    # -- traced-run timers ----------------------------------------------------
    def install_timers(self) -> None:
        """Time every call the stream contract makes into
        ``pg.copy_upsert``."""
        pg = self.pg
        self.copy_upsert = pg.copy_upsert
        timers = self.ctx.timers

        def timed(host, table, rows, run_id=""):
            t0 = time.perf_counter()
            try:
                self.copy_upsert(host, table, rows, run_id=run_id)
            except Exception:
                timers.count("pg.failures")
                raise
            finally:
                timers.add("pg.copy_upsert_s", time.perf_counter() - t0)
            timers.count("pg.rows_merged", len(rows))
        pg.copy_upsert = timed

    def remove_timers(self) -> None:
        self.pg.copy_upsert = self.copy_upsert

    # -- results --------------------------------------------------------------
    def keep_group(self, g: str) -> bool:
        return (g.startswith(f"{self.name}:t")
                or g in self.listener.timed_runs)

    def report(self) -> dict:
        def p50(keys):
            v = [x for k in keys for x in self.by_key[k]]
            return statistics.median(v)
        batch = [b["ms"]["triggerExecution"] / 1000 for b in self.batches]
        return {
            "events_per_s": sum(self.drain_events) / sum(self.drain_s),
            "events_per_drain": self.n_events,
            "micro_batches_per_drain": len(batch) / len(self.drain_s),
            "batch_p50_s": statistics.median(batch),
            "batch_tail_s": tail(batch)[0],
            "batch_tail_percentile": tail(batch)[1],
            "commit_p50_s": p50(COMMITS),
            "commit_tail_s": tail([x for k in COMMITS
                                   for x in self.by_key[k]])[0],
            "read_p50_s": statistics.median(self.read_s),
            "read_by_round_s": self.read_s,
            "read_growth": self.read_s[-1] / self.read_s[0],
            "op_s": {k: statistics.median(v) for k, v in self.by_key.items()},
            "pg_server_was_up": self.pg_was_up,
            "samples_s": dict(self.by_key),
            "batch_samples_s": batch,
        }

    def layer_metrics(self, groups) -> dict:
        t = self.ctx.timers
        drains = max(1, len(self.drain_s))

        def med(key):
            v = [b["ms"].get(key, 0) / 1000 for b in self.batches]
            return statistics.median(v) if v else 0.0
        commit_jobs = [r["jobs"] for g, r in groups.items()
                       if self.keep_group(g)
                       and g.rsplit(":", 1)[-1] in COMMITS]
        from silvia_spark.io import local_path

        live = [local_path(f) for f in self.live_files]
        live_bytes = sum(os.path.getsize(f) for f in live)
        per_row = live_bytes / max(1, self.expect_final.num_rows)
        commit = [x for k in COMMITS for x in self.by_key[k]]
        return {
            "build.s": statistics.median(commit),
            "build.jobs": sum(commit_jobs) / max(1, len(commit_jobs)),
            "stream.batches": len(self.batches) / drains,
            "stream.input_rows": sum(b["rows"] for b in self.batches)
            / drains,
            "stream.latest_offset_s": med("latestOffset"),
            "stream.get_batch_s": med("getBatch"),
            "stream.query_planning_s": med("queryPlanning"),
            "stream.add_batch_s": med("addBatch"),
            "stream.wal_commit_s": med("walCommit"),
            "stream.commit_offsets_s": med("commitOffsets"),
            "pg.copy_upsert_s": t.median("pg.copy_upsert_s"),
            "pg.calls": len(t.samples.get("pg.copy_upsert_s", ())) / drains,
            "pg.rows_merged": t.counts["pg.rows_merged"] / drains,
            "pg.failures": t.counts["pg.failures"],
            "manifest.append_s": statistics.median(self.by_key["append"]),
            "manifest.merge_s": statistics.median(self.by_key["merge"]),
            "manifest.update_s": statistics.median(self.by_key["update"]),
            "manifest.delete_s": statistics.median(self.by_key["delete"]),
            "manifest.jobs_per_commit":
                sum(commit_jobs) / max(1, len(commit_jobs)),
            "manifest.bytes_written_per_user_byte":
                sum(self.bytes_added)
                / max(1.0, per_row * sum(self.user_rows)),
            "manifest.read_s": statistics.median(self.read_s),
            "manifest.live_files": len(live),
            "manifest.table_bytes_per_live_byte":
                _tree_bytes(self.roots[-1]) / max(1, live_bytes),
        }


def tail(samples: list[float]) -> tuple[float, float]:
    """The tail latency and its percentile: the highest percentile with at
    least ten samples beyond it, but never below p90 (nearest rank), so a
    run with fewer than 100 samples reports its p90 rather than its
    median."""
    s = sorted(samples)
    n = len(s)
    pct = max(90.0, 100.0 * (n - 10) / n)
    return s[max(0, math.ceil(pct * n / 100 - 1e-9) - 1)], pct


def write_event_backlog(src: pa.Table, out_dir: str, seed: int, parts: int,
                        frac: float) -> int:
    """The stream's backlog: ``parts`` part files under
    ``out_dir/events.parquet/``, each a seeded sample (share ``frac``) of
    the events ``src``, with event_ids offset by part so every id is
    unique. Returns the number of events written."""
    rng = np.random.default_rng([seed, 1])
    n = src.num_rows
    span = int(src.column("event_id").to_numpy().max()) + 1
    d = os.path.join(out_dir, "events.parquet")
    os.makedirs(d)
    total = 0
    for k in range(parts):
        part = src.take(pa.array(np.flatnonzero(rng.random(n) < frac)))
        part = part.set_column(0, "event_id", pa.array(
            part.column("event_id").to_numpy() + k * span, pa.int64()))
        pq.write_table(part, os.path.join(d, f"part-{k:05d}.parquet"))
        total += part.num_rows
    return total


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


WORKLOADS = {w.name: w for w in (ContractSweep, IngestCommit)}
