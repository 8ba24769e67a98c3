"""Benchmark of ``borsa_spark``: end-to-end walls and a traced layer run.

Usage (from the repository root):

    python3 perfbench/run.py --workload market_history --seed 1 \\
        --seconds 10 --trace 0

One run is one process and one closed-loop client:

1. set-up: start the Spark session, cut the seeded tick files (traced
   market_history run only), and run one warm pass over every operation (on a few client threads). The
   warm pass collects each result; the comparison with the DuckDB oracle
   runs after ``setup_s`` is taken;
2. timed passes, until ``--seconds`` have elapsed (at least one): every
   operation in the seed's order, each materialized into the noop sink,
   with ``release_all_cached`` after each and a check that no persisted
   RDD is left before the next;
3. with ``--trace 1`` the session runs with the event log on, and one
   traced pass plus the layer prefixes (see workloads.py) replace the
   timed passes and give the per-layer numbers.

The last line of standard output is the result object; the line before it
is the run record (environment, load average, per-operation walls,
``fail_ratio``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

import check
import eventlog
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARM_THREADS = 4
PREFIX_REPS = 3


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, from the benchmark's own BENCHMARK.json
    (``kind`` is ``end_to_end`` or ``per_layer``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def process_start_epoch() -> float:
    """Wall-clock time this process was started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (/proc/stat ``cpu`` line): user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    spent = [b - a for a, b in zip(start, end)]
    return spent[7] / max(1, sum(spent))


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def proc_stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None when there is no such process (``pid`` may also be
    ``<pid>/task/<tid>``, a thread)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants() -> dict[int, str]:
    """Every process below this one: pid -> start time, which tells the
    process from a later one given the same pid."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for d in os.listdir("/proc"):
        fields = proc_stat(int(d)) if d.isdigit() else None
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(d))
            start[int(d)] = fields[19]
    out: dict[int, str] = {}
    todo = [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = start[c]
            todo.append(c)
    return out


def stop_processes(grace_s: float = 60.0) -> None:
    """Stop every process this run started and wait until each has ended.

    The JVM ends when its stdin closes (PySpark's gateway watches it), and
    stops the Python workers it forked; whatever still runs after
    ``grace_s`` gets SIGTERM, then SIGKILL."""
    from pyspark import SparkContext

    procs = descendants()
    jvm = getattr(SparkContext._gateway, "proc", None)
    if jvm is not None and jvm.stdin is not None and not jvm.stdin.closed:
        jvm.stdin.close()

    def alive(pid: int, start: str) -> bool:
        # a process has ended when all its threads have: its first
        # thread alone can read "Z" while the others still run
        fields = proc_stat(pid)
        if fields is None or fields[19] != start:
            return False
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return False
        return any((proc_stat(f"{pid}/task/{t}") or ["Z"])[0] not in "ZX"
                   for t in tasks)

    def running() -> list[int]:
        if jvm is not None:
            jvm.poll()  # reaps the JVM, this process's child, once ended
        return [pid for pid, start in procs.items() if alive(pid, start)]

    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0),
                        (signal.SIGKILL, 10.0)):
        for pid in running() if sig is not None else []:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while running() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not running():
            return
    print(f"perfbench: processes still running: {running()}", file=sys.stderr)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Process environment, set before the JVM starts: every scratch
    write stays under ``work``, and Python workers import borsa_spark
    from the repository root whatever the working directory."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the oracles replay the md5 shingle hash
    os.environ["BORSA_SPARK_SHINGLE_HASH"] = "md5"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Bench:
    """One benchmark run: a session, its inputs and its tallies."""

    def __init__(self, workload, seed: int, work: str, trace: bool):
        from borsa_spark.session import get_spark

        self.w = workload
        self.ops = workload.ops
        if trace and workload.name == wl.STREAM_WORKLOAD:
            self.ops += (wl.STREAM,)
        self.work = work
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.drains = 0
        self.tracing = False
        conf = {
            # -XX:-UsePerfData: no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        self.eventlog_dir = os.path.join(work, "eventlog")
        if trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(f"perfbench-{workload.name}", extra_conf=conf)
        self.t_up = time.time()
        self.data = wl.DATA_DIR
        if wl.STREAM in self.ops:
            self.ticks = wl.write_ticks(work, seed, warm=False)
            self.warm_ticks = wl.write_ticks(work, seed, warm=True)
        self.con = check.duckdb_over(self.data, workload.tables)

    def _fail(self, op: str, what: str) -> None:
        self.failed += 1
        self.problems.append(f"{op}: {what}"[:300])

    def _order(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def _drain(self, src: str):
        """One drain of ``src``; returns it and its finalized rollup."""
        self.drains += 1
        d = wl.drain(self.spark, src,
                          os.path.join(self.work, f"drain-{self.drains}"),
                          time_writes=self.tracing)
        return d, d.maintainer.finalized().toPandas()

    def _oracle(self, op: str, src: str | None = None) -> str:
        from borsa_spark.queries import ORACLES

        return wl.tick_oracle_sql(src) if op == wl.STREAM else ORACLES[op]

    def _check(self, op: str, got, oracle_sql: str) -> None:
        problems = check.check(self.con, op, got, oracle_sql)
        if problems:
            self._fail(op, "; ".join(problems))

    def warm(self) -> tuple[float, dict[str, float]]:
        """The warm pass: one small aggregation into the noop sink, which
        the timed passes write to (else the first timed operation pays for
        loading the sink's write path), then every operation once,
        collected, all at once on a few client threads (first executions
        are mostly driver-side compilation, which overlaps). Caches are
        released when all have ended, then each result is compared with
        its oracle. Returns the pass wall, checks excluded, and each
        operation's wall."""
        from concurrent.futures import ThreadPoolExecutor

        from borsa_spark.queries import QUERIES
        from borsa_spark.session import release_all_cached

        def one(op):
            t0 = time.perf_counter()
            if op == wl.STREAM:
                got = self._drain(self.warm_ticks)[1]
            else:
                got = QUERIES[op](self.spark, self.data).toPandas()
            return got, time.perf_counter() - t0

        order = self._order()
        t0 = time.perf_counter()
        wl.noop(self.spark.range(1000).groupBy("id").count())
        with ThreadPoolExecutor(max_workers=WARM_THREADS) as ex:
            futures = {op: ex.submit(one, op) for op in order}
            outcomes = {}
            for op, f in futures.items():
                try:
                    outcomes[op] = f.result()
                except Exception as e:  # noqa: BLE001 - reported as a failed op
                    outcomes[op] = e
        release_all_cached(self.spark)
        wall = time.perf_counter() - t0
        self.warm_end = time.time()
        walls = {}
        for op in order:
            self.attempted += 1
            out = outcomes[op]
            if isinstance(out, Exception):
                self._fail(op, f"raised {type(out).__name__}: {out}")
                continue
            walls[op] = out[1]
            src = self.warm_ticks if op == wl.STREAM else None
            self._check(op, out[0], self._oracle(op, src))
        return wall, walls

    def timed_op(self, op: str) -> list[float]:
        """Run one operation into the noop sink; returns its latencies
        (one per query, one per micro-batch). The drain's result is small
        and is checked after its wall is taken. A raise counts as failed."""
        from borsa_spark.queries import QUERIES
        from borsa_spark.session import release_all_cached

        self.attempted += 1
        try:
            if op == wl.STREAM:
                d, got = self._drain(self.ticks)
                self.last_drain, self.last_got = d, got
                return wl.batch_latencies_s(d)
            t0 = time.perf_counter()
            wl.noop(QUERIES[op](self.spark, self.data))
            return [time.perf_counter() - t0]
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            self._fail(op, f"raised {type(e).__name__}: {e}")
            return []
        finally:
            release_all_cached(self.spark)

    def run_pass(self, spans: dict | None = None):
        """One timed pass over every operation in a seeded order; returns
        (pass wall, op latencies, per-op walls). With ``spans``, each
        operation's jobs are tagged with its name and its wall-clock span
        is recorded."""
        lat: list[float] = []
        walls: dict[str, float] = {}
        for op in self._order():
            if self.persisted_rdds():
                self._fail(op, "persisted RDDs left before the operation")
            if spans is not None:
                self.spark.sparkContext.setJobGroup(op, op)
            a = time.time()
            t0 = time.perf_counter()
            if op == wl.STREAM:
                self.last_drain = None
            lat += self.timed_op(op)
            if op == wl.STREAM and self.last_drain is not None:
                walls[op] = self.last_drain.wall_s
                self._check(op, self.last_got, self._oracle(op, self.ticks))
            else:
                walls[op] = time.perf_counter() - t0
            if spans is not None:
                spans[op] = (int(a * 1000), int(time.time() * 1000))
        return sum(walls.values()), lat, walls

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def stop(self) -> None:
        if self.spark.sparkContext._jsc is not None:
            self.spark.stop()
        self.con.close()


def timed_passes(b: Bench, seconds: float):
    walls, lat, per_op = [], [], {}
    t0 = time.perf_counter()
    while True:
        wall, op_lat, ops = b.run_pass()
        walls.append(wall)
        lat += op_lat
        for k, v in ops.items():
            per_op.setdefault(k, []).append(v)
        if time.perf_counter() - t0 >= seconds:
            return walls, lat, per_op


def traced_layers(b: Bench) -> dict[str, float]:
    """One traced pass and the layer prefixes, folded with the event log
    into the per-layer metrics."""
    from borsa_spark.session import release_all_cached

    out = dict.fromkeys(metric_units("per_layer"), 0.0)
    spans: dict[str, tuple[int, int]] = {}
    b.tracing = True
    out["trace.wall_s"], _, walls = b.run_pass(spans=spans)
    b.tracing = False
    b.traced_walls = walls
    if wl.STREAM in b.ops:
        import pyarrow.parquet as pq

        n_ticks = sum(pq.read_metadata(os.path.join(b.ticks, f)).num_rows
                      for f in os.listdir(b.ticks))
        n_kept = int(b.last_got["n_bars"].sum())
        out.update(wl.stream_layers(b.last_drain, n_ticks, n_kept))

    # layer prefixes: each materialized PREFIX_REPS times, one job group
    # per repetition, caches released between them; a prefix's wall is the
    # median, so the differences are not one sample's noise
    prefix_walls: dict[str, float] = {}

    def timed(name: str, make) -> float:
        reps = []
        for i in range(PREFIX_REPS):
            group = f"prefix.{name}.{i}"
            b.spark.sparkContext.setJobGroup(group, group)
            a = time.time()
            t0 = time.perf_counter()
            wl.noop(make())
            reps.append(time.perf_counter() - t0)
            spans[group] = (int(a * 1000), int(time.time() * 1000))
            release_all_cached(b.spark)
        prefix_walls[name] = statistics.median(reps)
        return prefix_walls[name]

    if b.w.name == "market_history":
        p = wl.market_prefixes(b.spark, b.data)
        t0 = time.perf_counter()
        p["plan"]()
        out["plans.plan_s"] = time.perf_counter() - t0
        out["sources.scan_s"] = (timed("scan_table", p["scan_table"])
                                 + timed("scan_datasource", p["scan_datasource"])
                                 + timed("scan_providers", p["scan_providers"]))
        steps = ["scan_providers", "resample", "adjust", "merge", "attribution"]
        for s in steps[1:]:
            timed(s, p[s])
        for prev, s in zip(steps, steps[1:]):
            out[f"operators.{s}_s"] = prefix_walls[s] - prefix_walls[prev]
        out["router.history_s"] = timed("router", p["router"])
    else:
        p = wl.corpus_prefixes(b.spark, b.data)
        out["sources.scan_s"] = timed("scan", p["scan"])
        steps = ["scan", "shingle", "signature", "band_join", "verify"]
        for s in steps[1:]:
            timed(s, p[s])
        for prev, s in zip(steps, steps[1:]):
            out[f"functions.{s}_s"] = prefix_walls[s] - prefix_walls[prev]
        out["functions.lsh_candidates"] = float(p["band_join"]().count())
        out["functions.lsh_verified"] = float(p["verify"]().count())
        release_all_cached(b.spark)
        out["functions.lsh_useful_ratio"] = (
            out["functions.lsh_verified"] / out["functions.lsh_candidates"]
            if out["functions.lsh_candidates"] else 0.0)
        out["functions.funnel_s"] = timed("funnel", p["funnel"])
        out["functions.langid_s"] = (walls["c11_crawl_corpus_prep"]
                                     - out["functions.funnel_s"])

    b.jvm_rss_mb = peak_rss_mb(b.spark.sparkContext._jvm.java.lang.ProcessHandle
                               .current().pid())
    b.spark.stop()  # flushes and closes the event log
    (log,) = [os.path.join(b.eventlog_dir, f) for f in os.listdir(b.eventlog_dir)]
    per_op = eventlog.fold(eventlog.read_events(log), spans)
    engine = eventlog.total({op: per_op[op] for op in walls})
    out.update({f"engine.{k}": float(v) for k, v in engine.items()})
    if "router" in prefix_walls:
        out["router.history_jobs"] = float(per_op["prefix.router.0"]["jobs"])
    b.per_op_engine = per_op
    return out


def main(argv=None) -> int:
    t_start = process_start_epoch()
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "borsa_spark")):
        print("perfbench: no borsa_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    w = wl.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{w.name}-s{args.seed}-{os.getpid()}")
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    prepare_env(work)
    b = None
    walls, lat, per_op = [], [], {}
    try:
        b = Bench(w, args.seed, work, trace=bool(args.trace))
        warm_wall, warm_ops = b.warm()
        if args.trace:
            metrics = traced_layers(b)
            metrics["session.start_s"] = b.t_up - t_start
            metrics["session.warm_s"] = warm_wall
            metrics["session.peak_rss_mb"] = peak_rss_mb() + b.jvm_rss_mb
            units = metric_units("per_layer")
        else:
            walls, lat, per_op = timed_passes(b, args.seconds)
            metrics = {
                "setup_s": b.warm_end - t_start,
                "wall_s": statistics.median(walls),
                # no latency at all only when every operation raised
                "op_p50_s": statistics.median(lat or [0.0]),
            }
            units = metric_units("end_to_end")
    finally:
        try:
            if b is not None:
                b.stop()
        finally:
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run uses it
            except OSError:
                pass

    import pyarrow
    import pyspark

    record = {
        "workload": w.name,
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "sf": wl.SF,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            # CPU time taken from this virtual machine by its neighbours
            "cpu_steal_share": steal_share(ticks_start, cpu_ticks()),
        },
        "fail_ratio": {"value": b.failed / max(1, b.attempted), "unit": "ratio"},
        "attempted": b.attempted,
        "failed": b.failed,
        "problems": b.problems[:10],
        "samples": {"passes": len(walls), "op_latencies": len(lat)},
        "op_wall_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
        "warm_op_wall_s": warm_ops,
        "session_start_s": b.t_up - t_start,
    }
    if args.trace:
        record["op_wall_s"] = b.traced_walls
        record["engine_per_op"] = b.per_op_engine
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
