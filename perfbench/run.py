#!/usr/bin/env python3
"""Engine benchmark: one closed-loop client on ``local[<cores>]``.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one operation at a
time: a declared query (``spec.fn`` then ``measure.run_noop``) or one
ETL increment load (``plans.stocks/news/forex.run_*_pipeline``). The
inputs are generated from ``--seed`` into ``.perfbench/`` inside the
checkout, which is removed at exit.

A run is:

1. cold set-up: ``get_spark``, ``registry.collect()``, the warm-up
   queries, timed from the start of this script (``setup.cold_s``);
2. the correctness pass, untimed: every EXACT query of the workload
   against its DuckDB oracle, every WEAK query for rows > 0;
3. measured passes until ``--seconds`` have gone by, or until another
   pass would not end by ``DEADLINE_S``. Each pass starts
   with a fresh SparkContext plus the warm-up queries (a set-up), so
   shared memo builds are paid inside every pass, as they are in
   bench.py's single pass; each pass writes under its own TMPDIR, removed
   after it. The ``etl_load`` targets are checked after every pass;
4. more set-ups until there have been three besides the cold one:
   ``setup_s`` is their median. A set-up here is a restart within this
   process (stop the SparkContext, ``get_spark``, ``registry.collect()``,
   the warm-up queries), the work every measured pass starts with.

With ``--trace 1`` the time is split into thirds: untraced, traced,
untraced passes. Traced passes run on SparkContexts with Spark's
event log on, every operation phase under its own job group, and with
``layers.Tracer`` wrapping the engine's layer entry points. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics untraced, per-layer ones traced).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # the cold set-up is timed from here

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402
import workloads as W  # noqa: E402
from layers import Tracer  # noqa: E402

now = time.perf_counter

END_TO_END = {"pass_s": "s", "setup_s": "s"}
SETUPS = 3  # restarts per run at least; setup_s is their median
# A run must end within 180 s of its start. No pass starts unless one as
# long as the longest so far ends by this time, which leaves room for
# the last set-ups and the shutdown.
DEADLINE_S = 140


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# environment: everything the engine writes stays under the work dir
# ---------------------------------------------------------------------------

def _prepare_env(work: Path) -> None:
    for d in ("tmp", "local", "warehouse", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    tmp = str(work / "tmp")
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_WAREHOUSE_DIR": str(work / "warehouse"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        # no hsperfdata files in the system temp dir, from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf 'spark.driver.extraJavaOptions="
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
            "pyspark-shell"),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, str(ROOT))


# Oracle results are kept in ``.perfbench/oracle.duckdb`` across the runs
# of a checkout: computing them added 14 s to an iterative run (8 s for
# q_dedup_clusters' alone). A result is keyed by its SQL, the scale and
# the sources that decide its input: the generator, and the engine files
# behind ``testing.duck_connect``'s views (``catalog.TABLES``).
ORACLE_KEY_FILES = (HERE / "datagen.py", ROOT / "etl_finance_spark" / "testing.py",
                    ROOT / "etl_finance_spark" / "catalog.py")


def _cached_oracle(con, sql: str) -> str:
    """SQL reading ``sql``'s result from the cache, computing it on a
    miss."""
    import hashlib

    digest = hashlib.sha256()
    for path in ORACLE_KEY_FILES:
        digest.update(path.read_bytes())
    digest.update(f"{W.SF}\n{sql}".encode())
    table = f"oracle_cache.o_{digest.hexdigest()[:24]}"
    con.execute(f"CREATE TABLE IF NOT EXISTS {table} AS {sql.strip().rstrip(';')}")
    return f"SELECT * FROM {table}"


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Queries:
    """A fixed list of declared queries, run in a seeded order."""

    def __init__(self, names, sf_dir: str) -> None:
        self.names = list(names)
        self.sf_dir = sf_dir

    def ops(self, bench, rng: random.Random, pass_dir: Path):
        names = list(self.names)
        rng.shuffle(names)
        return [(n, bench.query_op(n, self.sf_dir)) for n in names]

    def check(self, bench):
        return bench.check_queries(self.names, self.sf_dir)

    def after_pass(self, bench, pass_dir: Path):
        return []


class EtlLoad:
    """Seeded increments through the three domain pipelines, then the
    two declared queries that write."""

    DOMAINS = ("stocks", "news", "forex")

    def __init__(self, inc: dict, sf_dir: str) -> None:
        self.inc = inc
        self.sf_dir = sf_dir
        self.stats: list[dict] = []  # per pass: files, bytes, rows

    def ops(self, bench, rng: random.Random, pass_dir: Path):
        from etl_finance_spark.plans import forex, news, stocks

        target = str(pass_dir / "targets")

        def stock_op(frames):
            def op():
                read = bench.spark.read.schema(stocks.RAW_BAR_SCHEMA)
                raw = [(t, read.parquet(p)) for t, p in frames.items()]
                stocks.run_stock_pipeline(bench.spark, raw, f"{target}/stocks")
            return op

        def news_op(path):
            def op():
                raw = bench.spark.read.schema(news.NEWS_RAW_SCHEMA).parquet(path)
                news.run_news_pipeline(bench.spark, raw, f"{target}/news")
            return op

        def forex_op(paths):
            def op():
                read = bench.spark.read
                rates = read.schema(forex.RATES_RAW_SCHEMA).parquet(paths[0])
                btc = read.schema(forex.BTC_RAW_SCHEMA).parquet(paths[1])
                forex.run_forex_pipeline(bench.spark, rates, btc, f"{target}/forex")
            return op

        out = []
        for i in range(len(self.inc["stocks"])):
            out.append((f"stocks_{i}", bench.load_op(stock_op(self.inc["stocks"][i]))))
            out.append((f"news_{i}", bench.load_op(news_op(self.inc["news"][i]))))
            out.append((f"forex_{i}", bench.load_op(forex_op(self.inc["forex"][i]))))
        out += [(n, bench.query_op(n, self.sf_dir)) for n in W.ETL_QUERIES]
        return out

    def check(self, bench):
        # load the first half of the increments once, untimed: with only
        # increment 0 loaded, the first measured pass still spent its
        # early loads compiling (they ran 2x slower than its late ones)
        warm = bench.work / "warm"
        half = len(self.DOMAINS) * (len(self.inc["stocks"]) // 2)
        for _, op in self.ops(bench, None, warm)[:half]:
            op(None)
        shutil.rmtree(warm)
        return bench.check_queries(W.ETL_QUERIES, self.sf_dir)

    def after_pass(self, bench, pass_dir: Path):
        """Target keys unique, one row per distinct generated key."""
        from pyspark.sql import functions as F

        from etl_finance_spark.plans import forex, news, stocks

        keys = {"stocks": stocks.UPSERT_KEYS, "news": news.UPSERT_KEYS,
                "forex": forex.UPSERT_KEYS}
        results, files, size, rows = [], 0, 0, 0
        for domain in self.DOMAINS:
            path = pass_dir / "targets" / domain
            parts = glob.glob(str(path / "*.parquet"))
            files += len(parts)
            size += sum(os.path.getsize(p) for p in parts)
            got = bench.spark.read.parquet(str(path)).agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.struct(*keys[domain])).alias("k"),
            ).first()
            want = self.inc["expected"][domain]
            rows += got["n"]
            results.append((f"target:{domain}", got["n"] == got["k"] == want,
                            f"rows={got['n']} distinct keys={got['k']} expected={want}"))
        self.stats.append({"files": files, "bytes": size, "rows": rows})
        return results


# ---------------------------------------------------------------------------
# the client
# ---------------------------------------------------------------------------

class Bench:
    def __init__(self, args, work: Path, workload, t0: float) -> None:
        self.args = args
        self.t0 = t0
        self.work = work
        self.workload = workload
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.traced = False
        self.spark = None
        self.specs = {}
        self.cores = len(os.sched_getaffinity(0))
        self.setups: list[float] = []
        self.restarts: list[float] = []
        self.warmups: list[float] = []
        self.passes: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}

    # -- sessions -----------------------------------------------------------

    def _start(self) -> float:
        from etl_finance_spark.session import get_spark

        t = now()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return now() - t

    def _warm(self) -> float:
        from etl_finance_spark import lineage
        from etl_finance_spark.measure import run_noop

        t = now()
        for name in W.WARMUPS:
            run_noop(self.specs[name].fn(self.spark, self.workload.sf_dir))
            lineage.release_cuts()
        return now() - t

    def cold_setup(self) -> None:
        from etl_finance_spark import registry

        self.layer["session.start_s"] = self._start()
        c = now()
        self.specs = registry.collect()
        self.layer["registry.collect_s"] = now() - c
        self._warm()
        self.layer["setup.cold_s"] = now() - self.t0

    def restart(self) -> None:
        from etl_finance_spark import registry

        t = now()
        self.spark.stop()
        self._start()
        self.restarts.append(now() - t)
        self.specs = registry.collect()
        self.warmups.append(self._warm())
        self.setups.append(now() - t)

    def set_traced(self, on: bool) -> None:
        """Trace the following passes or not: the event log of later
        SparkContexts (SparkConf reads ``spark.*`` JVM system properties
        at construction), job groups and the layer wrappers."""
        if on == self.traced:
            return
        system = self.spark.sparkContext._jvm.java.lang.System
        for key, val in (("spark.eventLog.enabled", str(on).lower()),
                         ("spark.eventLog.compress", "false"),
                         ("spark.eventLog.dir", (self.work / "events").as_uri())):
            system.setProperty(key, val)
        if on:
            self.tracer.install()
        else:
            self.tracer.uninstall()
        self.traced = on

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    # -- operations -----------------------------------------------------------

    def _group(self, tag, phase) -> None:
        if tag is not None:
            self.spark.sparkContext.setJobGroup(f"{tag}|{phase}", tag)

    def query_op(self, name: str, sf_dir: str):
        from etl_finance_spark.measure import run_noop

        spec = self.specs[name]

        def op(tag):
            self._group(tag, "build")
            t = now()
            df = spec.fn(self.spark, sf_dir)
            if tag is not None:
                self.tracer.add("build", now() - t)
            self._group(tag, "exec")
            t = now()
            run_noop(df)
            if tag is not None:
                self.tracer.add("exec", now() - t)
        return op

    def load_op(self, fn):
        def op(tag):
            self._group(tag, "load")
            fn()
        return op

    def check_queries(self, names, sf_dir: str):
        from etl_finance_spark import lineage
        from etl_finance_spark.testing import compare, duck_connect

        con = duck_connect(sf_dir)
        con.execute("SET enable_progress_bar = false")
        con.execute(f"ATTACH '{ROOT / '.perfbench' / 'oracle.duckdb'}' AS oracle_cache")
        out = []
        try:
            for name in names:
                spec = self.specs[name]
                try:
                    df = spec.fn(self.spark, sf_dir)
                    if spec.oracle is None:
                        ok, msg = len(df.take(1)) > 0, "WEAK: rows > 0"
                    else:
                        ok, msg = compare(df, con, _cached_oracle(con, spec.oracle))
                except Exception as e:  # a crash is a failed check
                    ok, msg = False, f"{type(e).__name__}: {e}"
                lineage.release_cuts()
                out.append((name, ok, msg))
        finally:
            con.close()
        return out

    # -- passes ---------------------------------------------------------------

    def run_pass(self) -> None:
        from etl_finance_spark import lineage

        start = now()
        self.restart()
        k = len(self.passes)
        pass_dir = self.work / f"pass{k}"
        tmp = pass_dir / "tmp"
        tmp.mkdir(parents=True)
        tempfile.tempdir = os.environ["TMPDIR"] = str(tmp)
        self.tracer.reset()
        times: dict[str, float] = {}
        for name, op in self.workload.ops(self, self.rng, pass_dir):
            tag = f"{name}#{k}" if self.traced else None
            self.attempted += 1
            t = now()
            try:
                op(tag)
                times[name] = now() - t
            except Exception:
                self.failed += 1
                traceback.print_exc()
            if self.traced:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            lineage.release_cuts()  # outside the operation's time
        record = {"traced": self.traced, "times": times,
                  "pass_s": sum(times.values())}
        if self.traced:
            record["rdds_left"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            record["n"] = dict(self.tracer.n)
            record["s"] = dict(self.tracer.s)
        for check in self.workload.after_pass(self, pass_dir):
            self._record_check(check)
        record["wall_s"] = now() - start
        self.passes.append(record)
        self.log(f"pass {k} done: {record['pass_s']:.3f}s "
                 + " ".join(f"{n}={t:.2f}" for n, t in times.items()))
        tempfile.tempdir = os.environ["TMPDIR"] = str(self.work / "tmp")
        shutil.rmtree(pass_dir, ignore_errors=True)

    def _record_check(self, check) -> None:
        self.attempted += 1
        if not check[1]:
            self.failed += 1
            print(f"perfbench: check failed: {check[0]}: {check[2]}", file=sys.stderr)

    def room(self) -> bool:
        """Whether another pass would end by ``DEADLINE_S``."""
        longest = max(p["wall_s"] for p in self.passes)
        return now() - T_START + longest < DEADLINE_S

    def measure(self, seconds: float) -> None:
        t = now()
        while True:
            self.run_pass()
            if now() - t >= seconds or not self.room():
                return

    def log(self, what: str) -> None:
        print(f"perfbench: {now() - self.t0:7.2f}s {what}", file=sys.stderr)

    def run(self) -> None:
        self.cold_setup()
        self.log("cold set-up done")
        for check in self.workload.check(self):
            self._record_check(check)
        self.log("correctness pass done")
        if not self.args.trace:
            self.measure(self.args.seconds)
        else:
            # untraced, traced, untraced: a linear drift over the run
            # (the JIT still warming) cancels out of the overhead ratio.
            # On a slow host the last third is left out.
            for traced in (False, True):
                self.set_traced(traced)
                self.measure(self.args.seconds / 3)
            self.set_traced(False)
            if self.room():
                self.measure(self.args.seconds / 3)
        self.layer["jvm_peak_rss_mb"] = self.jvm_peak_rss_mb()
        while len(self.setups) < SETUPS:
            self.restart()

    # -- results --------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        runs = [p for p in self.passes if not p["traced"]]
        return {
            "pass_s": median([p["pass_s"] for p in runs]),
            "setup_s": median(self.setups),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        rows = eventlog.parse_files(eventlog.log_files(str(self.work / "events")))

        def per_pass(fn):
            return median([fn(k, p) for k, p in enumerate(self.passes) if p["traced"]])

        def ev(k, field, phases=None):
            total = 0
            for group, row in rows.items():
                tag, _, phase = group.rpartition("|")
                if tag.rsplit("#", 1)[-1] == str(k) and (phases is None or phase in phases):
                    total += row[field]
            return total

        def n(key):
            return per_pass(lambda k, p: p["n"].get(key, 0))

        def s(key):
            return per_pass(lambda k, p: p["s"].get(key, 0.0))

        def share(key):  # of the pass; 0 when the workload skips the layer
            return per_pass(lambda k, p: p["s"].get(key, 0.0) / p["pass_s"])

        run_phases = ("exec", "load")
        out = {
            "session.start_s": (self.layer["session.start_s"], "s"),
            "session.restart_s": (median(self.restarts), "s"),
            "registry.collect_s": (self.layer["registry.collect_s"], "s"),
            "warmup_s": (median(self.warmups), "s"),
            "setup.cold_s": (self.layer["setup.cold_s"], "s"),
            "jvm_peak_rss_mb": (self.layer["jvm_peak_rss_mb"], "MB"),
            "catalog.table_calls": (n("catalog.table"), "count"),
            "catalog.table_s": (s("catalog.table"), "s"),
            "build.s": (s("build"), "s"),
            "build.jobs": (per_pass(lambda k, p: ev(k, "jobs", ("build",))), "count"),
            "memo.misses": (n("memo.build"), "count"),
            "memo.build_frac": (share("memo.build"), "ratio"),
            "lineage.cuts": (n("lineage.cut"), "count"),
            "lineage.cut_frac": (share("lineage.cut"), "ratio"),
            "lineage.released": (n("lineage.release"), "count"),
            "lineage.release_s": (s("lineage.release"), "s"),
            "lineage.rdds_left": (per_pass(lambda k, p: p["rdds_left"]), "count"),
            "exec.s": (s("exec"), "s"),
            "exec.jobs": (per_pass(lambda k, p: ev(k, "jobs", run_phases)), "count"),
            "exec.stages": (per_pass(lambda k, p: ev(k, "stages", run_phases)), "count"),
            "exec.tasks": (per_pass(lambda k, p: ev(k, "tasks", run_phases)), "count"),
            "exec.executor_run_s": (per_pass(lambda k, p: ev(k, "executor_run_s")), "s"),
            "exec.executor_cpu_s": (per_pass(lambda k, p: ev(k, "executor_cpu_s")), "s"),
            "exec.core_busy_frac": (per_pass(
                lambda k, p: ev(k, "executor_run_s") / (p["pass_s"] * self.cores)), "ratio"),
            "exec.sched_delay_s": (per_pass(lambda k, p: ev(k, "sched_delay_s")), "s"),
            "exec.exchanges": (per_pass(lambda k, p: ev(k, "exchanges")), "count"),
            "shuffle.write_bytes": (per_pass(lambda k, p: ev(k, "shuffle_write_bytes")), "bytes"),
            "shuffle.read_bytes": (per_pass(lambda k, p: ev(k, "shuffle_read_bytes")), "bytes"),
            "shuffle.fetch_wait_frac": (per_pass(
                lambda k, p: ev(k, "fetch_wait_s") / ev(k, "executor_run_s")), "ratio"),
            "spill.bytes": (per_pass(lambda k, p: ev(k, "spill_bytes")), "bytes"),
            "sinks.write_frac": (share("sinks.write"), "ratio"),
            "trace.overhead_frac": (
                median([p["pass_s"] for p in traced])
                / median([p["pass_s"] for p in plain]) - 1, "ratio"),
        }
        stats = getattr(self.workload, "stats", [])
        out["sinks.target_files"] = (median([x["files"] for x in stats]), "count")
        out["sinks.bytes_per_row"] = (
            median([x["bytes"] / x["rows"] for x in stats if x["rows"]]), "bytes")
        offered = getattr(self.workload, "inc", {}).get("rows_offered")
        out["sinks.insert_ratio"] = (per_pass(
            lambda k, p: ev(k, "records_written", ("load",)) / offered) if offered else 0.0,
            "ratio")
        out["sinks.load_growth"] = (self._load_growth(plain), "ratio")
        return out

    @staticmethod
    def _load_growth(passes) -> float:
        """Median latency of the last quarter of increments (rounded
        up) ÷ that of increment 1, pooled over domains and passes.
        Increment 0 creates the targets; every later one reads,
        anti-joins and appends."""
        by_inc: dict[int, list[float]] = {}
        for p in passes:
            for name, t in p["times"].items():
                head, _, idx = name.rpartition("_")
                if head in EtlLoad.DOMAINS:
                    by_inc.setdefault(int(idx), []).append(t)
        if not by_inc:
            return 0.0
        last = [t for i in sorted(by_inc)[-(-len(by_inc) // 4):] for t in by_inc[i]]
        return median(last) / median(by_inc[1])


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "etl_finance_spark" / "registry.py").is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        t = now()
        sf_dir = str(work / "data")
        datagen.write_fixtures(sf_dir, W.SF)
        if args.workload == "etl_load":
            inc = datagen.write_increments(str(work / "landing"), args.seed, W.INCREMENTS)
            workload = EtlLoad(inc, sf_dir)
        else:
            workload = Queries(W.ITERATIVE, sf_dir)
        _prepare_env(work)
        # making the inputs is not set-up
        bench = Bench(args, work, workload, T_START + (now() - t))
        try:
            bench.run()
        finally:
            bench.close()  # also completes the event logs read below
        metrics = bench.per_layer() if args.trace else {
            k: (v, END_TO_END[k]) for k, v in bench.end_to_end().items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = bench.passes
    ops = sum(len(p["times"]) for p in passes if not p["traced"])
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(passes)} timed_ops={ops} "
          f"failed_frac={bench.failed / bench.attempted:.4f}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:24s} {value:14.6f} {unit}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
