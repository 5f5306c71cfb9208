"""basin-spark benchmark: one closed-loop client driving the engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

A run generates its inputs from ``--seed`` into a work directory inside the
checkout, starts the engine's session (``session.get_spark``) on
``local[nproc]``, builds warehouse tables through the ``@materialized``
builders and drives registry queries from one client thread: each query
(the registry builder call, then a noop write that computes every column)
is sent only after the previous one finished.  Every query is checked
against its DuckDB oracle outside the timed region; any exception or
mismatch fails the run (exit 1).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics.  The line before
is the full record: environment, generated row counts, per-query walls,
failures.  The record, and the spans of a traced run, are also written to
``.perfbench/`` in the checkout.  ``--workload all`` runs each workload
in its own process and prints every end-to-end metric by name, with its
unit and sample count.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "basin_climbing_data_pipeline_spark"
SPEC = os.path.join(ROOT, "BENCHMARK.json")
OUT_DIR = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as sp  # noqa: E402


# --- workloads -----------------------------------------------------------------

# @materialized warehouse builders the workloads build, in dependency order
# (each reads only tables listed before it): builder -> module under operators.
WAREHOUSE = {
    "build_transactions": "transactions",
    "build_checkins": "events",
    "build_customers": "customers",
    "build_memberships_2024": "memberships",
    "_pruned_shingles": "dedup",
    "minhash_lsh_pairs": "dedup",
}


# Scale factor of the generated inputs: the engine's costs here are per query
# and per job (session start, Catalyst, scheduling, cold JIT), not per row.
SF = 0.001


@dataclass(frozen=True)
class Workload:
    """Set-up builds ``warehouse`` (cold, in dependency order, one thread)
    and collects each of ``queries`` once, which checks it against its
    oracle and warms it.  The timed phase is closed-loop passes over
    ``queries`` for --seconds."""

    name: str
    warehouse: tuple[str, ...]
    queries: tuple[str, ...]
    # documents and embeddings grown this many times (gen.replicate_corpus)
    replicas: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "dashboard",
            # the tables the panels below read
            warehouse=("build_transactions", "build_checkins", "build_customers",
                       "build_memberships_2024"),
            # one panel per family, including a streaming panel and a
            # Python-worker (Arrow UDF) panel
            queries=(
                "revenue_by_month_category", "rolling_60d_visits", "top_spenders",
                "duplicate_emails", "membership_attrition_monthly",
                "k_anonymity_audit", "doc_stats", "train_test_split",
                "streaming_weighted_sample", "media_resize_features",
            ),
        ),
        Workload(
            "corpus_scaled",
            warehouse=("_pruned_shingles", "minhash_lsh_pairs"),
            # the executor-heavier corpus families and an Arrow query;
            # simhash_near_pairs is the known slow case and dominates a pass
            queries=(
                "simhash_near_pairs", "minhash_lsh_pairs", "exact_dedup",
                "doc_fingerprints", "weighted_reservoir_sample",
                "hard_negative_mining", "media_frame_sample",
            ),
            replicas=2,
        ),
    )
}


# --- helpers -------------------------------------------------------------------

def module_of(fn) -> str:
    """Family of a query callable: its module below the package, without
    the ``operators.`` prefix (``transactions``, ``streaming.stateful``,
    ``sources.readers``)."""
    mod = getattr(fn, "__wrapped__", fn).__module__
    mod = mod[len(PACKAGE) + 1:] if mod.startswith(PACKAGE + ".") else mod
    return mod[len("operators."):] if mod.startswith("operators.") else mod


def median(xs) -> float:
    return statistics.median(xs) if xs else math.nan


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_head() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def first_line(e: BaseException) -> str:
    text = str(e).strip().splitlines()
    return f"{type(e).__name__}: {text[0][:300] if text else ''}"


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
    PERIOD_S = 0.25

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @classmethod
    def tree_kb(cls, root: int) -> int:
        kids: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            kids.setdefault(int(fields[1]), []).append(int(d))
            rss[int(d)] = int(fields[21]) * cls.PAGE_KB
        total, todo = 0, [root]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo += kids.get(p, [])
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_kb(os.getpid()))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self.tree_kb(os.getpid()))


# --- one run -------------------------------------------------------------------

class Bench:
    def __init__(self, wl: Workload, seed: int, seconds: float, traced: bool, work: str):
        self.wl, self.seed, self.seconds, self.traced = wl, seed, seconds, traced
        self.rng = random.Random(seed)
        self.data_dir = os.path.join(work, "data")
        self.tracer = sp.Tracer(enabled=traced)
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.layer: dict[str, float] = {}
        self.stats = sp.QueryStats()
        self.batches: list[dict] = []
        self.outputs: dict[str, tuple] = {}
        self.record: dict = {"workload": wl.name, "seed": seed, "sf": SF,
                             "trace": int(traced)}

    # set-up ----------------------------------------------------------------

    def generate(self) -> None:
        tables = gen.make_tables(SF, self.seed)
        if self.wl.replicas > 1:
            tables = gen.replicate_corpus(tables, self.wl.replicas, self.seed)
        self.record["rows"] = gen.write_tables(tables, self.data_dir)

    def start_session(self) -> None:
        from basin_climbing_data_pipeline_spark import session

        t0 = time.perf_counter()
        with self.tracer.span("session.start", "session"):
            self.spark = session.get_spark("perfbench")
        self.layer["session.start_s"] = time.perf_counter() - t0
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.cores = sc.defaultParallelism
        if self.traced:
            self.probe = sp.SparkProbe(self.spark)
            sp.add_streaming_listener(self.spark, self.batches)
        from basin_climbing_data_pipeline_spark import io, registry

        self.io, self.registry = io, registry

    def build_warehouse(self) -> float:
        """Build the workload's warehouse tables in dependency order, one
        thread; each builder call writes its table."""
        t_all = time.perf_counter()
        out_bytes = 0
        for fn_name in self.wl.warehouse:
            mod = importlib.import_module(f"{PACKAGE}.operators.{WAREHOUSE[fn_name]}")
            name = fn_name.lstrip("_")
            self.spark.sparkContext.setJobGroup(f"warehouse:{name}", name)
            t0 = time.perf_counter()
            with self.tracer.span("io.materialize", f"warehouse:{name}"):
                df = getattr(mod, fn_name)(self.spark, self.data_dir)
            self.layer[f"io.materialize.{name}_s"] = time.perf_counter() - t0
            out_bytes += sum(os.path.getsize(p.removeprefix("file:"))
                             for p in df.inputFiles())
        wall = time.perf_counter() - t_all
        self.layer["io.materialize_s"] = wall
        self.layer["io.materialize_output_bytes"] = float(out_bytes)
        return wall

    # queries ---------------------------------------------------------------

    def run_query(self, name: str, qid: str, traced: bool, collect: bool):
        """Build and execute one query: the registry builder call, then a
        noop write that computes every column (with ``collect``, a collect
        instead).  Returns its wall and, with ``collect``, (columns, rows).
        Traced, it also records spans and Spark counters.  The noop write
        plans its command again, so a traced query's ``spark.exec`` holds a
        second, short optimization and planning."""
        fn, _sql = self.registry.REGISTRY[name]
        self.spark.sparkContext.setJobGroup(qid, name)

        def execute(df):
            if collect:
                return df.columns, df.collect()
            df.write.mode("overwrite").format("noop").save()
            return None

        if not traced:
            t0 = time.perf_counter()
            rows = execute(fn(self.spark, self.data_dir))
            return time.perf_counter() - t0, rows
        t = self.tracer
        n_batches = len(self.batches)
        self.probe.python_worker()  # skip SQL executions of untraced work
        j0 = self.probe.next_job_id()
        with t.span("query", qid) as root:
            with t.span("registry.build", qid, root) as build:
                df = fn(self.spark, self.data_dir)
            j1 = self.probe.next_job_id()
            with t.span("catalyst.plan", qid, root) as plan:
                df._jdf.queryExecution().executedPlan()
            with t.span("spark.exec", qid, root) as run:
                rows = execute(df)
        j2 = self.probe.next_job_id()
        ph = sp.catalyst_phases(df)
        # DataFrames are analysed eagerly, so analysis ran inside the
        # builder call; optimization and planning ran in the plan span
        b_start, b_end, p_start = t.spans[build].start, t.spans[build].end, t.spans[plan].start
        analysis = min(ph["analysis"], b_end - b_start)
        t.add("catalyst.analysis", b_end - analysis, b_end, qid, build)
        t.add("catalyst.optimization", p_start, p_start + ph["optimization"], qid, plan)
        t.add("catalyst.planning", p_start + ph["optimization"],
              p_start + ph["optimization"] + ph["planning"], qid, plan)
        self.probe.drain()
        if self.stats is not None:
            self.stats.add(
                module=module_of(fn),
                wall=t.spans[root].end - t.spans[root].start,
                build_s=b_end - b_start - analysis,
                exec_s=t.spans[run].end - t.spans[run].start,
                phases=ph,
                build=self.probe.counters(range(j0, j1)),
                run=self.probe.counters(range(j1, j2)),
                python=self.probe.python_worker(),
                batches=self.batches[n_batches:],
            )
        return t.spans[root].end - t.spans[root].start, rows

    def pass_over(self, names, tag: str, traced: bool,
                  collect: bool = False) -> list[tuple[str, float]]:
        """The queries one after the other.  With ``collect``, each output
        is kept for ``compare``; its wall was taken before."""
        out = []
        for name in names:
            self.attempted += 1
            try:
                wall, rows = self.run_query(name, f"{name}@{tag}", traced, collect)
            except Exception as e:  # counted as failed; the run continues
                traceback.print_exc(file=sys.stderr)
                self.failures[name] = first_line(e)
                continue
            out.append((name, wall))
            if collect:
                self.outputs[name] = rows
        return out

    def compare(self) -> None:
        """Check every collected output against its DuckDB oracle."""
        import oracle

        duck = oracle.Oracle(self.data_dir, self.io.TABLES)
        try:
            for name, (cols, rows) in self.outputs.items():
                try:
                    got = oracle.digest(cols, [tuple(r) for r in rows])
                    why = oracle.compare(got, duck.digest(self.registry.REGISTRY[name][1]))
                except Exception as e:  # reported by name, never hidden
                    traceback.print_exc(file=sys.stderr)
                    why = first_line(e)
                if why:
                    self.failures[name] = why
        finally:
            duck.close()

    def loop(self) -> dict:
        """Closed loop: whole passes over the workload's queries, each in a
        fresh seeded order, until --seconds have passed.  A traced run
        alternates untraced and traced passes (at least one of each), so
        the tracing overhead is measured on the same queries."""
        passes = []
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < self.seconds
               or (self.traced and len(passes) < 2)):
            order = list(self.wl.queries)
            self.rng.shuffle(order)
            traced = self.traced and len(passes) % 2 == 1
            p0 = time.perf_counter()
            walls = self.pass_over(order, f"p{len(passes)}", traced)
            passes.append({"traced": traced, "wall": time.perf_counter() - p0,
                           "walls": walls})
        return {"wall": time.perf_counter() - t0, "passes": passes}

    # results ---------------------------------------------------------------

    def end_to_end(self, setup_s: float, timed: dict) -> dict:
        walls = [w for p in timed["passes"] for _n, w in p["walls"]]
        pass_walls = [p["wall"] for p in timed["passes"]]
        return {
            "setup_s": setup_s,
            "wall_s": median(pass_walls),
            "query_p50_s": median(walls),
            "queries_per_s": len(walls) / sum(pass_walls),
        }

    def per_layer(self, timed: dict) -> dict:
        m = dict(self.layer)
        traced_passes = sum(p["traced"] for p in timed["passes"])
        m.update(self.stats.metrics(traced_passes, self.cores))
        # registry + catalyst + spark self time against the traced walls
        selfs = sp.self_times(self.tracer.spans)
        layers = sum(v for k, v in selfs.items()
                     if k.split(".")[0] in ("registry", "catalyst", "spark"))
        m["trace.layer_cover_frac"] = layers / self.stats.wall if self.stats.wall else 0.0
        # traced against untraced walls of the same queries
        tw = [w for p in timed["passes"] if p["traced"] for _n, w in p["walls"]]
        pw = [w for p in timed["passes"] if not p["traced"] for _n, w in p["walls"]]
        m["trace.overhead_frac"] = statistics.mean(tw) / statistics.mean(pw) - 1.0
        return m


# --- output --------------------------------------------------------------------

def load_spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    for name, (value, _unit) in metrics.items():
        if value is None or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def select(spec: dict, key: str, measured: dict) -> dict:
    """The metrics BENCHMARK.json lists under ``key``, with their units;
    a listed metric this run did not measure is an error."""
    # a family or warehouse table this workload does not touch did no work
    for m in spec[key]:
        if m["name"].startswith(("operators.", "io.")):
            measured.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in spec[key] if m["name"] not in measured]
    if missing:
        raise KeyError(f"{key} metrics not measured: {missing}")
    out = {}
    for m in spec[key]:
        v = measured[m["name"]]
        out[m["name"]] = (float(v[0] if isinstance(v, tuple) else v), m["unit"])
    return out


def environment(bench: Bench) -> dict:
    import pyspark

    return {
        "effective_cores": bench.cores,
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "cwd": os.getcwd(),
        "git_head": git_head(),
    }


def run(wl: Workload, seed: int, seconds: float, traced: bool) -> int:
    spec = load_spec()
    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=OUT_DIR)
    # every temporary file of the run stays in the checkout: the engine's
    # warehouse (tempfile), Spark's scratch space and the JVM's tmpdir; the
    # JVM keeps its performance counters in memory instead of a /tmp file
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:+PerfDisableSharedMem"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["TZ"] = "UTC"
    time.tzset()
    bench = Bench(wl, seed, seconds, traced, work)
    try:
        phases = bench.record["phases_s"] = {}

        def mark(name: str, t0: float) -> float:
            phases[name] = time.perf_counter() - t0
            return time.perf_counter()

        with RssSampler() as rss:
            t = mark("imports", T_PROCESS)
            bench.generate()
            t = mark("generate", t)
            bench.start_session()
            t = mark("session", t)
            wh_s = bench.build_warehouse()
            t = mark("warehouse", t)
            # the check pass also warms every query: first executions
            # compile their code
            bench.pass_over(wl.queries, "check", False, collect=True)
            bench.compare()
            t = mark("check", t)
            setup_s = time.perf_counter() - T_PROCESS
            timed = bench.loop()
            mark("timed", t)
        walls = [w for p in timed["passes"] for _n, w in p["walls"]]
        try:
            p90, beyond = sp.tail_percentile(walls, 0.9, 10)
        except ValueError:
            p90, beyond = None, 0
        rec = bench.record
        rec.update(
            environment=environment(bench),
            failures=bench.failures,
            layers_s={k: round(v, 4) for k, v in bench.layer.items()},
            per_query_s={},
            samples={"queries": len(walls), "passes": len(timed["passes"]),
                     "query_p90_s": p90, "beyond_p90": beyond},
            warehouse_build_s=wh_s,
            peak_rss_mb=rss.peak_kb / 1024.0,
            failed_frac={"value": len(bench.failures) / bench.attempted,
                         "failed": len(bench.failures), "attempted": bench.attempted},
        )
        for p in timed["passes"]:
            for n, w in p["walls"]:
                rec["per_query_s"].setdefault(n, []).append(round(w, 4))
        if traced:
            layer = bench.per_layer(timed)
            metrics = select(spec, "per_layer", layer)
        else:
            metrics = select(spec, "end_to_end", bench.end_to_end(setup_s, timed))
        rec["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        tag = f"{wl.name}-seed{seed}-trace{int(traced)}"
        with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
        if traced:
            with open(os.path.join(OUT_DIR, f"{tag}.spans.json"), "w") as f:
                json.dump(bench.tracer.to_json(), f)
        failed = len(bench.failures)
        line = result_line(failed == 0, bench.attempted, failed, metrics)
        print(json.dumps(rec, sort_keys=True))
        print(json.dumps(line))
        return 0 if failed == 0 else 1
    finally:
        if hasattr(bench, "spark"):
            stop_session(bench.spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it its Python workers) to
    exit; the JVM leaves when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_all(seed: int, seconds: float) -> int:
    """Each workload in its own process; prints every end-to-end metric
    with its unit and sample count.  Refuses to mix core counts."""
    status, cores = 0, set()
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{name}: FAILED (exit {proc.returncode})")
            print(proc.stderr[-2000:], file=sys.stderr)
            if len(lines) >= 2:
                print(f"  failures: {json.loads(lines[-2]).get('failures')}")
            status = 1
            continue
        rec = json.loads(lines[-2])
        cores.add(rec["environment"]["effective_cores"])
        n = rec["samples"]["queries"]
        print(f"{name}  (seed {seed}, {rec['environment']['effective_cores']} cores, "
              f"{n} query samples in {rec['samples']['passes']} timed passes)")
        for k, v in rec["metrics"].items():
            print(f"  {k:<18} {v['value']:>12.4f} {v['unit']}")
        p90 = rec["samples"]["query_p90_s"]
        print(f"  {'query_p90_s':<18} {'n/a' if p90 is None else f'{p90:.4f}':>12} s"
              f"  ({n} samples, {rec['samples']['beyond_p90']} beyond; needs >= 100)")
        print(f"  {'warehouse_build_s':<18} {rec['warehouse_build_s']:>12.4f} s  (cold, set-up)")
        print(f"  {'peak_rss_mb':<18} {rec['peak_rss_mb']:>12.1f} MB")
        ff = rec["failed_frac"]
        print(f"  {'failed_frac':<18} {ff['value']:>12.4f} ratio"
              f"  ({ff['failed']} of {ff['attempted']})")
    if len(cores) > 1:
        print(f"refusing to compare: workloads ran at different core counts {cores}")
        return 1
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="basin-spark benchmark")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(SPEC):
        print(f"perfbench: run from a checkout holding {PACKAGE}/ and BENCHMARK.json",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
