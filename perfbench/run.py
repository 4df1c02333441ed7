#!/usr/bin/env python3
"""Importer-and-catalog benchmark: one command, one JSON result line.

    python3 perfbench/run.py --workload import_wide --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run starts a Spark session on
``local[<cpus>]``, builds its inputs from ``--seed``, drives the entry
points users call (``cli.main(argv)`` for the reference CLI modes,
``queries.queries()`` for the registry), checks every output, and
prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
stdout line. The client is a closed loop: one operation at a time.

Workloads:
  import_wide  2 studies, each a wide CNA matrix (WIDE) and a 37-column
               MAF, through convert-cna-with-derived, convert-mutations
               and load-clickhouse into an in-process capture sink.
  catalog      a frozen registry subset (catalog.SUBSET) on the fixed
               sf0.01 tables in data/catalog, with a noop sink (collect).

A pass is one import of the tree, or one pass over the subset. Passes
repeat while the next one is expected to end within ``--seconds``
(at least one). Each pass runs in a new JVM, so every pass starts
cold, as every CLI call does; at 20 seconds on 4 cores a run times one
pass. Everything written goes under ``.bench_build/perfbench`` in the
checkout.

``--trace 0`` prints the end-to-end metrics, each the median over the
run's timed passes (setup_s: over its SETUPS session starts):
  setup_s      wall time of a session start (stop, get_spark) plus a
               warm-up job; the subset needs no prebuilt fixtures
  cpu_s        CPU seconds (tree_cpu_s) of one pass. import: first
               convert call until the sink has accepted the last row;
               catalog: one pass over the subset
  heavy_cpu_s  the part of cpu_s spent in the two convert calls
               (import) or in the heavy, multi-job rows (catalog)
The bounded metrics are CPU time, not wall time. On a shared 4-core
host the wall time of the same cold import pass spread 0.21 to 0.49
(IQR / median over 5 seeds) with the host's load, its CPU time 0.13
in the same runs. The traced run reports, unbounded, the wall times
of its untraced passes, which run warm in its one JVM: pass.wall_s,
pass.heavy_s, pass.rows_per_s (rows landed in the sink or collected,
divided by pass.wall_s), import.load_s, queries.short.s and
catalog.query_p50_s.

``--trace 1`` runs a warm-up pass, then traced and untraced passes in
pairs, and prints the per-layer metrics (see layer_metrics). It writes
its spans to ``.bench_build/perfbench/<workload>.spans.jsonl``.

Units come from BENCHMARK.json at the checkout root; a run fails if
the metrics it computes differ from the ones declared there.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from catalog import DATA_DIR, HEAVY, SUBSET, check_oracles  # noqa: E402
from sink import CaptureSink  # noqa: E402
from spans import Tracer, covered, parse_event_log, self_times  # noqa: E402

SETUPS = 5
WIDE = gen.Shape(studies=2, genes=96, samples=192, maf_rows=3000, decoys=True)
FAMILIES = ("ann", "dedup", "split", "graph", "short")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Session:
    """Owns the Spark session: repeated starts (setup), the JVM's peak
    RSS, and the event log directory of a traced run."""

    def __init__(self, work: str, cpus: int, trace: bool) -> None:
        from clickhouse_only_importer_prototype_spark.session import get_spark

        self.get_spark = get_spark
        self.cpus = cpus
        self.work = work
        tmp = os.path.join(work, "tmp")
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"
            f" -Dderby.system.home={tmp}",
        }
        self.event_dir = os.path.join(work, "eventlog")
        if trace:
            os.makedirs(self.event_dir)
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = None
        self.start_s: list[float] = []
        self.warmup_s: list[float] = []

    def start(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self.get_spark(
            master=f"local[{self.cpus}]", extra_conf=self.conf
        )
        t1 = time.perf_counter()
        # one parquet round trip; Python workers start in the first pass,
        # as they do in every CLI call
        path = os.path.join(self.work, "warmup.parquet")
        self.spark.range(0, 20_000, 1, self.cpus).selectExpr(
            "id", "cast(id AS string) AS s"
        ).write.mode("overwrite").parquet(path)
        self.spark.read.parquet(path).count()
        self.start_s.append(t1 - t0)
        self.warmup_s.append(time.perf_counter() - t1)

    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit (it exits when
        its stdin, a pipe from this process, closes)."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), reaped children included. The kernel
    charges time a hypervisor steals to no process, so this moves less
    with the host's load than wall time does."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(f) for f in fields[11:15])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


class Pass:
    def __init__(self) -> None:
        self.start = time.time()
        self.wall = 0.0
        self.cpu = 0.0
        self.ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}

    def op(self, seconds: float, ok: bool) -> None:
        self.ops.append(seconds)
        self.attempted += 1
        self.failed += not ok


class ImportWide:
    """Reference CLI modes over a seeded study tree into the sink."""

    def __init__(self, work: str, seed: int) -> None:
        self.tree = os.path.join(work, "studies")
        self.out = os.path.join(work, "parquet")
        self.expected = gen.study_tree(self.tree, WIDE, seed)
        self.sink = CaptureSink()

    def run_pass(self, spark, tracer: Tracer | None) -> Pass:
        from clickhouse_only_importer_prototype_spark import cli

        shutil.rmtree(self.out, ignore_errors=True)
        self.sink.reset()
        p = Pass()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        for mode in ("convert-cna-with-derived", "convert-mutations"):
            p.op(*self._cli(cli, ["-mode", mode, "-tsv-dir", self.tree]))
        c1, t1 = tree_cpu_s(), time.perf_counter()
        p.op(*self._cli(cli, ["-mode", "load-clickhouse", "-clickhouse-url", self.sink.url]))
        c2, t2 = tree_cpu_s(), time.perf_counter()
        p.wall, p.cpu = t2 - t0, c2 - c0
        problems = self.sink.verify(self.expected)
        for problem in problems:
            log(f"import check failed: {problem}")
        p.attempted += 1
        p.failed += bool(problems)
        landed = sum(self.sink.rows.values())
        p.info = {
            "heavy_s": t1 - t0,
            "heavy_cpu_s": c1 - c0,
            "load_s": t2 - t1,
            "rows_per_s": landed / p.wall,
            "output_bytes_ratio": _tree_bytes(self.out) / self.expected.tsv_bytes,
            "parquet_files": _tree_files(self.out),
            "parquet_bytes": _tree_bytes(self.out),
            "sink_rows": landed,
            "sink_posts": sum(self.sink.posts.values()),
            "sink_bytes": sum(self.sink.bytes.values()),
            "sink_server_s": self.sink.server_s,
        }
        return p

    def _cli(self, cli, args: list[str]) -> tuple[float, bool]:
        t = time.perf_counter()
        rc = cli.main(args + ["-parquet-dir", self.out])
        if rc != 0:
            log(f"cli {args[1]} exited {rc}")
        return time.perf_counter() - t, rc == 0

    def check(self) -> tuple[int, int]:
        return 0, 0

    def close(self) -> None:
        self.sink.close()


class Catalog:
    """The frozen registry subset; rows are collected (noop sink)."""

    def __init__(self, work: str, seed: int) -> None:
        from clickhouse_only_importer_prototype_spark import queries

        self.queries = queries
        self.registry = queries.queries()
        self.results: dict = {}

    def run_pass(self, spark, tracer: Tracer | None) -> Pass:
        p = Pass()
        heavy_s = heavy_cpu_s = collected = 0
        c0, t0 = tree_cpu_s(), time.perf_counter()
        for name, family in SUBSET.items():
            c, t = tree_cpu_s(), time.perf_counter()
            try:
                with _span(tracer, "queries.plan", family=family):
                    df = self.registry[name](spark, DATA_DIR)
                with _span(tracer, "queries.exec", family=family):
                    rows = df.collect()
            except Exception as exc:  # a failing query is a failed operation
                log(f"query {name} raised {type(exc).__name__}: {exc}")
                p.op(time.perf_counter() - t, False)
                continue
            p.op(time.perf_counter() - t, True)
            if name in HEAVY:
                heavy_s += p.ops[-1]
                heavy_cpu_s += tree_cpu_s() - c
            collected += len(rows)
            self.results.setdefault(name, (df.columns, [tuple(r) for r in rows]))
        p.wall, p.cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        p.info = {
            "heavy_s": heavy_s,
            "heavy_cpu_s": heavy_cpu_s,
            "rows_per_s": collected / p.wall,
            "query_p50_s": statistics.median(p.ops),
        }
        return p

    def check(self) -> tuple[int, int]:
        """Oracle comparison of the first collected result of each
        query, once per run, outside the timed region."""
        problems = check_oracles(self.results, self.queries.oracle_sql())
        for name, problem in problems.items():
            log(f"oracle mismatch {name}: {problem}")
        return len(self.results), len(problems)

    def close(self) -> None:
        pass


WORKLOADS = {"import_wide": ImportWide, "catalog": Catalog}


def _span(tracer: Tracer | None, name: str, **attrs):
    return contextlib.nullcontext() if tracer is None else tracer.span(name, **attrs)


def _tree_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def patch_layers(tracer: Tracer) -> None:
    """Wrap each layer's public functions under the name their callers
    look them up by."""
    from clickhouse_only_importer_prototype_spark.operators import mutation
    from clickhouse_only_importer_prototype_spark.plans import pipelines
    from clickhouse_only_importer_prototype_spark.sinks import clickhouse_http
    from clickhouse_only_importer_prototype_spark.sources import tsv

    for attr in ("discover_cna_files", "discover_mutation_files"):
        tracer.patch(pipelines, attr, "discovery", count=len)
    tracer.patch(tsv, "header_line_and_names", "tsv.header")
    for attr in ("read_cna_matrix", "read_maf"):
        tracer.patch(pipelines, attr, "tsv.read_plan")
    for attr in ("genetic_alterations", "genetic_profile_samples", "cna_derived"):
        tracer.patch(pipelines.cna_ops, attr, "cna.plan")
    for attr in ("with_sequential_ids", "with_sequential_ids_multi", "next_event_id"):
        tracer.patch(mutation, attr, "mutation.ids")
    # arrow_local_df is imported by name into both modules
    tracer.patch(mutation, "arrow_local_df", "localframe")
    tracer.patch(pipelines, "arrow_local_df", "localframe")
    tracer.patch(pipelines, "write_parquet", "parquet.write")
    for attr in ("convert_cna", "convert_mutations", "load_clickhouse"):
        tracer.patch(pipelines, attr, "pipelines")
    tracer.patch(clickhouse_http, "write_clickhouse_http", "clickhouse_http.write")


def layer_metrics(spans, event_log: str, traced: list[Pass], untraced: list[Pass]) -> dict:
    """Per-layer numbers, averaged per traced pass. Wall time is time
    inside a layer's outermost spans; Spark jobs are charged to the
    innermost span whose job group submitted them."""
    by_sid = {s.sid: s for s in spans}
    selfs = self_times(spans)
    with open(event_log) as fh:
        jobs, stages = parse_event_log(fh)
    windows = [(p.start, p.start + p.wall) for p in traced]
    jobs = [j for j in jobs if any(a <= j.start <= b for a, b in windows)]
    n = len(traced)

    def of(pred):
        return [s for s in spans if pred(s)]

    def outer_wall(name):
        total = 0.0
        for s in of(lambda s: s.name == name):
            p = s.parent
            while p is not None and by_sid[p].name != name:
                p = by_sid[p].parent
            if p is None:
                total += s.end - s.start
        return total / n

    def calls(name):
        return sum(s.count for s in of(lambda s: s.name == name)) / n

    def charged(pred):
        out = []
        for j in jobs:
            if j.group and j.group.startswith("span-"):
                s = by_sid.get(int(j.group[5:]))
                if s is not None and pred(s):
                    out.append(j)
        return out

    def stage_total(js, attr):
        return sum(getattr(stages[i], attr) for j in js for i in j.stages if i in stages) / n

    def named(name):
        return lambda s: s.name == name

    def info(key):
        return sum(p.info.get(key, 0.0) for p in traced) / n

    sink_rows = info("sink_rows")
    m = {
        "discovery.s": outer_wall("discovery"),
        "discovery.files": calls("discovery"),
        "tsv.header_s": outer_wall("tsv.header"),
        "tsv.header_calls": calls("tsv.header"),
        "tsv.read_plan_s": outer_wall("tsv.read_plan"),
        "cna.plan_s": outer_wall("cna.plan"),
        "cna.calls": calls("cna.plan"),
        "mutation.ids_s": outer_wall("mutation.ids"),
        "mutation.ids_jobs": len(charged(named("mutation.ids"))) / n,
        "localframe.s": outer_wall("localframe"),
        "localframe.calls": calls("localframe"),
        "parquet.write_s": outer_wall("parquet.write"),
        "parquet.jobs": len(charged(named("parquet.write"))) / n,
        "parquet.tasks": stage_total(charged(named("parquet.write")), "tasks"),
        "parquet.files": info("parquet_files"),
        "parquet.bytes": info("parquet_bytes"),
        "pipelines.self_s": sum(selfs[s.sid] for s in of(named("pipelines"))) / n,
        "pipelines.jobs": len(charged(named("pipelines"))) / n,
        "pipelines.stages": sum(len(j.stages) for j in charged(named("pipelines"))) / n,
        "clickhouse_http.write_s": outer_wall("clickhouse_http.write"),
        "clickhouse_http.rows": sink_rows,
        "clickhouse_http.posts": info("sink_posts"),
        "clickhouse_http.bytes_per_row": info("sink_bytes") / sink_rows if sink_rows else 0.0,
        "clickhouse_http.server_s": info("sink_server_s"),
        "clickhouse_http.task_retries": stage_total(
            charged(named("clickhouse_http.write")), "retried_tasks"
        ),
        "queries.plan_s": outer_wall("queries.plan"),
        "queries.exec_s": outer_wall("queries.exec"),
        "queries.jobs": len(charged(lambda s: s.name.startswith("queries."))) / n,
    }
    for fam in FAMILIES:
        in_fam = lambda s, f=fam: s.attrs.get("family") == f  # noqa: E731
        m[f"queries.{fam}.s"] = sum(s.end - s.start for s in of(in_fam)) / n
        m[f"queries.{fam}.jobs"] = len(charged(in_fam)) / n
    m["import.load_s"] = info("load_s")
    m["import.output_bytes_ratio"] = info("output_bytes_ratio")
    m["catalog.query_p50_s"] = info("query_p50_s")
    all_stages = [i for j in jobs for i in j.stages if i in stages]
    m.update(
        {
            "spark.jobs": len(jobs) / n,
            "spark.stages": len(all_stages) / n,
            "spark.driver_only_s": sum(
                (b - a) - covered((max(j.start, a), min(j.end, b)) for j in jobs if a <= j.start <= b)
                for a, b in windows
            ) / n,
        }
    )
    for attr in ("tasks", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        m[f"spark.{attr}"] = sum(getattr(stages[i], attr) for i in all_stages) / n
    top = [(s.start, s.end) for s in spans if s.parent is None]
    m["trace.overhead_frac"] = (
        statistics.median(p.wall for p in traced) / statistics.median(p.wall for p in untraced) - 1
    )
    m["trace.unattributed_s"] = sum(p.wall for p in traced) / n - covered(top) / n
    return m


def run(args) -> dict:
    cpus = os.cpu_count() or 1
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    workload = WORKLOADS[args.workload](work, args.seed)
    session = Session(work, cpus, bool(args.trace))
    try:
        for _ in range(SETUPS):
            session.start()
        spark = session.spark
        setup_s = statistics.median(
            a + b for a, b in zip(session.start_s, session.warmup_s)
        )
        log(f"setup {setup_s:.3f}s (starts {session.start_s}, warm-ups {session.warmup_s})")

        passes, warmup, traced, untraced = [], [], [], []
        tracer = Tracer(spark.sparkContext)

        def record(p: Pass, kind: list) -> None:
            kind.append(p)
            passes.append(p)
            log(f"pass {len(passes)}: {p.wall:.3f}s cpu {p.cpu:.3f}s"
                f" heavy_cpu {p.info.get('heavy_cpu_s', 0):.3f}s ops {[round(o, 3) for o in p.ops]}")

        if args.trace:
            record(workload.run_pass(spark, None), warmup)
        # one step is a pass, or with tracing a traced and an untraced
        # pass; steps repeat while the next is expected to fit
        t_end = time.perf_counter() + args.seconds
        while True:
            step_start = time.perf_counter()
            if args.trace:
                # traced before untraced: warm-up drift between the two
                # then inflates, never hides, trace.overhead_frac
                if args.workload != "catalog":
                    patch_layers(tracer)
                try:
                    record(workload.run_pass(spark, tracer), traced)
                finally:
                    tracer.restore()
            elif untraced:
                # every timed pass starts cold, in a new JVM, as every
                # CLI call does
                session.close()
                session.start()
                spark = session.spark
            record(workload.run_pass(spark, None), untraced)
            if time.perf_counter() + (time.perf_counter() - step_start) > t_end:
                break
        check_attempted, check_failed = workload.check()
        attempted = sum(p.attempted for p in passes) + check_attempted
        failed = sum(p.failed for p in passes) + check_failed
        if args.trace:
            values = {
                "session.start_s": statistics.median(session.start_s),
                "session.warmup_s": statistics.median(session.warmup_s),
                "session.peak_rss_mb": session.peak_rss_mb(),
            }
            session.stop()  # finishes the event log
            with open(os.path.join(WORK, f"{args.workload}.spans.jsonl"), "w") as fh:
                fh.writelines(json.dumps(dataclasses.asdict(s)) + "\n" for s in tracer.spans)
            logs = [os.path.join(session.event_dir, f) for f in os.listdir(session.event_dir)]
            values.update(
                layer_metrics(tracer.spans, max(logs, key=os.path.getmtime), traced, untraced)
            )
            values["pass.wall_s"] = statistics.median(p.wall for p in untraced)
            for key in ("heavy_s", "rows_per_s"):
                values[f"pass.{key}"] = statistics.median(p.info[key] for p in untraced)
        else:
            values = {
                "setup_s": setup_s,
                "cpu_s": statistics.median(p.cpu for p in untraced),
                "heavy_cpu_s": statistics.median(p.info["heavy_cpu_s"] for p in untraced),
            }
    finally:
        session.close()
        workload.close()
    shutil.rmtree(work, ignore_errors=True)
    units = declared_units("per_layer" if args.trace else "end_to_end")
    if set(values) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}"
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    try:
        import clickhouse_only_importer_prototype_spark  # noqa: F401
    except ImportError as exc:
        log(f"the package is not importable from {ROOT}: {exc}")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
