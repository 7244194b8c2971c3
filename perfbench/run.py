"""End-to-end and per-layer benchmark of dataframe_spark.

Run from the repository root:

    python3 perfbench/run.py --workload headline_fresh --seed 1 \\
        --seconds 10 --trace 0

One Python thread issues operations one after another (closed loop,
one client) into ``local[N]``, N = ``SPARK_GRAFT_CPUS`` (default: the
cores this process may run on). An operation is one registry query:
its query function call (plan construction, including the eager Spark jobs
construction runs) and the ``collect()`` action that plans and
executes it. A pass runs every operation of the workload once.

Workloads (see BENCHMARK.json for sizes and the reason for each):

- ``headline_fresh``: every pass builds and executes each operation on
  a fresh seeded subset of the input, so nothing persisted by an
  earlier pass can be reused.
- ``prepared_repeat``: the operations are built once per set-up and
  re-executed every pass on one fresh subset, as ``bench.py`` times
  them.

A run: generate the fresh inputs (kept per seed, untimed); start a
session and warm the table cache; on ``prepared_repeat`` build the
prepared handles; run a fixed number of untimed warm-up passes (see
``WORKLOADS``); then run timed passes until ``--seconds`` have elapsed. ``setup_s`` is
the time from process start to the first timed operation, less the
input generation: imports, JVM launch, table warm, the build and the
warm-up passes. Every output, warm-up included, is checked against the
DuckDB oracle after the timed passes.

End-to-end metrics: ``pass_s`` (median pass wall time), ``op_p50_s``
(median operation latency), ``setup_s``. The detail line adds the
peak resident memory of the Python process and its JVM, ``failed_ops_frac``,
the warm-up time and, from 100 timed operations on, ``op_p90_s``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, prints the per-layer metrics of the traced
ones (``trace.overhead_s`` is a traced pass's wall time minus the mean of
its two untraced neighbours, median over traced passes) and
writes every span to ``perfbench/.work/traces/`` (see spans.py).

The last stdout line is the result JSON; the line before it holds the
run context and the per-operation detail. The exit code is 1 when any
output disagrees with its oracle or any operation raised.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# the base input: the project's sf0.01 test tables, copied unchanged
BASE = os.path.join(HERE, "data")

# A cross-section of bench.py's HEADLINE that fits the run budget, one
# query per layer: a cached-table aggregate, a multi-table join whose
# build runs table-read jobs, an event-stream window query, the Jaccard
# dedup operator, and a query that fits a model at construction
# (logistic regression, the cheapest of the eager fits). None of them
# starts Python workers at this input size.
OPS = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "q_sessionize",
    "q_dedup_ngram_jaccard",
    "q_logreg_classifier",
]
# name: (a fresh input every pass?, untimed warm-up passes). Passes
# speed up as the JVM compiles the repeated code paths: the first
# headline_fresh pass runs ~2.5x and the second ~1.2x slower than
# later ones; prepared_repeat passes halve over their first ~20.
WORKLOADS = {"headline_fresh": (True, 2), "prepared_repeat": (False, 24)}
MAX_PASSES = 1000
KEEP_SEEDS = 4
# operators a pass calls, reported per operator (spans.py records all)
PASS_OPERATORS = ["jaccard_pairs"]
DEFAULT_CACHE_TABLES = "documents,embeddings,lineitem"  # as bench.py


def _spin_canary(samples: int = 3) -> dict:
    """Fixed pure-Python work plus loadavg, as bench.py records, so a
    run on a busy box can be told apart from a slower program."""
    spins = []
    for _ in range(samples):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i
        spins.append(round((time.perf_counter() - t0) * 1000, 1))
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"spin_ms": spins, "loadavg": load}


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _configure_env() -> dict:
    """Defaults that keep every file the run writes inside the
    checkout; explicit settings win and are recorded."""
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ.setdefault(
        "SPARK_LOCAL_DIRS", os.path.join(WORK, "spark-local")
    )
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", DEFAULT_CACHE_TABLES)
    os.environ.setdefault("TMPDIR", os.path.join(WORK, "tmp"))
    os.environ.setdefault(
        "JAVA_TOOL_OPTIONS",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    )
    return {
        "cores": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "SPARK_GRAFT_CACHE_TABLES": os.environ["SPARK_GRAFT_CACHE_TABLES"],
        "cwd": os.getcwd(),
    }


def _inputs(seed: int):
    """Row counts of the base input plus a function that returns the
    i-th fresh variant for ``seed``, generated on first use and kept
    on disk (the last KEEP_SEEDS seeds)."""
    import gen

    data = os.path.join(WORK, "data")
    seed_dir = os.path.join(data, f"seed{seed}")
    os.makedirs(seed_dir, exist_ok=True)
    os.utime(seed_dir)
    others = sorted(
        (os.path.join(data, d) for d in os.listdir(data) if d != f"seed{seed}"),
        key=os.path.getmtime,
    )
    for old in others[: max(0, len(others) - KEEP_SEEDS + 1)]:
        shutil.rmtree(old, ignore_errors=True)

    rows = {"base": gen.row_counts(BASE)}

    def variant(i: int) -> str:
        d = os.path.join(seed_dir, f"v{i}")
        done = d + ".rows.json"
        if not os.path.exists(done):
            shutil.rmtree(d, ignore_errors=True)
            counts = gen.variant(BASE, d, salt=seed * 1000 + i + 1)
            with open(done, "w") as f:
                json.dump(counts, f)
        with open(done) as f:
            rows[f"v{i}"] = json.load(f)
        return d

    return variant, rows


class Bench:
    def __init__(self, workload: str, trace: bool):
        self.fresh = WORKLOADS[workload][0]
        self.trace = trace
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        from dataframe_spark.queries import all_oracles, all_queries

        self.queries = all_queries()
        self.oracle_sql = all_oracles()
        self.spark = None
        self.handles: dict = {}
        self.tracer = None
        self.outputs: list = []  # (data_dir, op, rows, columns, error)

    # -- set-up -----------------------------------------------------
    def setup(self, data_dir: str) -> dict:
        """Start the session and warm the table cache (the cached
        tables the input holds)."""
        from dataframe_spark.session import get_spark
        from dataframe_spark.tables import _cache_set, warm_cache

        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{self.cpus}]")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        present = {n[: -len(".parquet")] for n in os.listdir(data_dir)}
        warm_cache(spark, data_dir, sorted(_cache_set() & present))
        t2 = time.perf_counter()
        self.spark = spark
        return {"session_start_s": t1 - t0, "table_warm_s": t2 - t1}

    @contextlib.contextmanager
    def traced(self, on: bool):
        """Record spans inside the block when ``on`` (traced runs)."""
        if self.tracer is not None:
            self.tracer.active = on
        try:
            yield
        finally:
            if self.tracer is not None:
                self.tracer.active = False

    def span(self, layer: str, op: str, phase):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, op, op=op, phase=phase)

    def prepare(self, data_dir: str) -> None:
        """Build every operation once (the prepared handles)."""
        self.handles = {}
        for op in OPS:
            with self.span("queries", op, "prepare"):
                self.handles[op] = self.queries[op](self.spark, data_dir)

    def floor(self) -> float:
        """bench.py's fixed per-query floor: one shuffle stage over a
        one-row frame, best of three."""
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(1).groupBy("id").count().write.format(
                "noop"
            ).mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    # -- passes -----------------------------------------------------
    def run_op(self, op: str, data_dir: str, phase) -> float | None:
        t0 = time.perf_counter()
        try:
            if op in self.handles:
                df = self.handles[op]
            else:
                with self.span("queries", op, phase):
                    df = self.queries[op](self.spark, data_dir)
            with self.span("exec", op, phase):
                rows = df.collect()
            elapsed = time.perf_counter() - t0
        except Exception as e:  # an operation that raises counts as failed
            self.outputs.append((data_dir, op, None, None, repr(e)[:300]))
            return None
        self.outputs.append(
            (data_dir, op, [tuple(r) for r in rows], df.columns, None)
        )
        return elapsed

    def run_pass(self, data_dir: str, phase) -> tuple[float, list]:
        t0 = time.perf_counter()
        lat = [self.run_op(op, data_dir, phase) for op in OPS]
        return time.perf_counter() - t0, lat

    # -- check ------------------------------------------------------
    def check(self) -> list[str | None]:
        """One entry per output: None when it matches its oracle, else
        what went wrong."""
        import check

        want: dict[str, dict] = {}
        for d in {o[0] for o in self.outputs}:
            ops = sorted({o[1] for o in self.outputs if o[0] == d})
            want[d] = check.oracle_digests(
                d, d + ".oracle.json", ops, self.oracle_sql
            )
        status = []
        for d, op, rows, cols, err in self.outputs:
            where = f"{op}@{os.path.basename(d)}"
            if err is not None:
                status.append(f"{where}: {err}")
            elif check.digest(rows, cols) not in want[d][op]:
                status.append(f"{where}: differs from oracle")
            else:
                status.append(None)
        return status

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")

    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    context = _configure_env()
    try:
        import dataframe_spark.queries  # noqa: F401
        import duckdb  # noqa: F401
        import tools.parity  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    t_gen = time.perf_counter()
    variant, rows = _inputs(args.seed)
    fresh, n_warmup = WORKLOADS[args.workload]
    # the inputs of the warm-up passes: on headline_fresh each is fresh
    warm_dirs = [variant(i if fresh else 0) for i in range(n_warmup)]
    first = warm_dirs[0]
    gen_s = time.perf_counter() - t_gen
    context["canary_start"] = _spin_canary()

    b = Bench(args.workload, bool(args.trace))
    try:
        setup = b.setup(first)
        floor = None
        if b.trace:
            import spans

            b.tracer = spans.Tracer(b.spark)
            spans.install(b.tracer)
            floor = b.floor()
        prepare_s = 0.0
        if not b.fresh:
            # passes construct nothing here, so the traced run takes
            # its construction layers from this build
            t0 = time.perf_counter()
            with b.traced(True):
                b.prepare(first)
            prepare_s = time.perf_counter() - t0
        # the untimed warm-up passes, the last step of set-up
        t0 = time.perf_counter()
        for d in warm_dirs:
            b.run_pass(d, "warmup")
        warmup_s = time.perf_counter() - t0
        n_warm = len(b.outputs)

        passes = []  # (traced, wall, latencies, cache state)
        t0 = time.perf_counter()
        # process start to the first timed operation, less the input
        # generation
        setup_s = t0 - T_START - gen_s
        while len(passes) < MAX_PASSES:
            traced = b.trace and len(passes) % 2 == 1
            # at least one pass; a traced run needs a traced pass between
            # two untraced ones
            enough = time.perf_counter() - t0 >= args.seconds
            if enough and len(passes) >= (3 if b.trace else 1):
                break
            d = variant(n_warmup + len(passes)) if b.fresh else first
            with b.traced(traced):
                wall, lat = b.run_pass(d, len(passes))
            cache = b.tracer.cache_state() if b.tracer is not None else None
            passes.append((traced, wall, lat, cache))
        context["canary_end"] = _spin_canary()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        peak_rss = {"python": _hwm_mb("self"), "jvm": _hwm_mb(jvm_pid)}
        if b.tracer is not None:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            b.tracer.dump(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"
            ))
        t0 = time.perf_counter()
        status = b.check()
        check_s = time.perf_counter() - t0
    finally:
        b.shutdown()

    plain = [p for p in passes if not p[0]]
    lats = [x for p in plain for x in p[2] if x is not None]
    # an operation that raised or returned a wrong result has failed
    attempted = len(status) - n_warm
    failed = sum(1 for s in status[n_warm:] if s is not None)
    problems = [s for s in status if s is not None]

    e2e = {
        "pass_s": _median([p[1] for p in plain]),
        "op_p50_s": _median(lats),
        "setup_s": setup_s,
    }
    detail = {
        "workload": args.workload, "seed": args.seed,
        "context": context, "input_rows": rows, "gen_s": gen_s,
        "setup": setup, "prepare_s": prepare_s, "warmup_s": warmup_s,
        "check_s": check_s, "peak_rss_mb": peak_rss,
        "passes": [
            {"traced": t, "wall_s": w,
             "op_s": dict(zip(OPS, lat)), "cache": c}
            for t, w, lat, c in passes
        ],
        "ops": len(lats), "failed_ops_frac": failed / max(attempted, 1),
        "problems": problems[:20],
        # reported once >= 10 samples lie above the 90th percentile
        "op_p90_s": (
            statistics.quantiles(lats, n=10)[-1] if len(lats) >= 100 else None
        ),
    }
    if b.tracer is not None:
        metrics = _per_layer(b, passes, setup, floor)
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    detail["run_s"] = time.perf_counter() - T_START
    print(json.dumps(detail))
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if not problems else 1


def _per_layer(b: Bench, passes, setup, floor) -> dict:
    """Median over traced passes of each pass's layer totals. On
    prepared_repeat the passes construct nothing, so the construction
    layers (tables, queries, ml, operators) come from the traced build
    of the prepared handles instead."""
    from spans import layer_totals

    def totals(key):
        return layer_totals(
            [s for s in b.tracer.spans if s.attrs.get("phase") == key]
        )

    per_pass = [totals(i) for i, p in enumerate(passes) if p[0]]
    build = per_pass if b.fresh else [totals("prepare")]

    def med(key):
        src = per_pass if key.startswith("exec.") else build
        return _median([t.get(key, 0) for t in src])

    exec_s = med("exec.s")
    stages = med("exec.stages")
    m = {
        "session.start_s": (setup["session_start_s"], "s"),
        "tables.warm_s": (setup["table_warm_s"], "s"),
        "tables.load_calls": (med("tables.calls"), "count"),
        "tables.load_s": (med("tables.s"), "s"),
        "tables.load_jobs": (med("tables.jobs"), "count"),
        "queries.build_s": (med("queries.s"), "s"),
        "queries.build_jobs": (med("queries.jobs"), "count"),
        "ml.fit_s": (med("ml.s"), "s"),
        "ml.fit_jobs": (med("ml.jobs"), "count"),
    }
    for op in PASS_OPERATORS:
        m[f"operators.{op}.call_s"] = (med(f"operators.{op}.call_s"), "s")
        m[f"operators.{op}.call_jobs"] = (med(f"operators.{op}.call_jobs"), "count")
    m.update({
        "exec.s": (exec_s, "s"),
        "exec.jobs": (med("exec.jobs"), "count"),
        "exec.stages": (stages, "count"),
        "exec.skipped_stages": (med("exec.skipped_stages"), "count"),
        "exec.tasks": (med("exec.tasks"), "count"),
        "exec.executor_run_s": (med("exec.executor_run_s"), "s"),
        "exec.executor_cpu_s": (med("exec.executor_cpu_s"), "s"),
        "exec.shuffle_read_mb": (med("exec.shuffle_read_mb"), "MB"),
        "exec.shuffle_write_mb": (med("exec.shuffle_write_mb"), "MB"),
        "exec.spill_mb": (med("exec.spill_mb"), "MB"),
        "exec.input_mb": (med("exec.input_mb"), "MB"),
        "exec.floor_s": (floor, "s"),
        "exec.reuse_frac": (
            med("exec.skipped_stages") / stages if stages else 0.0, "ratio"
        ),
        "exec.cpu_util": (
            med("exec.executor_cpu_s") / (exec_s * b.cpus) if exec_s else 0.0,
            "ratio",
        ),
        "cache.persisted_rdds": (passes[-1][3]["persisted_rdds"], "count"),
        "cache.storage_mb": (passes[-1][3]["storage_mb"], "MB"),
        # each traced pass against the mean of its untraced neighbours,
        # so the pass-to-pass warm-up trend cancels
        "trace.overhead_s": (
            _median([
                passes[i][1] - (passes[i - 1][1] + passes[i + 1][1]) / 2
                for i in range(1, len(passes) - 1) if passes[i][0]
            ]),
            "s",
        ),
    })
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
