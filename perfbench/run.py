#!/usr/bin/env python3
"""Oracle-checked, cold-cache benchmark of the engine.

    python3 perfbench/run.py --workload fit_and_curate --seed 1 \
        --seconds 5 --trace 0

Workloads (see README.md): ``fit_and_curate`` runs a fixed pass of
harness queries in a fresh Spark application, so no timed query reads a
session cache another query or pass built; ``serve_lookups`` fits models
once per application and serves a seeded request stream.  Every timed
operation's answer is checked against an independent reference (DuckDB
oracle or NumPy) outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a traced
pass (a Spark job group per span, status-store counters read after the
pass), checks cache isolation and prints the per-layer metrics.  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.
"""

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_DIR = HERE / "data" / "sf0.01"
SF = 0.01
WORK_DIR = HERE / ".work"
N_SETUPS = 3          # set-ups per run; setup_s is their median
DRIVER_MEM = "2g"     # explicit driver heap, well below host RAM
# start no further pass or isolation check past this: a run ends in 180 s
RUN_BUDGET_S = 150.0


def _parse(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(cores: int) -> None:
    """Pin the engine's host sizing and keep every file Spark writes
    inside the work directory.  PYTHONPATH reaches the Python workers,
    whose UDF pickles reference ``cuml_spark``."""
    import tempfile

    local, tmp = WORK_DIR / "spark-local", WORK_DIR / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEM} -Xmn512m "
        f"-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    tempfile.tempdir = None  # re-read TMPDIR


def _rss_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "cuml_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or Path(lines[0]) != ROOT:
        return None
    return lines[1]


def _app_warmup(spark, tables) -> None:
    """Open the ``read_table`` parquet handles, which the engine keeps per
    application: otherwise the first query to read a table pays one
    extra parquet-schema job that the same query run alone would not."""
    from cuml_spark.core.session import read_table

    for t in tables:
        read_table(spark, f"{DATA_DIR}/{t}.parquet")


class Bench:
    """One run: set-ups (fresh Spark applications) and passes over them."""

    def __init__(self, args, cores, tracer, expected, ref):
        self.args = args
        self.cores = cores
        self.tracer = tracer
        self.expected = expected      # batch: oracle answers by query
        self.ref = ref                # serve: the NumPy reference
        self.spark = None
        self.models = None
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.excluded_s = 0.0         # oracle/reference build, not set-up
        self.trace_calls_s = 0.0      # job-group calls inside timed passes
        self.trace_read_s = 0.0       # status-store reads after passes

    # -- set-up ---------------------------------------------------------------

    def start_app(self) -> None:
        """Stop the previous application, then start a fresh one and make
        it ready (session, warm-up, serve models).  Records one set-up."""
        from cuml_spark.core.session import get_spark
        from workloads import TABLES

        cold = self.spark is None
        if not cold:
            self.spark.stop()
            self.models = None
        t0 = time.perf_counter()
        self.tracer.attach(None)
        with self.tracer.span("setup", cold=cold):
            with self.tracer.span("core.session.get_spark") as s:
                self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            _app_warmup(self.spark, TABLES)
            fit = {}
            if self.ref is not None:
                from serve import Models

                self.models = Models(self.spark, str(DATA_DIR), self.tracer)
                fit = self.models.fit_s
        now = time.perf_counter()
        took = (now - _T_PROCESS - self.excluded_s) if cold else now - t0
        self.setups.append({"s": took, "start_s": s.duration, "fit": fit,
                            "cold": cold})

    # -- passes ---------------------------------------------------------------

    def run_op(self, op: dict):
        from cuml_spark.harness import QUERIES

        tr = self.tracer
        name = op.get("name", op["type"])
        with tr.span("op", op=name, kind=op["type"]) as span:
            cols = rows = err = None
            try:
                if op["type"] == "query":
                    with tr.span("harness.build"):
                        df = QUERIES[name](self.spark, str(DATA_DIR))
                        with tr.span("spark.collect"):
                            rows = df.collect()
                else:
                    with tr.span(op["type"]):
                        df = self.models.frame(op)
                        with tr.span("spark.collect"):
                            rows = df.collect()
                cols = df.columns
            except Exception as e:  # an op that raises is counted as failed
                err = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            span.attrs["rows"] = len(rows) if rows is not None else 0
        return span, cols, rows, err

    def check(self, op, cols, rows, err) -> str | None:
        if err is not None:
            return err
        if op["type"] == "query":
            from checks import mismatch

            return mismatch(self.expected[op["name"]], cols, rows)
        from serve import mismatch

        centers = self.models.kmeans.cluster_centers_
        return mismatch(self.ref.answer(op, centers=centers),
                        [tuple(r) for r in rows])

    def run_pass(self, ops, traced: bool, kind: str = "timed") -> dict:
        from report import layer_record

        tr = self.tracer
        tr.attach(self.spark.sparkContext if traced else None)
        done = []
        calls0 = tr.calls_s
        cleared = 0.0
        with tr.span("pass", kind=kind, traced=traced) as ps:
            for op in ops:
                done.append((op, *self.run_op(op)))
                # drop what the op left in Spark's cache manager (untimed):
                # a later op with a matching plan would read it
                t = time.perf_counter()
                self.spark.catalog.clearCache()
                cleared += time.perf_counter() - t
        layers, counts = None, {}
        if traced and kind == "timed":
            self.trace_calls_s += tr.calls_s - calls0
        if traced:
            t = time.perf_counter()
            tr.read_counters(tr.subtree(ps))
            self.trace_read_s += time.perf_counter() - t
            layers = layer_record(tr, ps, self.cores)
            for op, span, *_ in done:
                tot = tr.totals(span)
                counts[span.attrs["op"]] = [tot["jobs"], tot["stages"]]
        tr.attach(None)
        results = []
        for op, span, cols, rows, err in done:
            why = self.check(op, cols, rows, err)
            if why is not None:
                print(f"FAIL {span.attrs['op']}: {why}", flush=True)
            results.append({"name": span.attrs["op"], "s": span.duration,
                            "ok": why is None, "rows": span.attrs["rows"]})
        rec = {"kind": kind, "traced": traced, "wall_s": ps.duration - cleared,
               "ops": results, "layers": layers, "counts": counts}
        self.passes.append(rec)
        return rec

    def isolation(self, ops, in_pass: dict) -> list[str]:
        """Run each batch query alone in a fresh application (traced) and
        name those whose job or stage count differs from the pass: such a
        query read (or built) a cache another query of the pass shares.
        Queries that would run past RUN_BUDGET_S are skipped and named."""
        bad = []
        took = {o["name"]: o["s"] for o in in_pass["ops"]}
        for i, op in enumerate(ops[1:], 1):  # the first query ran alone
            elapsed = time.perf_counter() - _T_PROCESS
            if elapsed + 1.5 * took[op["name"]] + 2.0 > RUN_BUDGET_S:
                print("ISOLATION not checked (run time budget): "
                      + ", ".join(o["name"] for o in ops[i:]), flush=True)
                break
            self.start_app()
            alone = self.run_pass([op], traced=True, kind="isolation")
            name = op["name"]
            if alone["counts"][name] != in_pass["counts"][name]:
                print(f"ISOLATION {name}: alone {alone['counts'][name]} "
                      f"!= in pass {in_pass['counts'][name]} "
                      "(jobs, stages)", flush=True)
                bad.append(name)
        return bad

    def run(self, passes) -> dict:
        """N_SETUPS set-ups, the last ``len(passes)`` of them each followed
        by one pass in its application; more timed passes (repeating the
        last) while less than ``--seconds`` is measured.  A traced run
        traces its passes and, for a batch workload, then checks cache
        isolation."""
        args = self.args
        traced = bool(args.trace)
        for _ in range(N_SETUPS - len(passes)):
            self.start_app()
        measured, todo = 0.0, list(passes)
        while todo or (measured < args.seconds and not traced):
            kind, ops = todo.pop(0) if todo else passes[-1]
            self.start_app()
            rec = self.run_pass(ops, traced, kind)
            if kind == "timed":
                measured += rec["wall_s"]
            elapsed = time.perf_counter() - _T_PROCESS
            if elapsed + 1.5 * rec["wall_s"] > RUN_BUDGET_S:
                break
        isolation_bad: list[str] = []
        if traced and self.ref is None:
            isolation_bad = self.isolation(passes[0][1], self.passes[0])
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        return {
            "setups": self.setups,
            "setup_cold_s": self.setups[0]["s"],
            "passes": self.passes,
            "peak_rss_mb": _rss_hwm_mb("self") + _rss_hwm_mb(jvm_pid),
            "trace_calls_s": self.trace_calls_s,
            "trace_read_s": self.trace_read_s,
            "isolation_mismatches": isolation_bad,
        }

    def config(self) -> dict:
        spark = self.spark
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "sf": SF, "cores": self.cores, "driver_mem": DRIVER_MEM,
            "shuffle_partitions": int(
                spark.conf.get("spark.sql.shuffle.partitions")),
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"),
            "python": platform.python_version(),
            "git_commit": _git_commit(),
            "source_digest": _source_digest(),
        }

    def close(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on end of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _summary(run: dict, args) -> dict:
    """Human-facing extras: op latency sample counts and, for a traced
    run, its overhead against the untraced runs kept in the work
    directory (the traced pass minus their median pass)."""
    from stats import median, summary

    lat = [op["s"] for p in run["passes"] if p["kind"] == "timed"
           for op in p["ops"]]
    out = {"passes": len(run["passes"]), "setups": len(run["setups"]),
           "op_latency": summary(lat),
           "failed_frac": sum(1 for p in run["passes"] for op in p["ops"]
                              if not op["ok"])
           / sum(len(p["ops"]) for p in run["passes"])}
    if args.trace:
        untraced = []
        for f in (WORK_DIR / "results").glob(f"{args.workload}-*-trace0-*.json"):
            try:
                untraced.append(json.loads(f.read_text())["result"]["metrics"]
                                ["pass_s"]["value"])
            except (OSError, ValueError, KeyError):
                continue
        traced = [p["wall_s"] for p in run["passes"] if p["traced"]
                  and p["kind"] == "timed"]
        if untraced and traced:
            out["trace_overhead_s"] = median(traced) - median(untraced)
            out["trace_overhead_base_runs"] = len(untraced)
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    for need in ("BENCHMARK.json", "cuml_spark/__init__.py",
                 "tools/verify_local.py"):
        if not (ROOT / need).is_file():
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cores = len(os.sched_getaffinity(0))
    _configure_env(cores)
    sys.path.insert(0, str(ROOT))

    from cuml_spark.harness import ORACLES
    from report import result
    from tracing import Tracer
    from workloads import BATCH, TABLES, per_layer_units, plan

    t = time.perf_counter()
    expected = ref = None
    if args.workload in BATCH:
        from checks import OracleCache

        names = BATCH[args.workload]
        cache = WORK_DIR / "oracles.json"
        if OracleCache(cache, DATA_DIR, TABLES).missing(ORACLES, names):
            subprocess.run([sys.executable, str(HERE / "checks.py"),
                            str(cache), str(DATA_DIR), *names],
                           check=True, timeout=600)
        expected = OracleCache(cache, DATA_DIR, TABLES).expected(
            ORACLES, names)
    else:
        from serve import Reference

        ref = Reference(DATA_DIR)
    passes = plan(args.workload, args.seed, ref)
    # peak RSS counts the engine, not the oracle/reference build above
    Path("/proc/self/clear_refs").write_text("5")
    tracer = Tracer(tag=f"perfbench-{os.getpid()}")
    bench = Bench(args, cores, tracer, expected, ref)
    bench.excluded_s = time.perf_counter() - t
    try:
        with tracer.span("run", workload=args.workload):
            run = bench.run(passes)
        config = bench.config()
    finally:
        bench.close()
    units = per_layer_units()
    out = result(run, spec, bool(args.trace), units)
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}"
    (WORK_DIR / "results").mkdir(parents=True, exist_ok=True)
    (WORK_DIR / "results" / f"{stamp}.json").write_text(json.dumps(
        {"config": config, "result": out, "run": run}, indent=1))
    if args.trace:
        (WORK_DIR / "trace").mkdir(parents=True, exist_ok=True)
        tracer.dump(WORK_DIR / "trace" / f"{stamp}.json", config)
    print("config " + json.dumps(config, separators=(",", ":")))
    print("summary " + json.dumps(_summary(run, args), separators=(",", ":")))
    print(json.dumps(out, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
