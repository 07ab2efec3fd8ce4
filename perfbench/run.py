"""Flow-metering benchmark.

    python3 perfbench/run.py --workload {live,curation}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds the workload's inputs from the
seed, drives the engine under ``local[<cpus>]`` for about S seconds,
checks the outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). A
run whose failures leave a metric unmeasured prints the line without
it, not correct, and exits with code 1.

The full record (comparability header, the named per-workload figures,
every per-layer figure and, for traced runs, the per-layer self-time
table, the event-log fold and the tracing overhead) goes to
``.perfbench_out/<workload>-s<seed>-t<trace>.json``; traced runs also
write their spans there. Scratch data lives in ``.perfbench_work`` and
is removed on exit. Nothing is read or written outside the current
directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".perfbench_out"
WORK = ROOT / ".perfbench_work"

# Seeds for claim checks: measure with the default, confirm a claimed
# gain on the held-out seed, which tuning never used.
DEFAULT_SEED = 1
CONFIRM_SEED = 977

# Headers of two records must agree on these keys to be compared.
COMPARABLE_KEYS = (
    "workload",
    "seconds",
    "trace",
    "nproc",
    "SPARK_GRAFT_CPUS",
    "master",
    "default_parallelism",
    "driver_heap",
    "seed",
    "python",
    "pyspark",
    "java",
)
# The code a record measured. In a checkout that is not a git
# repository head and dirty are null, and only the content hash tells
# two versions of the code apart.
CODE_KEYS = ("head_sha", "dirty", "tree_sha")


def _tree_sha() -> tuple[str | None, bool | None, str]:
    """(git head, dirty flag, content hash of the engine and benchmark
    sources). The content hash identifies the code when the checkout is
    not a git repository."""
    h = hashlib.sha256()
    for p in sorted(list(ROOT.glob("kubenetmon_spark/**/*.py")) + list(ROOT.glob("perfbench/*.py"))):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    head = dirty = None
    if (ROOT / ".git").exists():
        try:
            head = subprocess.run(
                ["git", "rev-parse", "HEAD"], capture_output=True, text=True, check=True, timeout=10
            ).stdout.strip()
            dirty = bool(
                subprocess.run(
                    ["git", "status", "--porcelain", "--untracked-files=no"],
                    capture_output=True,
                    text=True,
                    check=True,
                    timeout=10,
                ).stdout.strip()
            )
        except (OSError, subprocess.SubprocessError):
            pass
    return head, dirty, h.hexdigest()[:16]


def _java_version() -> str:
    try:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30)
        return (r.stderr or r.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def header(args, spark, driver_heap: str) -> dict:
    import pyspark

    head, dirty, tree = _tree_sha()
    sc = spark.sparkContext
    return {
        "head_sha": head,
        "dirty": dirty,
        "tree_sha": tree,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_heap": driver_heap,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "default_seed": DEFAULT_SEED,
        "confirm_seed": CONFIRM_SEED,
    }


def comparable(a: dict, b: dict, keys=COMPARABLE_KEYS) -> list[str]:
    """Header keys on which two records differ (empty: comparable)."""
    return [k for k in keys if a.get(k) != b.get(k)]


def tracing_overhead(untraced: dict, traced: dict) -> dict:
    """Traced minus untraced, per end-to-end metric, when the untraced
    record measured the same code under the same settings; otherwise
    ``{"refused": [differing header keys]}``."""
    keys = tuple(k for k in COMPARABLE_KEYS if k != "trace") + CODE_KEYS
    differ = comparable(untraced["header"], traced["header"], keys)
    if untraced["header"].get("trace") != 0 or traced["header"].get("trace") != 1:
        differ.append("trace")
    if differ:
        return {"refused": differ}
    return {k: v - untraced["e2e"][k] for k, v in traced["e2e"].items() if k in untraced["e2e"]}


def result_line(spec: dict, res, trace: int) -> tuple[dict, list[str]]:
    """The last stdout line: exactly the metrics BENCHMARK.json names for
    this kind of run, and the names of those the run could not measure
    (a failed run leaves them out and is not correct)."""
    values = res.layer if trace else res.e2e
    names = spec["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    line = {
        "correct": res.failed == 0 and not missing,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names if m["name"] in values},
    }
    return line, missing


def _import_engine():
    sys.path.insert(0, str(ROOT))
    try:
        import kubenetmon_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: the engine is not importable from {ROOT}: {e}") from None
    if not Path(kubenetmon_spark.__file__).resolve().is_relative_to(ROOT):
        raise SystemExit("perfbench: kubenetmon_spark resolves outside the current directory")


def _stop_spark(spark):
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["live", "curation"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    _import_engine()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from perfbench import workloads as W
    from perfbench.trace import ProcSampler, Tracer, layer_self_times

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    OUT.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    # Python workers unpickle engine functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))

    from kubenetmon_spark.session import default_driver_mem, get_spark

    driver_heap = default_driver_mem()
    conf = {
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # no JVM perf-data file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -Dderby.system.home={WORK} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        (WORK / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{WORK / 'eventlog'}",
            }
        )
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    tracer = Tracer(bool(args.trace), run_id)
    res = W.Result()
    spark = ctx = None
    try:
        with ProcSampler() as rss:
            with tracer.span("run", "bench") as root:
                t0 = time.perf_counter()
                with tracer.span("get_spark", "session"):
                    spark = get_spark("perfbench", extra_conf=conf)
                    spark.sparkContext.setLogLevel("ERROR")
                session_start_s = time.perf_counter() - t0
                ctx = W.Ctx(spark, WORK, args.seed, args.seconds, tracer, session_start_s)
                ctx.root = root
                W.log(f"session started in {session_start_s:.2f}s")
                try:
                    W.WORKLOADS[args.workload](ctx, res)
                except Exception as e:  # counted; the record is still written
                    traceback.print_exc()
                    res.error(f"{args.workload} workload", e)
                W.log("workload done")
            hdr = header(args, spark, driver_heap)
            py4j_calls = ctx.py4j.total if ctx.py4j else None
            _stop_spark(spark)
            spark = None
        W.log("spark stopped")
        res.named["peak_rss_mb"] = res.layer["proc.peak_rss_mb"] = rss.peak_mb
        res.named["error_rate"] = res.failed / max(1, res.attempted)
        res.layer["session.start_s"] = session_start_s
        record = {
            "header": hdr,
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "failures": res.failures,
            "e2e": res.e2e,
            "named": res.named,
        }
        if args.trace:
            W.engine_layer(ctx, res, WORK / "eventlog")
            res.layer["py4j.calls"] = py4j_calls
            res.layer["trace.spans"] = len(tracer.spans)
            spans_path = OUT / f"{args.workload}-s{args.seed}.spans.jsonl"
            tracer.write(spans_path)
            record["spans_file"] = spans_path.name
            record["layers"] = W.layer_table(ctx)
            record["layer_self_s"] = layer_self_times(tracer.spans)
            record["per_layer"] = res.layer
            untraced = OUT / f"{args.workload}-s{args.seed}-t0.json"
            if untraced.exists():
                record["tracing_overhead"] = tracing_overhead(json.loads(untraced.read_text()), record)
        (OUT / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
            json.dumps(record, indent=1, sort_keys=True, default=str)
        )
        for msg in res.failures:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
        line, missing = result_line(json.loads((ROOT / "BENCHMARK.json").read_text()), res, args.trace)
        print(json.dumps(line))
        if missing:
            print(f"perfbench: not measured: {', '.join(missing)}", file=sys.stderr)
            return 1
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
