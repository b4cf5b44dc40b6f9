"""Extraction benchmark: three workloads on local[N], N = the CPUs this
process may run on.

    python3 perfbench/run.py --workload html_turns --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``html_turns``, ``pixel_pages``,
``resumable_job``; ``all`` runs the three in turn, each in its own process.
Run from the root of a checkout: the engine is imported from there and all
scratch files go under ``.perfbench_work/`` there.

With ``--trace 0`` the last stdout line holds every end-to-end metric; with
``--trace 1`` it holds every per-layer metric (``ledger.py``), and the run's
spans are written to ``.perfbench_work/spans/``. The line before it holds
the run's details: environment (affinity CPUs, nproc, load average, engine
env knobs), set-up phases, failed fraction with its base, rejected
payloads. The benchmark sets no engine env knob; it records them so that
both sides of an A/B can be shown to match.

A workload's pass is one Spark job of one wave on html_turns and
pixel_pages, so there ``job_s``, ``wave_s_p50`` and ``wave_s_tail`` are
pass walls. ``wave_s_tail`` is the highest percentile with at least ten
samples beyond it, the median when there are fewer than forty samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: end-to-end metric → unit
END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "pages_per_s": "payloads/s",
    "job_s": "s",
    "wave_s_p50": "s",
    "wave_s_tail": "s",
    "peak_rss_mb": "MB",
}

WORKLOAD_NAMES = ("html_turns", "pixel_pages", "resumable_job")

#: environment variables the engine (or its Spark session) reads
_KNOB_PREFIXES = ("IMG2TABLE_", "SPARK_", "PYSPARK_")
_KNOBS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "JAVA_HOME")


def environment() -> dict:
    """Pinned facts of this run. Cores come from the affinity mask, never
    from the engine's SPARK_GRAFT_CPUS default."""
    return {
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "nproc": os.cpu_count(),
        "loadavg_start": list(os.getloadavg()),
        "knobs": {
            k: v
            for k, v in sorted(os.environ.items())
            if k.startswith(_KNOB_PREFIXES) or k in _KNOBS
        },
        "python": sys.version.split()[0],
    }


# -------------------------------------------------------- process tree


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) in MB of this process and each of its descendants
    (the driver, the JVM and the Python workers), keyed ``<pid>:<name>``."""
    out = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            status = dict(
                line.split(":", 1) for line in Path(f"/proc/{pid}/status").read_text().splitlines()
            )
            out[f"{pid}:{status['Name'].strip()}"] = int(status["VmHWM"].split()[0]) / 1024
        except (OSError, KeyError):
            continue
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.2)


# ----------------------------------------------------------------- main


def run_one(args, work: Path, import_s: float) -> tuple[dict, dict]:
    """(result, detail) of one workload run in this process."""
    env = environment()
    t0 = time.perf_counter()
    import tracing
    import workloads
    from img2table_spark.session import get_spark

    import_s += time.perf_counter() - t0
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Spark's Python workers import the engine from this checkout; every
    # scratch file of the JVM and the workers stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # without this the launcher JVM writes its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])
    )

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cores=env["affinity_cpus"],
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    tracer = tracing.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    run = workloads.Run(
        spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        work=work, tracer=tracer,
    )
    run.phases.update({"import": import_s, "session": session_s})
    try:
        res = workloads.WORKLOADS[args.workload](run)
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)

    if args.trace:
        from ledger import PER_LAYER

        tracer.write(ROOT / ".perfbench_work" / "spans" / f"{args.workload}-seed{args.seed}.jsonl")
        units = PER_LAYER
        values = {name: res.metrics.get(name, 0) for name in PER_LAYER}
    else:
        units = END_TO_END
        # the JVM is left out: its peak swings by a third between identical
        # runs (G1 heap sizing), more than any bound could absorb
        python_rss = sum(mb for proc, mb in rss.items() if not proc.endswith(":java"))
        values = dict(res.metrics, setup_s=sum(run.phases.values()), peak_rss_mb=python_rss)
    v = res.verdict
    result = {
        "correct": v.failed == 0,
        "attempted": v.attempted,
        "failed": v.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "setup_phases_s": run.phases,
        "failed_frac": v.failed / v.attempted if v.attempted else None,
        "failed_base": v.attempted,
        "rejected": v.rejected,
        "problems": v.problems,
        "peak_rss_mb_by_process": rss,
        **res.detail,
    }
    return result, detail


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} failed with exit code {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        print(f"{name}: {lines[-1]}")
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": m for k, m in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "img2table_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    t0 = time.perf_counter()
    try:
        import img2table_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t0
    if args.workload == "all":
        return run_all(args)

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    try:
        result, detail = run_one(args, work, import_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
