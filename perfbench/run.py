"""perfbench: task-level benchmark of ape_dts_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload migrate_verify --seed 1 --seconds 20 --trace 0

Generates (or reuses) the seeded inputs, starts one worker process with a
pinned environment, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. A fuller record
of the run (settings, host, per-operation timings, named task metrics) is
written under ``.perfbench/results/`` and summarized on the line before.

Everything the run writes stays under ``<repo>/.perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("migrate_verify", "cdc_binlog_bulk")
DRIVER_MEMORY = "2g"
WORKER_TIMEOUT_S = 150
# Input sets kept in the cache: ten seeds of both workloads, so a second
# round of the same seeds skips generation (about 8 s a bulk run).
KEEP_INPUTS = 20


def _input_dir(work: str, workload: str, seed: int, scale: dict) -> str:
    """Cache slot of one input set; the key covers the scale and the
    generator's source, so editing either regenerates."""
    h = hashlib.sha256(json.dumps(scale, sort_keys=True).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    return os.path.join(work, "inputs", f"{workload}-s{seed}-{h.hexdigest()[:10]}")


def ensure_inputs(work: str, workload: str, seed: int, scale: dict) -> tuple[str, float]:
    """Manifest path of the (workload, seed, scale) inputs, generating them
    when not cached; returns (manifest, seconds spent generating)."""
    import gen

    d = _input_dir(work, workload, seed, scale)
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        os.utime(d)
        return manifest, 0.0
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.perf_counter()
    gen.generate(workload, seed, scale, d)  # writes manifest.json last
    return manifest, time.perf_counter() - t0


def prune_inputs(work: str, keep: int) -> None:
    root = os.path.join(work, "inputs")
    if not os.path.isdir(root):
        return
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime)
    for d in dirs[:-keep] if keep else dirs:
        shutil.rmtree(d, ignore_errors=True)


def source_digest() -> str:
    """Commit of the checkout when it is a git tree, else a digest of the
    package sources (an exported source tree carries no .git)."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ape_dts_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def pinned_env(work: str, trace: bool, event_log: str) -> dict[str, str]:
    """Environment of the worker: cores, driver memory, import path, Spark
    conf dir and every scratch dir under the work dir."""
    conf_dir = os.path.join(work, "conf-trace" if trace else "conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf_dir, tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    conf = [
        "spark.ui.showConsoleProgress false",
        # Initial heap = max heap: the JVM's resident peak then follows
        # touched heap, not the timing of heap resizing. JIT: first tier
        # only, at a tenth of the default call counts. With the defaults,
        # operations kept speeding up all run long, so a run's median
        # depended on how many operations fitted in it.
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}"
        " -XX:TieredStopAtLevel=1 -XX:Tier3InvocationThreshold=20"
        " -XX:Tier3MinInvocationThreshold=10 -XX:Tier3CompileThreshold=200",
        f"spark.sql.warehouse.dir {os.path.join(work, 'spark-warehouse')}",
    ]
    if trace:
        os.makedirs(event_log, exist_ok=True)
        conf += ["spark.eventLog.enabled true", f"spark.eventLog.dir file://{event_log}"]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(conf) + "\n")
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_CONF_DIR=conf_dir,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (the JVM and
    its Python workers) and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = False
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    if os.getpgid(int(d)) == proc.pid:
                        alive = True
                        break
                except OSError:
                    pass
        if not alive:
            return
        time.sleep(0.1)


def run_worker(args, run_dir: str, env: dict[str, str], manifest: str) -> dict:
    event_log = os.path.join(run_dir, "eventlog")
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--manifest", manifest,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir, "--event-log", event_log, "--result", result_path,
    ]
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def on_signal(signum, frame):
            _stop_group(proc)
            raise SystemExit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, on_signal)
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc)
    if not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker produced no result (exit {proc.returncode}):\n{tail}")
    with open(result_path) as f:
        res = json.load(f)
    if res.get("error"):
        raise RuntimeError("worker failed:\n" + res["error"])
    return res


def rows_per_s(recs: list[dict]) -> float:
    """Median over operations of rows per second of operation wall: one
    slow operation (a stolen CPU, a GC pause) does not move it."""
    return statistics.median(r["rows"] / r["wall_s"] for r in recs)


def task_metrics(workload: str, res: dict, manifest: dict) -> dict:
    """Workload-specific figures: per-phase rows/s, median batch wall and
    the failed share."""
    recs = res["untraced"] + res["traced"]
    lat = [x for r in recs for x in r["latencies"]]
    out = {
        "ops": len(recs), "samples": len(lat),
        "failed_op_share": res["failed"] / max(res["attempted"], 1),
    }
    if workload == "migrate_verify":
        snap = sum(r["phases"]["snapshot"] for r in recs)
        chk = sum(r["phases"]["check"] for r in recs)
        out.update(
            snapshot_rows_per_s=manifest["source_rows"] * len(recs) / snap,
            check_rows_per_s=res["check_rows"] * len(recs) / chk,
            migrate_verify_s=statistics.median(lat),
            revise_s=statistics.median(r["phases"]["revise"] for r in recs),
        )
    else:
        out.update(cdc_events_per_s=rows_per_s(recs), cdc_batch_p50_s=statistics.median(lat))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ape_dts_spark", "__init__.py")):
        print(f"perfbench: no ape_dts_spark package under {ROOT}", file=sys.stderr)
        return 2
    import gen
    from tracing import per_layer_spec

    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    manifest_path, gen_s = ensure_inputs(work, args.workload, args.seed, gen.SCALES[args.workload])
    prune_inputs(work, KEEP_INPUTS)
    with open(manifest_path) as f:
        manifest = json.load(f)

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pinned_env(work, bool(args.trace), os.path.join(run_dir, "eventlog"))
    res = run_worker(args, run_dir, env, manifest_path)
    recs = res["untraced"] + res["traced"]
    lat = [x for r in recs for x in r["latencies"]]
    if not lat:
        raise RuntimeError("no operation completed")
    if args.trace:
        metrics = {name: {"value": res["per_layer"][name], "unit": unit}
                   for name, unit in per_layer_spec()}
    else:
        metrics = {
            "op_cpu_s": {"value": statistics.median(r["cpu_s"] for r in recs), "unit": "s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "source": source_digest(), "nproc": os.cpu_count(),
        "cpus_used": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "PYTHONPATH",
                                    "SPARK_CONF_DIR", "SPARK_LOCAL_DIRS", "TMPDIR")},
        "scale": manifest["scale"], "input_sha256": manifest["input_sha256"], "gen_s": gen_s,
        "task": task_metrics(args.workload, res, manifest),
        "worker": {k: v for k, v in res.items() if k not in ("per_layer",)},
        "metrics": metrics, "wall_s": time.perf_counter() - t0,
    }
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    path = os.path.join(work, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    summary = {k: (round(v, 4) if isinstance(v, float) else v) for k, v in report["task"].items()}
    print(f"perfbench {args.workload} seed={args.seed} gen_s={gen_s:.2f} "
          f"loadavg={report['loadavg'][0]:.2f} steal={res['loop_cpu']['steal']:.3f} "
          f"{json.dumps(summary)} notes={res['notes'][:3]}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
