"""One measured run of one workload, in its own process.

``run.py`` starts this with the pinned environment (cores, driver memory,
PYTHONPATH, Spark conf dir, scratch dirs) and reads the JSON it writes to
``--result``. Set-up (session start, target preload, and ``WARMUP_OPS``
warm-up operations on the real input) is timed apart from the closed loop,
which runs for ``--seconds`` of operation wall time. With ``--trace 1`` the
budget is split: an untraced half, then a traced half, so the same run
reports the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import time
import traceback

# Operations run before timing starts: the first one compiles the query
# code and loads the classes, and takes two to three times a later one.
WARMUP_OPS = 1


def _descendants() -> list[int]:
    """Every live descendant of this process: the JVM and the Python
    workers it forked."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        kids = [p for p, pp in parent.items() if pp == pid]
        out += kids
        todo += kids
    return out


def peak_rss_mb(detail: list | None = None) -> float:
    """Sum of VmHWM over every descendant of this process. ``detail``
    collects (pid, MB) per process."""
    total = 0.0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
                        if detail is not None:
                            detail.append((pid, int(line.split()[1]) / 1024.0))
        except OSError:
            pass
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (user
    and system, reaped children included). The kernel leaves out the time
    the hypervisor gave to other guests, so this grows far less than wall
    time when they load the host."""
    ticks = 0
    for pid in [os.getpid()] + _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def host_cpu() -> list[int]:
    """Host-wide CPU time so far, in ticks, per ``CPU_FIELDS``. Its share of
    ``steal`` over a loop is the time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1 : 1 + len(CPU_FIELDS)]]


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _run_loop(w, tracer, budget_s: float, traced: bool, first_op: int) -> list[dict]:
    """Closed loop: operations back to back until their summed wall time
    reaches ``budget_s``. An operation that raises counts as attempted and
    failed, and ends the loop (the target state is then unknown)."""
    records, spent, i = [], 0.0, first_op
    while spent < budget_s and not w.exhausted():
        tracer.op = i
        tracer.enabled = traced
        try:
            cpu0 = tree_cpu_s()
            with tracer.span("op"):
                rec = w.step()
            rec["cpu_s"] = tree_cpu_s() - cpu0
            tracer.enabled = False
            w.check_step()
        except Exception:
            w.attempted += 1
            w.failed += 1
            w.notes.append(traceback.format_exc(limit=4))
            break
        finally:
            tracer.enabled = False
        spent += rec["wall_s"]
        records.append(rec)
        i += 1
    return records


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--event-log", default="")
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    import tracing as tr

    tracer = tr.Tracer()
    if a.trace:
        tr.install(tracer)
    import workloads
    from ape_dts_spark import session

    result: dict = {"error": None}
    spark = None
    try:
        t0 = time.perf_counter()
        tracer.enabled = bool(a.trace)
        with tracer.span("session.get_spark"):
            spark = session.get_spark("perfbench")
        tracer.enabled = False
        session_s = time.perf_counter() - t0

        w = workloads.WORKLOADS[a.workload](spark, _load(a.manifest), a.work)
        t0 = time.perf_counter()
        w.setup()
        preload_s = time.perf_counter() - t0
        # warm-up: the first operations of the real input, timed as set-up
        warmup_s = sum(r["wall_s"] for _ in range(WARMUP_OPS)
                       for r in _run_loop(w, tracer, 1e-6, False, 0))
        setup_s = session_s + preload_s + warmup_s

        t_loop, cpu0 = time.perf_counter(), host_cpu()
        if a.trace:
            untraced = _run_loop(w, tracer, a.seconds / 2.0, False, 0)
            traced = _run_loop(w, tracer, a.seconds / 2.0, True, len(untraced))
        else:
            untraced, traced = [], _run_loop(w, tracer, a.seconds, False, 0)
        loop_s = time.perf_counter() - t_loop
        cpu = [t1 - t0 for t0, t1 in zip(cpu0, host_cpu())]
        loop_cpu = {k: v / max(sum(cpu), 1) for k, v in zip(CPU_FIELDS, cpu)}
        rss_detail: list = []
        rss = peak_rss_mb(rss_detail)
        attempted, failed, notes = w.verify()
        result.update(
            session_s=session_s, warmup_s=warmup_s, preload_s=preload_s, setup_s=setup_s,
            loop_s=loop_s, loop_cpu=loop_cpu, peak_rss_mb=rss, rss_detail=rss_detail,
            attempted=attempted, failed=failed, notes=notes, untraced=untraced, traced=traced,
            exhausted=w.exhausted(),
        )
        if a.workload == "migrate_verify":
            result["check_rows"] = w.check_rows()
    except Exception:
        result["error"] = traceback.format_exc()
    finally:
        if spark is not None:
            spark.stop()

    if a.trace and result["error"] is None:
        try:
            recs = result["traced"]
            lat_b = [x for r in recs for x in r["latencies"]]
            lat_a = [x for r in result["untraced"] for x in r["latencies"]]
            extra = {
                "trace.op_wall_s": sum(lat_b) / len(lat_b) if lat_b else 0.0,
                "trace.untraced_op_wall_s": sum(lat_a) / len(lat_a) if lat_a else 0.0,
            }
            layers = tr.layer_metrics(tracer, tr.read_event_log(a.event_log), len(lat_b), extra)
            if lat_a and layers["trace.untraced_op_wall_s"]:
                layers["trace.overhead_share"] = (
                    layers["trace.op_wall_s"] / layers["trace.untraced_op_wall_s"] - 1.0
                )
            layers["session.get_spark_s"] = result["session_s"]
            result["per_layer"] = layers
        except Exception:
            result["error"] = traceback.format_exc()

    with open(a.result, "w") as f:
        json.dump(result, f)
    return 0 if result["error"] is None else 1


if __name__ == "__main__":
    raise SystemExit(main())
