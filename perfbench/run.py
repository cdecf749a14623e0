"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--small]

Run from the repository root (the engine package and ``tools/`` are imported
from the parent of this directory).  With ``--trace 0`` the last stdout line
carries the end-to-end metrics, with ``--trace 1`` the per-layer metrics; the
lines before it print every metric by name with its unit, the host posture,
and each op that failed.  Exits non-zero, without a result line, when the
engine cannot be imported.  See README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_DIR = ".perfbench_work"
DRIVER_HEAP = "3g"
SETUP_REPEATS = 3
MIN_PASSES = 2


def _ensure_engine() -> bool:
    sys.path.insert(0, str(ROOT))
    try:
        import es_ch_sync_spark.queries  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return False
    return True


def _pin_posture(work: Path) -> int:
    """Environment the session and its Python workers start with: every
    core, an explicit heap below physical RAM, the repo root on the workers'
    PYTHONPATH, and every temporary file under the work directory.  Returns
    the core count."""
    cpus = len(os.sched_getaffinity(0))
    (work / "tmp").mkdir()
    (work / "local").mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files outside the work directory, from the launcher JVM
    # or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    os.environ["TZ"] = "UTC"
    time.tzset()
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prev if prev else "")
    return cpus


def _start_session(work: Path, trace: bool):
    from es_ch_sync_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # -Xms = -Xmx: G1 does not resize the heap, so the resident set after
        # warm-up holds the whole heap and peak_rss_mb does not swing with
        # the timing of heap growth (its spread was 0.25 with a growing heap)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_HEAP}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def _rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _cpu_ticks(root_pid: int) -> tuple[int, int]:
    """(Python processes, whole tree) CPU clock ticks used so far by
    ``root_pid`` and its descendants: user + system time of each live
    process plus that of its reaped children (a Python worker that exits is
    reaped by the ``pyspark.daemon`` it was forked from)."""
    python = total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        ticks = sum(int(x) for x in tail.split()[11:15])
        total += ticks
        if head.split("(", 1)[1].startswith("python"):
            python += ticks
    return python, total


def _wait_gone(pids, timeout: float) -> None:
    """Wait until the JVM's Python workers have exited too."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


class Ctx:
    def __init__(self, spark, work: Path, seed: int):
        from es_ch_sync_spark.queries import oracle_queries, spark_queries

        self.spark, self.sc = spark, spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        self.work, self.seed = str(work), seed
        self.queries, self.oracles = spark_queries(), oracle_queries()


def run_pass(ctx, wl, rng, traced: bool) -> dict:
    from perfbench.workloads import PROBE_PHASES, Tracer, reset_state

    tracer = Tracer(ctx.sc, wl.name, traced)
    t_pass = time.perf_counter()
    cpu0 = _cpu_ticks(ctx.jvm_pid) if traced else (0, 0)
    if hasattr(wl, "begin_pass"):
        wl.begin_pass()
    rec = {"leaked_rdds": 0, "leaked_cache": 0, "failed": [], "ops": wl.pass_ops(rng)}
    for op in rec["ops"]:
        rdds, entries = reset_state(ctx.spark)
        rec["leaked_rdds"] += rdds
        rec["leaked_cache"] += entries
        try:
            wl.run_op(ctx, op, tracer)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            rec["failed"].append(f"{op}: {type(e).__name__}: {str(e)[:300]}")
    rdds, entries = reset_state(ctx.spark)
    rec["leaked_rdds"] += rdds
    rec["leaked_cache"] += entries
    # wall time of the whole pass, measured apart from the phases: it also
    # holds the state resets, the table removal and the gaps between calls
    rec["pass_wall"] = time.perf_counter() - t_pass
    cpu1 = _cpu_ticks(ctx.jvm_pid) if traced else (0, 0)
    rec["python_cpu"], rec["tree_cpu"] = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    rec["phases"] = tracer.phases
    rec["op_s"] = {op: sum(p["s"] for p in tracer.phases
                           if p["op"] == op and p["phase"] not in PROBE_PHASES)
                   for op in rec["ops"]}
    rec["wall"] = sum(rec["op_s"].values())
    if hasattr(wl, "table_files"):
        rec["files"], rec["bytes"] = wl.table_files()
    return rec


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(wl, traced: list[dict], plain: list[dict], jobm: dict, extra: dict) -> dict:
    """Per-layer values: each is computed per traced pass, then the median."""
    from perfbench.eventlog import sum_jobs
    from perfbench.workloads import PROBE_PHASES

    exec_phases = {"exec", "write", "resume_points"}
    sync = wl.name == "sync_backfill"
    per_pass = []
    for rec in traced:
        ph = rec["phases"]

        def s(*names, ph=ph):
            return sum(p["s"] for p in ph if p["phase"] in names)

        def jobs(names, ph=ph):
            return [j for p in ph if p["phase"] in names for j in p["jobs"]]

        ex = sum_jobs(jobm, jobs(exec_phases))
        allj = sum_jobs(jobm, jobs(exec_phases | {"build", "readback"}))
        build = s("build")
        probe = s(*PROBE_PHASES)
        m = {
            "exec.plan_s": s("plan"),
            "exec.s": s(*exec_phases),
            "exec.jobs": len(jobs(exec_phases)),
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.shuffle_bytes": ex["shuffle_bytes"],
            "exec.spill_bytes": ex["spill_bytes"],
            "exec.task_run_s": ex["run_ms"] / 1000.0,
            "boundary.python_worker_s": allj["python_ms"] / 1000.0,
            "boundary.bytes_to_python": allj["to_python_bytes"],
            "boundary.python_cpu_share": (rec["python_cpu"] / rec["tree_cpu"]
                                          if rec["tree_cpu"] else 0.0),
            "state.leaked_rdds": rec["leaked_rdds"],
            "state.leaked_cache_entries": rec["leaked_cache"],
            "trace.pass_s": rec["pass_wall"],
            "trace.probe_s": probe,
            "trace.unprobed_pass_s": rec["pass_wall"] - probe,
        }
        if sync:
            signals = wl.rows["backfill"] + wl.rows["resume"]
            backfill = rec["op_s"]["backfill"]
            m.update({
                "job.plan_sync_s": build,
                "job.backfill_s": backfill,
                "job.resume_s": rec["op_s"]["resume"],
                "job.signals_per_s": wl.rows["backfill"] / backfill if backfill else 0.0,
                "operators.unpivot_s": s("unpivot"),
                "io.dedup_s": s("dedup") - s("unpivot"),
                "io.write_s": s("write") - s("dedup"),
                "io.readback_s": s("readback"),
                "io.resume_points_s": s("resume_points"),
                "io.files_written": rec["files"],
                "io.bytes_per_signal": rec["bytes"] / signals if signals else 0.0,
            })
            parts = (m["operators.unpivot_s"] + m["io.dedup_s"] + m["io.write_s"]
                     + m["io.readback_s"] + m["io.resume_points_s"] + m["job.plan_sync_s"])
        else:
            m.update({
                "queries.build_s": build,
                "queries.build_jobs": len(jobs({"build"})),
                "queries.build_share": build / rec["wall"] if rec["wall"] else 0.0,
            })
            parts = build + m["exec.s"]
        # the layer parts split the timed phases, so what they do not cover
        # is what happens between the phases: resets, table removal, gaps
        m["trace.accounted_share"] = parts / m["trace.unprobed_pass_s"]
        per_pass.append(m)
    out = {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}
    # job-group tagging, statusTracker reads and /proc sampling; the event
    # log is on for the plain passes of this run too, so it is not in here
    out["trace.overhead_s"] = (out.pop("trace.unprobed_pass_s")
                               - _median([p["pass_wall"] for p in plain]))
    out.update(extra)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="self-test size: sf0.001 tables, 2k status documents")
    args = ap.parse_args(argv)
    if not _ensure_engine():
        return 2

    import numpy as np

    from perfbench import eventlog
    from perfbench.workloads import KERNELS, Tracer, kernel_blobs, time_kernels, workloads

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    makers = workloads(args.small)
    if args.workload not in makers:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(makers)}",
              file=sys.stderr)
        return 2
    wl = makers[args.workload]()
    trace = bool(args.trace)

    work = ROOT / WORK_DIR
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    cpus = _pin_posture(work)
    spark, session_s = _start_session(work, trace)
    gateway = spark.sparkContext._gateway
    try:
        ctx = Ctx(spark, work, args.seed)
        sc = ctx.sc
        posture = {
            "workload": wl.name, "seed": args.seed, "trace": trace, "cpus": cpus,
            "master": sc.master, "defaultParallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_heap": spark.conf.get("spark.driver.memory"),
            "loadavg": Path("/proc/loadavg").read_text().split()[:3],
        }
        print("posture " + json.dumps(posture), flush=True)

        # set-up: session start (above), input generation, one warm pass.
        # The warm pass is also the correctness check of every op.
        gen = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare(ctx)
            gen.append(time.perf_counter() - t0)
        checker = Tracer(sc, wl.name, False)
        results = wl.check(ctx, checker)
        setup_s = session_s + _median(gen) + sum(p["s"] for p in checker.phases)
        blobs = kernel_blobs(500) if trace and wl.name == "media_boundary" else None

        print(f"setup session {session_s:.3f} s, inputs {_median(gen):.3f} s, warm pass "
              + " ".join(f"{p['op']}={p['s']:.3f}" for p in checker.phases), flush=True)
        rng = np.random.default_rng(args.seed)
        if trace:
            # one more warm pass, so that the plain and traced passes, which
            # alternate, are compared after the same warm-up
            run_pass(ctx, wl, rng, False)
        plain: list[dict] = []
        traced: list[dict] = []
        t_start = time.perf_counter()
        i = 0
        while (len(plain) < MIN_PASSES or (trace and len(traced) < MIN_PASSES)
               or time.perf_counter() - t_start < args.seconds):
            # plain, traced, traced, plain, ...: a warm-up trend that goes on
            # over the passes favours neither kind
            is_traced = trace and i % 4 in (1, 2)
            (traced if is_traced else plain).append(run_pass(ctx, wl, rng, is_traced))
            i += 1

        extra = {"session.start_s": session_s}
        if blobs is not None:
            reps = [time_kernels(blobs) for _ in range(3)]
            for k in KERNELS:
                extra[f"kernel.decode_{k}_s"] = _median([r[k] for r in reps])
            extra["kernel.decode_s"] = _median([sum(r.values()) for r in reps])
        peak_rss_mb = _rss_mb(_tree(gateway.proc.pid))
    finally:
        started = _tree(gateway.proc.pid)
        spark.stop()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        gateway.shutdown()
        _wait_gone(started, timeout=60)

    failures = [f"{op}: {p}" for op, p in results if p]
    for rec in plain + traced:
        failures.extend(rec["failed"])
    attempted = len(results) + sum(len(r["ops"]) for r in plain + traced)

    if trace:
        jobm = eventlog.job_metrics(eventlog.find_log(str(work / "eventlog")))
        metrics = layer_metrics(wl, traced, plain, jobm, extra)
        wanted = spec["per_layer"]
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median([p["wall"] for p in plain]),
            "peak_rss_mb": peak_rss_mb,
        }
        wanted = spec["end_to_end"]
    shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"FAILED {f}")
    print(f"ops_failed_ratio {len(failures) / attempted:.6f} ({len(failures)}/{attempted})")
    print(f"passes {len(plain)} plain, {len(traced)} traced; per-pass s: "
          + " ".join(f"{p['wall']:.3f}" for p in plain))
    print("op median s: " + " ".join(
        f"{op}={_median([p['op_s'][op] for p in plain]):.3f}" for op in wl.ops))
    out = {}
    for m in wanted:
        v = float(metrics.get(m["name"], 0.0))
        out[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:32s} {v:14.6f} {m['unit']}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
