"""Per-query optimization harness (r16): time individual queries with
warmup + N repeats on the bench's exact session/config, and dump their
``explain('formatted')`` to plans/$QPROF_PLANS_DIR/<name>_<tag>.txt
(``plans/`` itself when the variable is unset; ``--reps 0`` dumps plans
without running anything).

Usage:
    python tools/qprof.py [--plans TAG] [--reps N] [--sf SF_DIR] name ...

Timing matches bench.py (.count() after one untimed warmup); plans are
the pre-execution formatted plans (same artifact style the judge audits
in plans/r16/).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    args = sys.argv[1:]
    tag = None
    reps = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--plans":
            tag = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from es_ch_sync_spark.queries import spark_queries
    from es_ch_sync_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    extra = {}
    for kv in os.environ.get("QPROF_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = get_spark("qprof", shuffle_partitions=int(cpus), extra_conf=extra)
    qs = spark_queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    plans_dir = Path(__file__).resolve().parent.parent / "plans" / os.environ.get(
        "QPROF_PLANS_DIR", ""
    )

    for name in names:
        spark.sparkContext.setJobDescription(f"qprof:{name}")
        df = qs[name](spark, sf_dir)
        if tag:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plans_dir.mkdir(parents=True, exist_ok=True)
            (plans_dir / f"{name}_{tag}.txt").write_text(buf.getvalue())
        ts = []
        n = None
        for r in range(reps + 1 if reps else 0):  # --reps 0: plans only
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            dt = time.time() - t0
            if r:  # rep 0 is warmup
                ts.append(dt)
        if ts:
            print(
                f"{name}: rows={n} min={min(ts):.3f} "
                f"times={[round(t, 3) for t in ts]}",
                flush=True,
            )
        else:
            print(f"{name}: plan dump only", flush=True)
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
