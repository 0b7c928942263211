"""One scaling measurement in an isolated process (invoked by bench.py).

Why a subprocess: (1) `spark.driver.memory` binds when the py4j gateway JVM
launches — per-level heaps need fresh processes; (2) the process is pinned
to exactly N cores via ``sched_setaffinity`` BEFORE the JVM starts, so the
JVM, its GC threads, and the forked Python UDF workers are all confined —
``local[2]`` on an idle 32-core host otherwise leaks onto free cores and
inflates low-parallelism throughput, understating scaling efficiency. A
2-core executor in a real cluster has two cores, period; this makes the
sandbox stand-in honest in BOTH directions.

Heap scales with cores (4 GiB/core by default) — constant memory-per-core,
exactly how a real N→4N executor fleet is provisioned.

Usage: python -m nimbus_crawler_spark.plans.scalerun <cores> <pages_path>
Prints one JSON line: {"round": {...}, "parse": {...}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile


def _steal_jiffies() -> int:
    """Cumulative hypervisor steal time (jiffies) from /proc/stat — external
    host contention is the dominant noise source on this shared VM."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) if len(parts) > 8 else 0
    except OSError:
        return 0


def main() -> None:
    cores = int(sys.argv[1])
    pages_path = sys.argv[2]
    cpus = sorted(os.sched_getaffinity(0))
    # +1 pinned core for the driver at BOTH levels (default on): a real
    # N-core executor fleet runs its driver on a separate node; local[N]
    # conflates them, so without the extra core the constant driver work
    # (plan construction, py4j, commit marker) eats executor capacity —
    # proportionally ~4x harder at the low level's 4x-longer walls... and
    # the high level's shorter walls, i.e. it distorts BOTH; granting
    # exactly one extra core per level removes the local-mode artifact
    # without changing executor parallelism (task slots stay local[N]).
    # Honesty note: sched_setaffinity confines the WHOLE process, so the
    # extra core is shared capacity (executor threads and UDF workers can use
    # it too), not a segregated driver node — relatively it grants the low
    # level more headroom (+100% at local[1] vs +25% at local[4]), which can
    # only push the measured efficiency DOWN, i.e. it is conservative for the
    # ≥0.8 criterion. When the host cannot supply cores+1 CPUs, the extra
    # core is dropped (symmetrically: a level that can't get it runs plain)
    # rather than silently granting it to one level only.
    driver_core = int(os.environ.get("NIMBUS_SCALE_DRIVER_CORE", "1"))
    if len(cpus) < cores + driver_core:
        print(
            f"scalerun: only {len(cpus)} CPUs for cores={cores}; "
            "dropping the +1 driver core",
            file=sys.stderr,
        )
        driver_core = 0
    os.sched_setaffinity(0, set(cpus[: cores + driver_core]))
    gb_per_core = int(os.environ.get("SPARK_GRAFT_SCALE_GB_PER_CORE", "4"))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{gb_per_core * cores}g"

    from ..session import build_session
    from .bench import bench_mega_round, bench_parse_stage

    spark = build_session(
        app_name=f"nimbus-scale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=32,
        # fine scan splits: the bench corpora are a few dozen MB — the
        # default 128 MB split would hand the whole scan to a couple of
        # tasks and starve the high-core level (on the 100 TB deployment
        # the default is right; file counts there dwarf core counts)
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
        },
    )
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    # seed once per corpus into a template warehouse, copy per rep — repeat
    # reps then time only the round (seeding is setup, not the scaled job;
    # bench.py pre-seeds this from its 32-core session so no rep pays it)
    from .bench import ensure_scale_template

    template = ensure_scale_template(spark, pages_path)
    # pre-touch the corpus + template bytes (plain sequential read → OS page
    # cache): the FIRST rep of a level otherwise pays cold-IO inside its
    # timed round — the r5 eleventh-run record showed a 948→1407 URLs/s
    # warm-up gradient across environment-valid reps on identical input,
    # i.e. cache state, not engine behavior. A production executor reads
    # from a distributed FS whose cache state is the same at N and 4N.
    for root in (pages_path, template):
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                try:
                    with open(os.path.join(dirpath, name), "rb") as fh:
                        while fh.read(1 << 22):
                            pass
                except OSError:
                    pass
    # warm the JVM (codegen, shuffle machinery) and the Python UDF workers
    # before timing: the round must measure steady-state throughput, not
    # JIT compilation and worker-process startup (which a long-lived
    # production executor pays once per lifetime, not per round)
    from pyspark.sql import functions as F

    from ..functions.udfs import parse_page_udf

    warm = spark.read.parquet(pages_path).limit(128 * cores)
    warm.withColumn("p", parse_page_udf("html", "url")).select(
        F.sum(F.length(F.col("p.text")))
    ).collect()
    warm.repartition(8, "url").groupBy("lang").count().collect()

    wh = tempfile.mkdtemp(prefix=f"nimbus-scale-{cores}-", dir=base)
    shutil.rmtree(wh, ignore_errors=True)
    shutil.copytree(template, wh)
    steal0 = _steal_jiffies()
    r = bench_mega_round(spark, pages_path, wh)
    # hypervisor steal accumulated DURING the timed round — the evidence
    # record for whether this sample ran in a quiet host window
    r["steal_jiffies"] = _steal_jiffies() - steal0
    shutil.rmtree(wh, ignore_errors=True)
    out = {"round": r}
    if os.environ.get("NIMBUS_SCALE_PARSE", "1") != "0":
        # 1-in-8 deterministic sample: the probe reports a RATIO (low vs
        # high pages/sec on identical input), so the sample only needs to be
        # large enough to dominate fixed latency — at d200 the full 1-in-3
        # sample cost ~170 s per 2-core probe, a budget killer
        mod = int(os.environ.get("NIMBUS_SCALE_PARSE_MOD", "8"))
        out["parse"] = bench_parse_stage(spark, pages_path, sample_mod=mod)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
