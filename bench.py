#!/usr/bin/env python
"""Benchmark the headline workload queries.

Runs every bench-flagged query from the workload registry at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. The FINAL stdout line is the compact
headline JSON (the driver captures only the last ~2000 chars of stdout
and parses the last line — keep this line small and last):

  {"metric": "workload_total", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <float>,
   "sentinel_sec": <fixed-probe sec>,
   "sentinel_arrow_sec": <fixed-python-worker-probe sec>}

The line BEFORE it (and the ``PLANHASH.json`` sidecar next to this
file) carries the per-query code fingerprints
({"metric": "code_fingerprints", "plan_hash": ..., "kernel_hash": ...})
that scripts/round_compare.py uses to auto-derive the untouched set.

``sentinel_sec`` times a FIXED probe plan (hard-coded below, independent
of the registry so no round's code changes can touch it): a two-key
grouped aggregate over the lineitem scan, best-of-N like every headline
query. Round-over-round comparisons must divide out host drift with it:

  drift     = sentinel_sec(rN) / sentinel_sec(rM)
  true_rate = (t_rN / t_rM) / drift        # per query or for the total

Round 5 measured 16 untouched queries "regressing" a uniform 1.23x from
host drift alone; the sentinel makes that correction mechanical instead
of forensic.

``sentinel_arrow_sec`` (round 8) is the same contract for the PYTHON
worker tier: a fixed Arrow ``mapInPandas`` md5-fold over the lineitem
scan. The JVM sentinel cannot see Python-side drift (daemon fork cost,
Arrow IPC throughput, numpy state): round 7's JVM-only sentinel left
four Arrow-heavy doc queries showing 1.24-1.45x phantom "regressions"
on byte-identical code. Arrow-heavy queries normalize against THIS
sentinel; the two-band rule and band membership live in BASELINE.md.

Each query is forced end-to-end with the no-op sink (full computation, no
write cost). One untimed warm-up query absorbs JVM/codegen startup.

``--breakdown`` instead prints a stage-level JSON line for the composite
operators (workload/microbench.py): per-stage deltas showing where the
LSH/SimHash/GEMM/IVF pipelines spend their time.

``--reps N`` (both paths, default 2) takes the BEST of N runs per query.
A single timed pass conflates query cost with harness noise (GC pauses,
page-cache state, JIT warm-up tails): the round-2 driver bench measured the
same unchanged queries 25-50% slower than the engine's own sweep purely
from single-pass variance. Best-of-N is the standard steady-state estimator
for this harness size; the per-query floor is what the plan actually costs.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from stock_etl_pipeline_spark.session import get_spark
    from stock_etl_pipeline_spark.workload import load_all

    spark = get_spark(app_name="bench")
    registry = load_all()
    bench_specs = {n: s for n, s in sorted(registry.items()) if s.bench}

    reps = (
        int(sys.argv[sys.argv.index("--reps") + 1])
        if "--reps" in sys.argv
        else 2
    )

    def run(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    # Warm-up (JVM, codegen, parquet footer caches) — untimed. Must be a
    # NON-headline query so no timed query gets a warmed advantage the others
    # don't; source_report scans the same lineitem-backed prices view the
    # stock family reads.
    run(registry["source_report"].fn(spark, sf_dir))

    def sentinel_probe():
        """Fixed host-speed probe — NEVER change this plan across rounds.

        Registry-independent on purpose: a registered query's plan can be
        (and has been) optimized between rounds, which would silently bend
        the normalization baseline. A lineitem scan + two-key hash agg
        exercises scan, shuffle, and codegen — the same machinery host
        drift acts on.
        """
        from pyspark.sql import functions as F

        return (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("s_qty"),
                F.avg("l_extendedprice").alias("a_price"),
                F.count("*").alias("n"),
            )
        )

    def sentinel_arrow_probe():
        """Fixed Python-worker probe — NEVER change this plan across rounds.

        Same registry-independence contract as ``sentinel_probe`` but for
        the tier that probe cannot see: the Arrow/Python-worker path.
        Lineitem scan -> two int64 columns over Arrow IPC -> numpy combine
        + md5 fold per record batch -> one-row aggregate. Exercises Python
        daemon fork/reuse, Arrow (de)serialization throughput, and numpy —
        the machinery the mapInPandas signature/GEMM kernels run on.
        """
        import hashlib

        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StructField, StructType

        out_schema = StructType(
            [StructField("n", LongType()), StructField("h", LongType())]
        )

        def fold(batches):
            for pdf in batches:
                keys = (
                    pdf["l_orderkey"].to_numpy().astype("int64") * 1000003
                    + pdf["l_partkey"].to_numpy().astype("int64")
                )
                digest = hashlib.md5(keys.tobytes()).digest()
                # 32-bit per-batch hash: the one-row SUM stays far below
                # int64 under ANSI mode at any batch count.
                yield pd.DataFrame(
                    {
                        "n": [len(pdf)],
                        "h": [int.from_bytes(digest[:4], "big")],
                    }
                )

        return (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .select("l_orderkey", "l_partkey")
            .mapInPandas(fold, out_schema)
            .groupBy()
            .agg(F.sum("n").alias("rows"), F.sum("h").alias("hsum"))
        )

    sentinel_sec = None
    sentinel_arrow_sec = None
    for _ in range(max(1, reps)):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        run(sentinel_probe())
        e = round(time.perf_counter() - t0, 3)
        if sentinel_sec is None or e < sentinel_sec:
            sentinel_sec = e
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        run(sentinel_arrow_probe())
        e = round(time.perf_counter() - t0, 3)
        if sentinel_arrow_sec is None or e < sentinel_arrow_sec:
            sentinel_arrow_sec = e

    if "--breakdown" in sys.argv:
        from stock_etl_pipeline_spark.workload.microbench import run_breakdown

        stages = run_breakdown(spark, sf_dir, reps=reps)
        print(
            json.dumps(
                {
                    "metric": "stage_breakdown",
                    "unit": "sec",
                    "stages": stages,
                    "sf": sf,
                    "sentinel_sec": sentinel_sec,
                    "sentinel_arrow_sec": sentinel_arrow_sec,
                }
            )
        )
        return 0

    # Best-of-N, interleaved (full sweep per rep, not N back-to-back runs of
    # one query) so every query's repeat sees the same cache state as its
    # first pass did for the NEXT query — no query gets a warmth advantage
    # the sweep order wouldn't naturally give it.
    #
    # clearCache() between timed runs: the dedup/ANN pipelines persist
    # data-sized intermediates eagerly (signatures, capped shingle
    # relations) and a persisted plan is reused by ANY same-plan DataFrame
    # — without the clear, a query's rep-2 (or a later query sharing a
    # sub-plan) times the cached tail instead of the pipeline, and
    # best-of-N silently becomes best-of-cache (measured: the capped
    # minhash pipeline at the 100x tier reads 11.6 s cache-warm vs 208 s
    # cold). Every timed number here is a COLD-plan cost.
    timings: dict[str, float] = {}
    for _ in range(max(1, reps)):
        for name, s in bench_specs.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            run(s.fn(spark, sf_dir))
            elapsed = round(time.perf_counter() - t0, 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed

    # Code fingerprints (round 9, reshaped round 10): plan_hash is the
    # optimized-logical-plan md5 (moves when the PLAN changes);
    # kernel_hash is the in-package module-source-closure md5 (moves on
    # any kernel-body edit the plan cannot see). round_compare.py marks a
    # query TOUCHED when either moved — see fingerprints.py.
    from stock_etl_pipeline_spark.fingerprints import (
        kernel_fingerprint,
        plan_fingerprint,
    )

    # PLAN_ONLY: building a registered DataFrame must not re-run the
    # pipelines' eager cache fills (and a persist marker would put
    # InMemoryRelation in the plan, tying the fingerprint to cache state).
    # Bounded model training (kmeans/codebook collects) still executes —
    # that is plan construction for these operators and costs seconds.
    plan_hash = {}
    kernel_hash = {}
    os.environ["SPARK_GRAFT_PLAN_ONLY"] = "1"
    try:
        for name, s in bench_specs.items():
            # each fingerprint guarded separately: a None lands the query
            # in round_compare's 'unknown' bucket (excluded from the
            # ruler, reported) instead of killing the whole bench run
            try:
                kernel_hash[name] = kernel_fingerprint(s.fn)
            except Exception:
                kernel_hash[name] = None
            try:
                spark.catalog.clearCache()
                df = s.fn(spark, sf_dir)
                plan_hash[name] = plan_fingerprint(df)
            except Exception:
                plan_hash[name] = None
    finally:
        del os.environ["SPARK_GRAFT_PLAN_ONLY"]

    total = round(sum(timings.values()), 3)

    # OUTPUT CONTRACT (round 10 — VERDICT r9 item 1): the driver captures
    # only the LAST ~2000 chars of stdout and json-parses the final line.
    # Round 9 inlined the ~1.5 kB plan_hash map into that line and pushed
    # its head past the window → BENCH_r09.json parsed: null. So:
    # fingerprints go to a sidecar file AND a separate stdout line FIRST;
    # the final line stays compact (timings only, ~1.3 kB) and LAST.
    from stock_etl_pipeline_spark.fingerprints import FP_VERSION

    # v4 (round 15) changed plan normalization only; kernel hashing is the
    # v3 scheme, so the one-round v3 compat block round_compare reads
    # (kernel hashes only) is the same kernel map. Drop it next round.
    fingerprints = {
        "metric": "code_fingerprints",
        "sf": sf,
        "fp_version": FP_VERSION,
        "plan_hash": plan_hash,
        "kernel_hash": kernel_hash,
        "compat": {"fp_version": 3, "kernel_hash": kernel_hash},
    }
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "PLANHASH.json"
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(fingerprints, f)
    except OSError:
        pass  # read-only checkout: the stdout line below still carries them
    print(json.dumps(fingerprints))
    print(
        json.dumps(
            {
                "metric": "workload_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "sentinel_sec": sentinel_sec,
                "sentinel_arrow_sec": sentinel_arrow_sec,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
