#!/usr/bin/env python3
"""Benchmark of the engine: two closed-loop workloads, one client each.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload {etl_analytics,llm_data}
      --seed N --seconds S --trace {0,1}
  python3 perfbench/run.py --write-expected     # regenerate expected.json
  python3 -m pytest perfbench -q                # the benchmark's own tests

One driver thread issues one op at a time against its own Spark
``local[N]`` session, N = min(nproc, 4). A run measures exactly one pass:
the workload's op list once, in an order drawn from ``--seed``; the lists
are sized so that a pass ends within ``--seconds``. The work measured is
the same however fast the program runs. A query op is
cold-plan like ``bench.py``: the package's cache pool and Spark's cache are
cleared, then the build (``QuerySpec.fn``) and the action to the noop sink
are timed. A batch op is one seeded daily batch through the reference DAG
into a date-partitioned gold table.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). The line before it carries everything: the run
environment, every metric, ``fail_ratio``, the tail percentile and its
sample count. Traced runs also write their spans to ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import platform
import random
import shutil
import subprocess
import sys
import time
import traceback

import checks
import datagen
import stats
from spans import PY_METRICS, Spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "stock_etl_pipeline_spark"
EXPECTED = os.path.join(HERE, "expected.json")

MAX_CORES = 4
# The pass runs every listed query once, plus ``batches`` daily batches of
# the seeded stream, in a seeded order (batches keep stream order among
# themselves). The lists are subsets of the registry sized so that one
# pass fits a run (DESIGN.md records what is left out and why); each has
# more than the 10 ops the tail percentile needs beyond it. The
# untimed warm-up runs the ``warm_up`` queries, which are NOT measured, so
# that no measured op gets a warm start the others lack; on a workload with
# batches it also commits batch 0 of the stream.
WORKLOADS = {
    "etl_analytics": {
        "queries": (
            "moving_averages", "window_suite", "cross_source_spread",
            "transform_metrics", "merge_dedup", "merge_upsert", "quality_suite",
            "source_report", "profile_suite", "source_set_ops", "regional_rollup",
            "top_customers", "sessionize", "distinct_count_sketches",
        ),
        "warm_up": (),
        "batches": 1,
    },
    "llm_data": {
        "queries": (
            "embedding_semantic_dedup", "doc_dedup_clusters", "doc_minhash_capped",
            "doc_simhash_pairs", "doc_span_dedup",
            "embedding_ann_lsh", "embedding_topk", "doc_text_stats",
            "multimodal_features", "multimodal_frame_sample",
            "embedding_label_stats", "doc_exact_dedup",
        ),
        "warm_up": ("doc_lang_report",),
        "batches": 0,
    },
}
LLM_TABLES = ("documents", "embeddings")

# Gated end-to-end metrics (the final line with --trace 0).
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "stored_bytes_per_user_byte": "ratio",
}
# Printed with the others but not gated, because between runs of the same
# code they move by more than any bound a gate may have: the pass's wall time
# and the throughput made from it follow the host's CPU steal (two 10-seed
# sets 20 minutes apart differed by a third), the order statistics over the
# 12-15 ops of one pass follow the seeded op order (early ops still pay
# cold-JVM costs), and the JVM's high-water RSS follows when G1 grows the 8 g
# heap.
REPORTED = {
    "pass_s": "s",
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "fail_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "workload.build_s": "s",
    "workload.build_jobs": "count",
    "workload.build_executor_run_s": "s",
    "caching.persisted_relations": "count",
    "caching.cached_bytes": "bytes",
    "caching.leaked_relations": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.scan_rows": "count",
    "python_worker.start_s": "s",
    "python_worker.init_s": "s",
    "python_worker.run_s": "s",
    "python_worker.bytes_sent": "bytes",
    "python_worker.bytes_returned": "bytes",
    "sources.extract_s": "s",
    "sources.rows": "count",
    "operators.build_s": "s",
    "operators.gold_read_s": "s",
    "quality.validate_s": "s",
    "quality.jobs": "count",
    "sinks.merge_write_s": "s",
    "sinks.jobs": "count",
    "sinks.partitions_rewritten": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.write_amp": "ratio",
    "trace.overhead_s": "s",
    "trace.accounted_share": "ratio",
}
_EXEC_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "scan_rows",
)
_ETL_EXEC_PHASES = ("validate_raw", "validate_merged", "merge_write", "gold_read")


class BenchError(Exception):
    """The run cannot measure what it promises (refused, not a failed op)."""


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise BenchError(f"no VmHWM for pid {pid}")


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and all
    its descendants (the JVM, the Python worker daemon and its workers),
    children already reaped included."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since the listing
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # u, s, cu, cs time
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c, pp in parent.items() if pp == pid and c not in tree)
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _parquet_files(path: str) -> dict:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }


def _one_file_bytes(table) -> int:
    """Bytes of ``table`` written once to a single parquet file."""
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.tell()


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.batches = WORKLOADS[args.workload]["batches"]
        self.traced = bool(args.trace)
        self.ops: list[dict] = []
        self.failures: list[str] = []

    # --- set-up ----------------------------------------------------------

    def start_session(self) -> None:
        cores = min(os.cpu_count() or 1, MAX_CORES)
        self.cores = cores
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[k]  # run the package's defaults, never a stray A/B arm
        # Python workers import the package from this checkout.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        os.environ["TZ"] = "UTC"
        time.tzset()
        from stock_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                ),
            },
        )
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        sc = self.spark.sparkContext
        self.env = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "default_parallelism": sc.defaultParallelism,
            "master": sc.master,
            "nproc": os.cpu_count(),
            "spark": self.spark.version,
            "python": platform.python_version(),
            "pyarrow": __import__("pyarrow").__version__,
            "inputs": "perfbench/data (sf0.001 tier)",
            "commit": _git_commit(),
        }
        if sc.defaultParallelism != cores or sc.master != f"local[{cores}]":
            raise BenchError(
                f"effective parallelism {sc.defaultParallelism} ({sc.master}) "
                f"differs from the requested local[{cores}]"
            )
        self.spans = Spans(self.spark, self.traced)

    def load_registry(self) -> None:
        from stock_etl_pipeline_spark.workload import load_all

        registry = load_all()
        with open(EXPECTED) as f:
            self.expected = json.load(f)
        spec = WORKLOADS[self.args.workload]
        names = spec["queries"] + spec["warm_up"]
        missing = [n for n in names if n not in registry or n not in self.expected["queries"]]
        if missing:
            raise BenchError(f"{missing} not registered or without an expected digest")
        self.specs = [registry[n] for n in spec["queries"]]
        self.warm_specs = [registry[n] for n in spec["warm_up"]]

    def make_inputs(self) -> None:
        self.data_dir = datagen.DATA_DIR
        if datagen.tables_fingerprint(self.data_dir) != self.expected["inputs"]:
            raise BenchError("base tables differ from expected.json's: run --write-expected")
        if self.batches:
            self.gold = os.path.join(self.work, "gold")
            self.write_gold_seed()

    def write_gold_seed(self) -> None:
        from pyspark.sql import functions as F
        from stock_etl_pipeline_spark import datasets, sinks
        from stock_etl_pipeline_spark.operators.merge import merge_datasets
        from stock_etl_pipeline_spark.operators.transform import transform_stock_data

        prices = datasets.load_prices(self.spark, self.data_dir).filter(
            F.col("date") >= F.lit(datagen.FIRST_GOLD_DATE.isoformat()).cast("date")
        )
        seed = merge_datasets(
            [transform_stock_data(prices, processed_at=datagen.BASE_STAMP)],
            tiebreak_cols=["processed_at"],
        )
        sinks.write_partitioned(seed, self.gold)

    def warm_up(self) -> None:
        """Untimed: one JVM-only plan, one Python-worker plan (which also
        proves the workers can import the package), the workload's warm-up
        queries and, with batches, batch 0 of the stream."""
        import pandas as pd
        from pyspark.sql import functions as F

        li = self.spark.read.parquet(os.path.join(self.data_dir, "lineitem.parquet"))
        _noop(li.groupBy("l_returnflag", "l_linestatus").agg(F.sum("l_quantity"), F.count("*")))
        # one task per core, so every Python worker a parallel op will use is started
        ids = self.spark.range(0, 4096, numPartitions=self.cores)

        def fold(batches):
            # every worker imports the package's operator modules once, as a
            # long-lived session's workers would have
            from stock_etl_pipeline_spark.workload import load_all

            load_all()
            for pdf in batches:
                yield pd.DataFrame({"n": [len(pdf)]})

        ids.mapInPandas(fold, "n long").agg(F.sum("n")).collect()
        for spec in self.warm_specs:
            self.cleanup()
            _noop(spec.fn(self.spark, self.data_dir))
        self.cleanup()
        if self.batches:
            batch0 = {"id": -1, "name": "batch0", "phases": [], "ok": True}
            self.etl_op(batch0, 0)
            if not batch0["ok"]:
                raise BenchError(f"warm-up batch 0 failed: {self.failures}")

    def setup(self) -> None:
        """``setup_s``: process start until the first timed op (session
        start, registry import, the gold seed write, warm-up)."""
        self.start_session()
        self.load_registry()
        self.make_inputs()
        self.warm_up()
        self.setup_s = _process_age_s()

    # --- ops -------------------------------------------------------------

    def cleanup(self) -> None:
        from stock_etl_pipeline_spark import caching

        self.spark.catalog.clearCache()
        caching.release()

    def query_op(self, op: dict, spec) -> None:
        before = self.spans.caching()
        with self.spans.phase(op, "build"):
            df = spec.fn(self.spark, self.data_dir)
        after = self.spans.caching()
        op["cache"] = {k: after[k] - before[k] for k in after}
        with self.spans.phase(op, "action"):
            _noop(df)
        with self.spans.untimed("check"):
            t0, cpu0 = time.perf_counter(), _tree_cpu_s(os.getpid())
            rows = df.collect()
            op["rows"] = len(rows)
            op["ok"] = (
                checks.digest(df.columns, rows)
                == self.expected["queries"][spec.name]["digest"]
            )
            op["check_s"] = time.perf_counter() - t0
            op["check_cpu_s"] = _tree_cpu_s(os.getpid()) - cpu0
        if not op["ok"]:
            self.failures.append(f"{spec.name}: output differs from its DuckDB twin")

    def etl_op(self, op: dict, k: int) -> None:
        """One daily batch through the reference DAG: extract both providers,
        validate each, transform + merge, validate the merge and the sink
        schema, MERGE-write into gold, read gold back."""
        from stock_etl_pipeline_spark import sinks, sources
        from stock_etl_pipeline_spark.operators.merge import merge_datasets
        from stock_etl_pipeline_spark.operators.transform import transform_stock_data
        from stock_etl_pipeline_spark.operators.window import daily_close, moving_averages
        from stock_etl_pipeline_spark.quality import validate_prices, validate_sink_schema
        from stock_etl_pipeline_spark.schemas import TRANSFORMED_SCHEMA

        rows = datagen.batch_rows(self.args.seed, k)
        av, yf = datagen.provider_payloads(rows)
        stamp = datagen.batch_stamp(k)
        as_of = rows[0]["date"].isoformat()  # the batch's own day
        op.update(batch=k, rows=len(rows), dates=sorted({r["date"] for r in rows}))
        spark, syms, keys = self.spark, datagen.SYMBOLS, list(checks.GOLD_KEYS)
        with self.spans.phase(op, "extract"):
            raw_av = sources.extract_alpha_vantage(spark, syms, av.__getitem__, extracted_at=stamp)
            raw_yf = sources.extract_yahoo_finance(spark, syms, yf.__getitem__, extracted_at=stamp)
        with self.spans.phase(op, "validate_raw"):
            reports = [validate_prices(r, as_of=as_of, required_symbols=syms) for r in (raw_av, raw_yf)]
        with self.spans.phase(op, "operators"):
            merged = merge_datasets(
                [transform_stock_data(raw_av, processed_at=stamp),
                 transform_stock_data(raw_yf, processed_at=stamp)],
                keys=keys,
                tiebreak_cols=["processed_at"],
            )
        with self.spans.phase(op, "validate_merged"):
            reports.append(validate_prices(merged, as_of=as_of, max_age_days=1))
            reports.append(validate_sink_schema(merged, TRANSFORMED_SCHEMA))
        before = _parquet_files(self.gold) if self.traced else None
        with self.spans.phase(op, "merge_write"):
            report = sinks.merge_write(spark, self.gold, merged, keys=keys)
        if self.traced:
            op["sink"] = self.sink_counters(before, rows)
        with self.spans.phase(op, "gold_read"):
            daily = daily_close(spark.read.parquet(self.gold))
            _noop(moving_averages(daily, (5, 10, 20, 50), min_periods=1, micros_col="close_price_u"))
        errors = [e for rep in reports for e in rep.errors]
        op["ok"] = not errors and report["mode"] == "merge-dynamic"
        if not op["ok"]:
            self.failures.append(f"batch{k}: {errors or report['mode']}")

    def sink_counters(self, before: dict, rows: list[dict]) -> dict:
        """Files, bytes and partitions the MERGE wrote (from a listing of
        gold before and after), and the batch's own bytes as one file."""
        import pandas as pd
        import pyarrow as pa

        t0 = time.perf_counter()
        after = _parquet_files(self.gold)
        written = [p for p, m in after.items() if before.get(p) != m]
        batch = pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False)
        out = {
            "files_written": len(written),
            "bytes_written": sum(os.path.getsize(p) for p in written),
            "partitions_rewritten": len({os.path.dirname(p) for p in written}),
            "batch_bytes": _one_file_bytes(batch),
        }
        self.spans.overhead_s += time.perf_counter() - t0
        return out

    def run_op(self, name: str, body) -> dict:
        """One op inside its failure boundary: an exception fails the op
        and the loop goes on. Both caches are cleared first (untimed)."""
        op = {"id": len(self.ops), "name": name, "phases": [], "ok": True, "rows": 0}
        self.cleanup()
        overhead0 = self.spans.overhead_s
        t0 = time.perf_counter()
        try:
            body(op)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            op["ok"] = False
            self.failures.append(f"{name}: raised")
        wall = time.perf_counter() - t0 - op.get("check_s", 0.0)
        op["wall_s"] = wall - (self.spans.overhead_s - overhead0)
        op["latency_s"] = sum(p["end"] - p["start"] for p in op["phases"])
        if self.traced:
            self.cleanup()
            op["leaked"] = self.spans.caching()["relations"]
        self.ops.append(op)
        return op

    def measure(self) -> None:
        """One pass: every op once, in the seeded order; each query's output
        is checked after its timed action."""
        overhead0 = self.spans.overhead_s
        items = list(self.specs) + [None] * self.batches
        self.rng.shuffle(items)
        next_batch = 1  # batch 0 is committed by the warm-up
        t0, cpu0 = time.perf_counter(), _tree_cpu_s(os.getpid())
        for spec in items:
            if spec is None:
                k, next_batch = next_batch, next_batch + 1
                self.run_op(f"batch{k}", lambda op, k=k: self.etl_op(op, k))
            else:
                self.run_op(spec.name, lambda op, s=spec: self.query_op(op, s))
        wall, cpu = time.perf_counter() - t0, _tree_cpu_s(os.getpid()) - cpu0
        checked = sum(op.get("check_s", 0.0) for op in self.ops)
        self.overhead_s = self.spans.overhead_s - overhead0
        self.pass_s = wall - checked - self.overhead_s
        self.pass_cpu_s = cpu - sum(op.get("check_cpu_s", 0.0) for op in self.ops)

    # --- checks and metrics ----------------------------------------------

    def check_gold(self) -> None:
        """Final gold vs a DuckDB keep-latest over the seed and every batch
        committed; batches that touched a differing date fail."""
        import duckdb
        from stock_etl_pipeline_spark.datasets import PRICES_VIEW_SQL

        batch_ops = [op for op in self.ops if "batch" in op]
        committed = [0] + [op["batch"] for op in batch_ops]
        with self.spans.untimed("check"):
            gold = self.spark.read.parquet(self.gold).select(*checks.GOLD_COLUMNS)
            got_rows = gold.collect()
        con = duckdb.connect()
        checks.duckdb_views(con, self.data_dir)
        batches = [(k, datagen.batch_rows(self.args.seed, k)) for k in committed]
        exp_cols, exp_rows = checks.expected_gold(
            con, checks.gold_seed_sql(PRICES_VIEW_SQL, datagen.FIRST_GOLD_DATE.isoformat()), batches
        )
        con.close()
        bad = checks.gold_mismatch_dates(exp_cols, exp_rows, gold.columns, got_rows)
        if bad:
            hit = [op for op in batch_ops if bad & set(op["dates"])]
            for op in hit or batch_ops:
                op["ok"] = False
            self.failures.append(f"gold differs from the expected keep-latest on {len(bad)} dates")
        self.gold_rows = got_rows

    def stored_ratio(self) -> float:
        """Bytes the system stores per byte the user gave it. With batches:
        the gold table's bytes on disk over the same rows written once to a
        single parquet file. Without: the bytes the builds' persisted
        relations held (memory plus disk, summed over the pass's ops) over
        the workload's input tables on disk."""
        import pandas as pd
        import pyarrow as pa

        if self.batches:
            frame = pd.DataFrame([r.asDict() for r in self.gold_rows], columns=checks.GOLD_COLUMNS)
            table = pa.Table.from_pandas(frame, preserve_index=False)
            return _dir_bytes(self.gold) / _one_file_bytes(table)
        cached = sum(op["cache"]["bytes"] for op in self.ops if "cache" in op)
        inputs = sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet")) for t in LLM_TABLES
        )
        return cached / inputs

    def end_to_end(self) -> dict:
        lat = [op["latency_s"] for op in self.ops]
        tail_v, tail_p, n = stats.tail(lat)
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.tail = {"percentile": tail_p, "samples": n}
        # rows_per_s: with batches, provider rows committed per second of
        # batch time; without, result rows the queries returned (counted in
        # the output check) per second of op time.
        rated = [op for op in self.ops if "batch" in op] if self.batches else self.ops
        return {
            "setup_s": self.setup_s,
            "pass_s": self.pass_s,
            "pass_cpu_s": self.pass_cpu_s,
            "op_p50_s": stats.median(lat),
            "op_tail_s": tail_v,
            "peak_rss_mb": (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0,
            "rows_per_s": sum(op["rows"] for op in rated) / sum(op["latency_s"] for op in rated),
            "stored_bytes_per_user_byte": self.stored_ratio(),
        }

    def per_layer(self) -> dict:
        """The pass's per-layer totals (sums over its ops; leaked relations
        and the accounted share are the max and min over ops)."""
        t = {k: 0.0 for k in PER_LAYER}
        batch_bytes = 0
        shares = []
        for op in self.ops:
            ph = {s["phase"]: s for s in op["phases"]}
            dur = {k: s["end"] - s["start"] for k, s in ph.items()}
            if op["wall_s"] > 0 and ph:
                shares.append(op["latency_s"] / op["wall_s"])
            for s in ph.values():
                for name in PY_METRICS.values():
                    t[name] += s.get(name, 0.0)
            exec_phases = ["action"] if "action" in ph else [x for x in _ETL_EXEC_PHASES if x in ph]
            for x in exec_phases:
                t["exec.s"] += dur[x]
                for c in _EXEC_COUNTERS:
                    t[f"exec.{c}"] += ph[x].get(c, 0)
            if "build" in ph:
                t["workload.build_s"] += dur["build"]
                t["workload.build_jobs"] += ph["build"].get("jobs", 0)
                t["workload.build_executor_run_s"] += ph["build"].get("executor_run_s", 0.0)
            if "extract" in ph:
                t["sources.extract_s"] += dur["extract"]
                t["sources.rows"] += op["rows"]
            if "operators" in ph:
                t["operators.build_s"] += dur["operators"]
            if "gold_read" in ph:
                t["operators.gold_read_s"] += dur["gold_read"]
            for x in ("validate_raw", "validate_merged"):
                if x in ph:
                    t["quality.validate_s"] += dur[x]
                    t["quality.jobs"] += ph[x].get("jobs", 0)
            if "merge_write" in ph:
                t["sinks.merge_write_s"] += dur["merge_write"]
                t["sinks.jobs"] += ph["merge_write"].get("jobs", 0)
            sink = op.get("sink", {})
            for c in ("partitions_rewritten", "files_written", "bytes_written"):
                t[f"sinks.{c}"] += sink.get(c, 0)
            batch_bytes += sink.get("batch_bytes", 0)
            cache = op.get("cache", {})
            t["caching.persisted_relations"] += cache.get("relations", 0)
            t["caching.cached_bytes"] += cache.get("bytes", 0)
            t["caching.leaked_relations"] = max(t["caching.leaked_relations"], op.get("leaked", 0))
        t["sinks.write_amp"] = t["sinks.bytes_written"] / batch_bytes if batch_bytes else 0.0
        t["trace.overhead_s"] = self.overhead_s
        t["trace.accounted_share"] = min(shares) if shares else 0.0
        t["session.start_s"] = self.session_start_s
        return t

    def write_trace(self) -> None:
        out_dir = os.path.join(ROOT, ".perfbench")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"env": self.env, "ops": self.ops}, f, default=str)

    def run(self) -> dict:
        self.setup()
        self.measure()
        if self.batches:
            self.check_gold()
        metrics = self.end_to_end()
        layers = self.per_layer()
        attempted, failed, ratio = stats.fail_ratio(op["ok"] for op in self.ops)
        if self.traced:
            self.write_trace()
        return {
            "env": self.env,
            "attempted": attempted,
            "failed": failed,
            "fail_ratio": ratio,
            "failures": self.failures,
            "op_tail": self.tail,
            "op_latency_s": [[op["name"], op["latency_s"]] for op in self.ops],
            "end_to_end": metrics,
            "per_layer": layers,
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python worker
        daemon) to exit."""
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def write_expected() -> None:
    """Regenerate expected.json: the DuckDB twin of every registered query
    over the base tables (slow: some twins take a minute)."""
    import duckdb
    from stock_etl_pipeline_spark.workload import load_all

    registry = load_all()
    con = duckdb.connect()
    checks.duckdb_views(con, datagen.DATA_DIR)
    queries = {}
    for name, spec in sorted(registry.items()):
        rel = con.execute(spec.oracle)
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        queries[name] = {"digest": checks.digest(cols, rows), "rows": len(rows)}
    con.close()
    with open(EXPECTED, "w") as f:
        json.dump({"inputs": datagen.tables_fingerprint(), "queries": queries}, f, indent=1)
        f.write("\n")


def _final_line(result: dict, traced: bool) -> dict:
    units, values = (PER_LAYER, result["per_layer"]) if traced else (END_TO_END, result["end_to_end"])
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true")
    args = ap.parse_args(argv)
    if not args.write_expected and args.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.write_expected:
        write_expected()
        return 0
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        bench = Bench(args, work)
        try:
            result = bench.run()
        finally:
            bench.stop()
    except BenchError as e:
        print(f"perfbench: refused: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e = {**result["end_to_end"], "fail_ratio": result["fail_ratio"]}
    tail = result["op_tail"]
    print(f"perfbench {args.workload} seed={args.seed}: {result['attempted']} ops in "
          f"one pass, {result['failed']} failed; output check "
          f"{'OK' if not result['failed'] else 'FAILED'}")
    for k, unit in {**END_TO_END, **REPORTED}.items():
        note = "" if k in END_TO_END else "  (not gated)"
        if k == "op_tail_s":
            note = f"  (p{tail['percentile']} of {tail['samples']} ops; not gated)"
        print(f"  {k:28s} {e2e[k]:.6g} {unit}{note}")
    for msg in result["failures"]:
        print(f"  failure: {msg}")
    print(json.dumps(result, default=str))
    print(json.dumps(_final_line(result, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
