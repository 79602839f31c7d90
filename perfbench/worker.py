"""One Spark driver process of a benchmark run.

``worker.py --plan PLAN.json`` starts a session, warms it and prints its
ready line (run.py times the process from spawn to that line for
``setup_s``), then runs the workload's passes for the planned number of
seconds and writes a result JSON.

The ready line is one JSON object on stdout; everything Spark logs goes
to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback

import duckdb
import pandas as pd

import __spark_entry__ as entry
from adam_spark import cli, get_spark

from host import cpu_ticks, steal_share
from layers import Tracer


def warm_up(spark, cores: int, python_workers: bool) -> None:
    """Run one job on every core, so the JVM's SQL path is up before the
    first timed operation. With ``python_workers`` the job runs a pandas
    UDF, which also starts every Python worker: only the query workload
    runs Python UDFs, and the transform's CLI starts none."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def echo(v: pd.Series) -> pd.Series:
        return v

    ids = spark.range(0, 10_000, 1, cores)
    ids.select(F.sum(echo("id") if python_workers else ids.id)).collect()


def reference_s(spark, cores: int) -> float:
    """Mean wall time of five runs of a fixed Spark job that calls no
    adam_spark code: a sum over a generated range, on every core. It
    goes through the same JVM, scheduler and gateway as a pass, so a
    busy host or a JIT compiler still warming up slows it as it slows
    the pass measured just before it."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(0, 400_000, 1, cores).selectExpr("sum(hash(id))").collect()
        times.append(time.perf_counter() - t0)
    return sum(times) / len(times)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM, from /proc."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


class Workload:
    """Runs passes of one workload and checks every output."""

    def __init__(self, spark, plan: dict, tracer: Tracer | None):
        self.spark, self.plan, self.tracer = spark, plan, tracer
        self.attempted = 0
        self.failed = 0
        self.seen: dict[str, int] = {}

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr, flush=True)

    def run_pass(self, index: int) -> tuple[float, bool, dict]:
        """Run one pass; return its wall seconds, whether every operation
        was correct, and its extra per-pass counters."""
        failed0 = self.failed
        if self.plan["workload"] == "transform_alignments":
            wall, extra = self._transform(index)
        else:
            wall, extra = self._queries(index)
        return wall, self.failed == failed0, extra

    def _traced(self) -> bool:
        return self.tracer is not None and self.tracer.active

    def _queries(self, index: int) -> tuple[float, dict]:
        order = list(self.plan["queries"])
        random.Random(f"{self.plan['seed']}:{index}").shuffle(order)
        qs = entry.queries()
        oracle = self.plan["oracle"]
        walls: dict[str, float] = {}
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if self._traced():
                    self.tracer.begin_query(f"p{index}:{name}")
                counted = qs[name](self.spark, self.plan["data_dir"]).groupBy().count()
                if self._traced():
                    self.tracer.plan(counted)
                    self.tracer.action_started()
                rows = counted.collect()[0][0]
                if self._traced():
                    self.tracer.end_query()
            except Exception:
                traceback.print_exc()
                self._fail(f"{name}: exception")
                continue
            finally:
                walls[name] = time.perf_counter() - t0
                if self.tracer is not None:
                    self.tracer.qid = None
            want = oracle[name] if name in oracle else self.seen.setdefault(name, rows)
            if rows != want:
                self._fail(f"{name}: {rows} rows, expected {want}")
        return sum(walls.values()), {"queries": walls}

    def _transform(self, index: int) -> tuple[float, dict]:
        self.attempted += 1
        out = os.path.join(self.plan["out_dir"], f"pass{index}.adam")
        argv = ["transform_alignments", self.plan["sam"], out,
                "-mark_duplicate_reads", "-sort_by_reference_position"]
        t0 = time.perf_counter()
        try:
            if self._traced():
                self.tracer.begin_query(f"p{index}:transform_alignments")
                self.tracer.action_started()
            rc = cli.main(argv)
            if self._traced():
                self.tracer.end_query()
        except Exception:
            traceback.print_exc()
            rc = -1
        finally:
            wall = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.qid = None
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, files in os.walk(out) for f in files)
        if rc != 0:
            self._fail(f"transform_alignments exited {rc}")
        else:
            self._check_transform(out)
        shutil.rmtree(out, ignore_errors=True)
        return wall, {"bytes_written": written}

    def _check_transform(self, out: str) -> None:
        got = duckdb.sql(
            "SELECT count(*), count(DISTINCT readName), sum(start), "
            "sum(CASE WHEN duplicateRead THEN 1 ELSE 0 END) "
            f"FROM read_parquet('{out}/*.parquet')"
        ).fetchone()
        exp = self.plan["expect"]
        want = (exp["reads"], exp["names"], exp["start_sum"], exp["duplicates"])
        if tuple(int(v) for v in got) != want:
            self._fail(f"transform output {got}, expected {want}")


def run(spark, plan: dict) -> dict:
    tracer = Tracer(spark, plan["cores"]) if plan["trace"] else None
    work = Workload(spark, plan, tracer)
    passes: list[dict] = []

    def one(index: int, traced: bool) -> None:
        load = os.getloadavg()[0]
        if traced:
            tracer.install()
            first_span = len(tracer.spans)
        ticks0 = cpu_ticks()
        try:
            wall, ok, extra = work.run_pass(index)
        finally:
            if traced:
                tracer.uninstall()
        rec = {"index": index, "traced": traced, "wall_s": wall, "ok": ok,
               "loadavg_1m": load, "steal_frac": steal_share(ticks0, cpu_ticks()), **extra}
        # also after the cold first pass, so that the reference job's own
        # first, cold runs are not the ones a warm pass is divided by
        rec["ref_s"] = reference_s(spark, plan["cores"])
        if traced:
            rec["layers"] = tracer.pass_metrics(tracer.spans[first_span:], tracer.py4j_calls)
        passes.append(rec)

    one(0, False)
    window_end = time.perf_counter() + plan["seconds"]
    index = 1
    # in a traced run, warm passes alternate untraced (the tracer is
    # uninstalled) and traced, so comparing the two gives the tracing
    # overhead
    while index <= plan["min_warm_passes"] or time.perf_counter() < window_end:
        one(index, tracer is not None and index % 2 == 0)
        index += 1
    return {"passes": passes, "attempted": work.attempted, "failed": work.failed,
            "peak_rss_mb": peak_rss_mb(spark),
            "spans": tracer.spans if tracer else []}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plan", required=True)
    args = ap.parse_args()
    with open(args.plan) as fh:
        plan = json.load(fh)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_up(spark, plan["cores"], plan["workload"] != "transform_alignments")
    t2 = time.perf_counter()
    print(json.dumps({"ready": {"start_s": t1 - t0, "warmup_s": t2 - t1}}), flush=True)
    result = run(spark, plan)
    with open(plan["result_path"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    # skip interpreter and session teardown: run.py ends this process
    # group, JVM included, once this process has exited
    code = main()
    sys.stdout.flush()
    os._exit(code)
