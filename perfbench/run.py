"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run makes its inputs from the seed
(untimed), evaluates the DuckDB oracle on them (untimed), then starts one
Spark driver process (``worker.py``) that sets up, runs a cold first pass
and warm passes for S seconds, times a fixed reference job after every
pass, and checks every output.

The last stdout line is the result JSON. With ``--trace 0`` it carries
the end-to-end metrics; with ``--trace 1`` the per-layer metrics, and
the spans are written to ``perfbench/.out/``. ``setup_s`` and
``first_pass_s`` have the CPU time the host stole from the VM taken out
(``host.py``); ``warm_pass_rel`` is a ratio of two times. The
line before it records the seed, cores, PySpark version, and per pass
the raw wall time, load average, steal share and reference job time. See
perfbench/README.md for the workloads and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from host import cpu_ticks, steal_share, unstolen  # noqa: E402
from layers import median_metrics  # noqa: E402

#: registered queries of the catalog workload: two ADAM-surface operators
#: (interval join, flagstat) and two LLM-data operators (minhash dedup,
#: embedding near-duplicates). Duplicate marking and the coordinate sort
#: run in transform_alignments.
CATALOG = [
    "interval_join_inner",
    "flagstat_events",
    "dedup_minhash_docs",
    "embedding_near_dup",
]
CATALOG_SF = 0.01
SAM_PAIRS = 20_000
SAM_DUP_PAIRS = 500
#: warm passes a run makes at least. A traced run alternates untraced and
#: traced warm passes, starting untraced, and makes one more, so it has
#: two of each
MIN_WARM_PASSES = 3
#: a run gives up (and prints no result) this many seconds after it started
RUN_DEADLINE_S = 165
WORKLOADS = ("catalog_small", "transform_alignments")

#: per-pass fields of the provenance line
PASS_FIELDS = ("index", "traced", "wall_s", "ok", "loadavg_1m", "steal_frac", "ref_s",
               "queries")
END_TO_END_UNITS = {"setup_s": "s", "first_pass_s": "s", "warm_pass_rel": "ratio"}
PER_LAYER = {
    "pass.warm_wall_s": "s", "pass.ref_s": "s",
    "session.start_s": "s", "session.warmup_s": "s", "memory.peak_rss_mb": "MB",
    "sources.load_calls": "count", "sources.load_s": "s",
    "sources.write_s": "s", "sources.bytes_written": "bytes", "sources.write_amp": "ratio",
    "operators.calls": "count", "operators.build_s": "s", "operators.eager_jobs": "count",
    "llm.calls": "count", "llm.build_s": "s", "llm.eager_jobs": "count",
    "py4j.calls": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_gap_s": "s",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.task_skew": "ratio", "spark.busy_frac": "ratio",
    "trace.overhead_s": "s",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _child_env(work: str, root: str, cores: int) -> dict[str, str]:
    """Environment of every Spark process: pinned to ``local[cores]``
    with matching shuffle partitions, and writing only under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "ADAM_SPARK_SHUFFLE_PARTITIONS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([root, HERE]),
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def _reap(proc: subprocess.Popen) -> None:
    """Stop ``proc`` and everything it started (its JVM and the JVM's
    Python workers share its session), and wait until all ended."""
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        pass
    _kill_session(proc)
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and _session_pids(proc.pid):
        time.sleep(0.05)


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. The Python worker daemon moves
    to a process group of its own, but stays in the session."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def _spawn(args: list[str], env: dict, cwd: str, log: str,
           deadline: float) -> tuple[dict, float, float, subprocess.Popen, threading.Timer]:
    """Start a worker that is killed at ``deadline`` (a ``time.monotonic``
    value); return its ready line, the seconds from spawn to ready, the
    host's steal share over them, the still-running process and its
    watchdog."""
    with open(log, "ab") as err:
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), *args],
                                stdout=subprocess.PIPE, stderr=err, env=env, cwd=cwd,
                                start_new_session=True)
    timer = _watchdog(proc, deadline - time.monotonic())
    line = proc.stdout.readline()
    ready_s = time.perf_counter() - t0
    ready_steal = steal_share(ticks0, cpu_ticks())
    if not line:
        _reap(proc)
        timer.cancel()
        raise RuntimeError(f"worker {args} exited before ready; see {log}")
    return json.loads(line)["ready"], ready_s, ready_steal, proc, timer


def _watchdog(proc: subprocess.Popen, timeout: float) -> threading.Timer:
    """Kill ``proc``'s session unless cancelled within ``timeout``."""
    timer = threading.Timer(timeout, _kill_session, (proc,))
    timer.daemon = True
    timer.start()
    return timer


def _kill_session(proc: subprocess.Popen) -> None:
    for pid in _session_pids(proc.pid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def make_inputs(workload: str, seed: int, work: str) -> dict:
    """Generate the workload's inputs and everything the checks need."""
    if workload == "transform_alignments":
        sam = os.path.join(work, "reads.sam")
        expect = gen.write_sam(sam, seed, SAM_PAIRS, SAM_DUP_PAIRS)
        os.makedirs(os.path.join(work, "out"), exist_ok=True)
        return {"sam": sam, "input_bytes": os.path.getsize(sam), "expect": expect,
                "out_dir": os.path.join(work, "out")}
    import duckdb

    import __spark_entry__ as entry
    from adam_spark.sources.tables import TABLES

    data = os.path.join(work, "data")
    gen.write_tables(data, seed, CATALOG_SF)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    sql = entry.oracle_sql()
    oracle = {q: con.execute(f"SELECT count(*) FROM ({sql[q]})").fetchone()[0]
              for q in CATALOG if q in sql}
    con.close()
    return {"data_dir": data, "queries": CATALOG, "oracle": oracle}


def _pass_s(p: dict) -> float:
    return unstolen(p["wall_s"], p["steal_frac"])


def warm_rel(passes: list[dict]) -> float:
    """Mean over ``passes`` of each pass's wall time divided by the time
    of the reference job run right after it (``worker.reference_s``),
    leaving out the lowest and highest ratio when there are more than
    three. A busy host and a JIT compiler still warming up slow both
    alike, so the ratio varies far less between runs than either time
    does."""
    ratios = sorted(p["wall_s"] / p["ref_s"] for p in passes)
    return statistics.mean(ratios[1:-1] if len(ratios) > 3 else ratios)


def summarize(res: dict, ready: dict, setup_s: float, inputs: dict,
              trace: bool) -> dict[str, float]:
    passes = res["passes"]
    warm = passes[1:]
    # failed passes are not timed passes, unless every pass failed
    good = [p for p in warm if p["ok"]] or warm
    if trace:
        traced = [p for p in good if p["traced"]] or [p for p in warm if p["traced"]]
        plain = [p for p in good if not p["traced"]] or [p for p in warm if not p["traced"]]
        m = {k: 0.0 for k in PER_LAYER}
        m.update(median_metrics([p["layers"] for p in traced]))
        m["session.start_s"] = ready["start_s"]
        m["session.warmup_s"] = ready["warmup_s"]
        m["memory.peak_rss_mb"] = res["peak_rss_mb"]
        if "input_bytes" in inputs:
            written = statistics.median(p["bytes_written"] for p in traced)
            m["sources.bytes_written"] = written
            m["sources.write_amp"] = written / inputs["input_bytes"]
        m["pass.warm_wall_s"] = statistics.median(map(_pass_s, plain))
        m["pass.ref_s"] = statistics.median(p["ref_s"] for p in plain)
        # in reference-job units, like warm_pass_rel: the untraced passes
        # include the first, least warm one
        m["trace.overhead_s"] = (warm_rel(traced) - warm_rel(plain)) * m["pass.ref_s"]
        return {k: m[k] for k in PER_LAYER}
    return {
        "setup_s": setup_s,
        "first_pass_s": _pass_s(passes[0]),
        "warm_pass_rel": warm_rel(good),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "adam_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("run from the repository root: adam_spark/ and __spark_entry__.py "
              "not found", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_DEADLINE_S
    sys.path.insert(0, root)
    cores = _cores()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        inputs = make_inputs(args.workload, args.seed, work)
        env = _child_env(work, root, cores)
        log = os.path.join(work, "worker.log")
        plan = {**inputs, "workload": args.workload, "seed": args.seed, "cores": cores,
                "min_warm_passes": MIN_WARM_PASSES + args.trace,
                "seconds": args.seconds, "trace": bool(args.trace),
                "result_path": os.path.join(work, "result.json")}
        with open(os.path.join(work, "plan.json"), "w") as fh:
            json.dump(plan, fh)
        try:
            plan_arg = ["--plan", os.path.join(work, "plan.json")]
            ready, ready_s, ready_steal, proc, timer = _spawn(plan_arg, env, work, log, deadline)
            proc.stdout.read()
            _reap(proc)
            timer.cancel()
            if proc.returncode != 0:
                raise RuntimeError(f"worker exited {proc.returncode}; see {log}")
        except RuntimeError as exc:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"run failed: {exc}", file=sys.stderr)
            return 1
        with open(plan["result_path"]) as fh:
            res = json.load(fh)
        if res["failed"]:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-8000:])
        metrics = summarize(res, ready, unstolen(ready_s, ready_steal), inputs, bool(args.trace))
        if args.trace:
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as fh:
                for span in res["spans"]:
                    fh.write(json.dumps(span) + "\n")
        import pyspark

        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "pyspark": pyspark.__version__, "trace": bool(args.trace),
            "failed_frac": res["failed"] / res["attempted"],
            "setup_wall_s": round(ready_s, 4), "setup_steal_frac": round(ready_steal, 4),
            "passes": [{k: p[k] for k in PASS_FIELDS if k in p} for p in res["passes"]],
        }))
        units = PER_LAYER if args.trace else END_TO_END_UNITS
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
