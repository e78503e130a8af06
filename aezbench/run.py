"""aezspark benchmark: one run of one workload.

    python3 aezbench/run.py --workload docs_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Steps:
  1. make the seeded inputs (cached by seed and size under aezbench/work);
  2. compute the numpy oracle's expected outputs (same cache);
  3. run the workload in a fresh, timed Spark process (aezbench/workload.py);
  4. check its outputs against the oracle in this process.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics, or with --trace 1 the per-layer metrics). The
line before it carries details: host settings, job times, wrong rows. Exits
non-zero when any output row is wrong or any job failed.
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
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")

WORLD_PX = 2.0      # coarse grid: 180x90 cells; the fine grid is 3x finer
TILE_PX = 36        # 15x8 = 120 tile shards; the kernel's worker LRU holds 64
N_DOCS = 50_000
ORDER = {"docs_batch": "uniform", "docs_clustered": "clustered"}
STREAM_DROPS = 4    # micro-batches of the traced run's streaming probe
CORPUS_DOCS = 2000  # text docs of the traced run's corpus dedup probe
# local[3] leaves a vCPU of a 4-vCPU host to the driver, the parent and
# host noise; the job is latency-bound and runs no faster on all four
MAX_CORES = 3
# the session default (16g) exceeds small hosts; 1g holds these inputs and
# keeps peak RSS steady (2g let the heap grow differently run to run)
DRIVER_HEAP = "1g"
SPARK_TIMEOUT_S = 160


def _fail(msg: str, code: int = 2) -> None:
    print(f"aezbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_settings(run_dir: str, trace: bool) -> dict:
    """Spark settings pinned from outside the program, recorded in the
    output."""
    cores = min(MAX_CORES, os.cpu_count() or 1)
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    tmp = os.path.join(run_dir, "tmp")
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.dir=file://"
                 + os.path.join(run_dir, "eventlog")]
    return {
        "AEZSPARK_MASTER": f"local[{cores}]",
        "AEZSPARK_DRIVER_MEM": DRIVER_HEAP,
        "AEZSPARK_TABLES_ROOT": os.path.join(run_dir, "tables"),
        "AEZSPARK_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # the session's own default (ParallelGC) plus: no hsperfdata file
        # under /tmp, JVM temp files inside the run directory
        "AEZSPARK_JAVA_OPTS": ("-XX:+UseParallelGC -XX:-UsePerfData "
                               f"-Djava.io.tmpdir={tmp}"),
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYSPARK_SUBMIT_ARGS": " ".join(conf + ["pyspark-shell"]),
        "host_mem_gb": round(mem_kb / (1 << 20), 1),
        "host_cpus": os.cpu_count(),
    }


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the Spark process left in its process group (JVM,
    Python workers) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = False
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            fields = s[s.rfind(")") + 2:].split()
            if int(fields[2]) == proc.pid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def run_spark(params: dict, env: dict) -> dict | None:
    """The timed process: a fresh interpreter, in its own process group."""
    path = os.path.join(params["run_dir"], "params.json")
    with open(path, "w") as f:
        json.dump(params, f)
    proc = subprocess.Popen(
        [sys.executable, "-m", "aezbench.workload", path], cwd=ROOT,
        env={**os.environ, **env}, stdout=subprocess.DEVNULL,
        stderr=open(os.path.join(params["run_dir"], "spark.log"), "wb"),
        start_new_session=True)
    try:
        proc.wait(timeout=SPARK_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("aezbench: Spark process timed out", file=sys.stderr)
    finally:
        _stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(params["out"]):
        with open(os.path.join(params["run_dir"], "spark.log"), "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        print(f"aezbench: Spark process failed ({proc.returncode})\n{tail}",
              file=sys.stderr)
        return None
    with open(params["out"]) as f:
        return json.load(f)


def end_to_end(res: dict) -> dict:
    med = statistics.median(res["job_times"])
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "rows_per_s": {"value": res["rows_per_job"] / med, "unit": "1/s"},
        "peak_rss_mb": {"value": res["peak_rss_bytes"] / (1 << 20),
                        "unit": "MB"},
    }


def per_layer(res: dict, spec: list[dict]) -> dict:
    """Every per_layer metric of BENCHMARK.json (KeyError if the traced
    run did not measure one)."""
    vals = dict(res["layers"])
    for k, v in res["spark_per_job"].items():
        vals[f"spark.{k}"] = v
    untraced = statistics.median(res["job_times"])
    vals["trace.overhead_share"] = res["traced_job_s"] / untraced - 1.0
    vals["trace.coverage"] = res["job_layer_sum_s"] / untraced
    return {m["name"]: {"value": float(vals[m["name"]]),
                        "unit": m["unit"]} for m in spec}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "aezspark", "__init__.py")):
        _fail(f"no aezspark package under {ROOT}: run from a repo checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        _fail(f"unknown workload {args.workload!r}")
    sys.path.insert(0, ROOT)
    from aezbench import check, gen, oracle
    from aezspark.fixtures.generate import load_grids

    world = gen.ensure_world(WORK, args.seed, WORLD_PX)
    fx = gen.ensure_documents(WORK, args.seed, N_DOCS, ORDER[args.workload],
                              world)
    exp = oracle.ensure_expected(fx, os.path.join(WORK, "expected",
                                                  os.path.basename(fx)),
                                 with_aez=bool(args.trace))
    drops = exp_drops = corpus = exp_corpus = None
    if args.trace:
        drops = gen.ensure_drops(WORK, fx, STREAM_DROPS)
        exp_drops = oracle.ensure_expected(
            drops, os.path.join(WORK, "expected", os.path.basename(drops)),
            with_aez=False)
        corpus = gen.ensure_corpus(WORK, args.seed, CORPUS_DOCS)
        exp_corpus = oracle.ensure_corpus_expected(
            corpus, os.path.join(WORK, "expected",
                                 os.path.basename(os.path.dirname(corpus))))

    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    host = host_settings(run_dir, bool(args.trace))
    params = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "run_id": run_id,
              "fx_dir": fx, "run_dir": run_dir, "tile_px": TILE_PX,
              "n_docs": N_DOCS, "aez_csv": os.path.join(run_dir, "aez.csv"),
              "drops_dir": drops, "corpus_path": corpus,
              "shards_per_split": gen.shards_per_split(
                  fx, load_grids(fx)[1], TILE_PX),
              "event_log_dir": os.path.join(run_dir, "eventlog"),
              "out": os.path.join(run_dir, "result.json")}
    if args.trace:
        os.makedirs(params["event_log_dir"], exist_ok=True)
    try:
        res = run_spark(params, {k: v for k, v in host.items()
                                 if not k.startswith("host_")})
        if res is None or not res["job_times"]:
            return 1
        import pandas as pd

        wrong = check.wrong_tiles(res["sink"], pd.read_parquet(
            os.path.join(exp, "tiles.parquet")))
        zc = pd.read_parquet(os.path.join(exp, "zone_counts.parquet"))
        wrong += sum(check.wrong_zone_counts(o, zc) for o in res["outputs"])
        if args.trace:
            wrong += check.wrong_lines(params["aez_csv"],
                                       os.path.join(exp, "aez.csv"))
            wrong += check.wrong_zone_counts(res["stream_output"], pd.read_parquet(
                os.path.join(exp_drops, "zone_counts.parquet")))
            for name, rows in res["corpus_output"].items():
                wrong += check.wrong_pairs(rows, pd.read_parquet(
                    os.path.join(exp_corpus, f"{name}.parquet")))
        metrics = (per_layer(res, bench["per_layer"]) if args.trace
                   else end_to_end(res))
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "run_id": run_id,
            "host": host, "jobs": len(res["job_times"]),
            "job_times_s": res["job_times"], "rows_per_job": res["rows_per_job"],
            "shards_per_split": params["shards_per_split"],
            "wrong_rows": wrong,
            "error_rate": res["failed"] / res["attempted"],
            "errors": res["errors"]}))
        correct = wrong == 0 and res["failed"] == 0
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
