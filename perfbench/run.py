#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload fleet_dense8 --seed 1 --seconds 5 --trace 0

Builds the engine and the harness (perfbench/build.py), makes the
workload's seeded input (perfbench/inputs.py), runs the workload in one JVM
(perfbench/src/perfbench/Harness.scala), checks every output, and prints one
JSON line last on stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones (and the trace spans are kept under
.bench_build/traces/).
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402

BENCH = pathlib.Path(__file__).resolve().parent
SETTINGS = BENCH / "bench.json"


def settings() -> dict:
    return json.loads(SETTINGS.read_text())


def launch(cfg: dict, work: pathlib.Path, hargs: list) -> dict:
    """Runs the harness in one JVM whose java.io.tmpdir is `work/tmp` (so
    index generations and scratch never carry from one run to the next) and
    returns its result object. The JVM log is `work/jvm.log`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    out, log = work / "result.json", work / "jvm.log"
    cmd = (["java"] + cfg["jvm_options"] + [f"-Djava.io.tmpdir={tmp}", "-cp", build.build(),
           "perfbench.Harness", "--cpus", str(cfg["cpus"]), "--out", str(out)] + hargs)
    # Spark's scratch follows java.io.tmpdir only when no local dirs are set
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=lf, env=env, timeout=cfg["jvm_timeout_s"])
    if r.returncode != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"harness exited with code {r.returncode}")
    return json.loads(out.read_text())


def run(args) -> dict:
    cfg = settings()
    wl = cfg["workloads"][args.workload]
    root = pathlib.Path.cwd()
    build.build()
    work = build.build_dir() / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t_start = time.time()
        hargs = ["--seconds", str(args.seconds), "--trace", str(args.trace)]
        if wl["mode"] == "fleet":
            data = work / "input"
            getattr(inputs, args.workload)(data, args.seed)
            hargs += ["--mode", "fleet", "--data", str(data)]
        else:
            data = inputs.SF001_DIR
            # the slice runs on the shipped tables in one fixed order, so the
            # seed has nothing to vary here
            (work / "names.txt").write_text("\n".join(cfg["registry_slice"]) + "\n")
            hargs += ["--mode", "registry", "--data", str(data), "--names", str(work / "names.txt"),
                      "--dumps", str(work / "dumps")]
        if args.trace:
            traces = build.build_dir() / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            hargs += ["--spans", str(traces / f"{args.workload}-seed{args.seed}.json")]
        res = launch(cfg, work, hargs)
        failures = list(res["failures"])
        attempted = int(res["attempted"])

        if wl["mode"] == "fleet":
            key = str(inputs.dense_variant(args.seed))
            hist = [p["rows"] for p in [res["cold"]] + res["passes"] + res["traced"] if p]
        else:
            key = "pipeline"
            hist = [res["pipeline_rows"]] if "pipeline_rows" in res else []
            # every query of every pass (cold, timed, traced) kept its result
            # as dumps/<query>@<pass>; a wrong one fails its query
            failures += checks.oracle_failures(root, data, work / "dumps")
        if hist:
            expected = cfg["digests"].get(args.workload, {}).get(key)
            if expected is None:
                failures.append(f"no recorded digest for {args.workload}[{key}]")
            else:
                failures += checks.digest_failures(hist, expected)
            attempted += len(hist)

        sys.stderr.write("cold %.3f s, passes %s\n" % (
            res["cold"]["wall_s"] if res["cold"] else -1,
            " ".join("%.3f" % p["wall_s"] for p in res["passes"])))
        for f in failures:
            sys.stderr.write(f"FAILED: {f}\n")
        if args.trace:
            metrics = {m["name"]: {"value": res["layers"][m["name"]], "unit": m["unit"]}
                       for m in cfg_benchmark()["per_layer"]}
        else:
            walls = [p["wall_s"] for p in res["passes"]]
            if not walls:
                raise SystemExit("no timed pass succeeded")
            values = {
                "setup_s": res["first_timed_ms"] / 1000.0 - t_start,
                "pass_s": statistics.median(walls),
                "cold_pass_s": res["cold"]["wall_s"],
                "cpu_s": statistics.median([p["cpu_s"] for p in res["passes"]]),
                "retained_heap_mb": res["retained_heap_mb"],
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in cfg_benchmark()["end_to_end"]}
        return {"correct": not failures, "attempted": attempted, "failed": len(failures),
                "metrics": metrics}
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


def cfg_benchmark() -> dict:
    return json.loads((pathlib.Path.cwd() / "BENCHMARK.json").read_text())


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(settings()["workloads"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--keep", action="store_true", help="keep the run directory (JVM log, dumps)")
    args = p.parse_args()
    print(json.dumps(run(args)), flush=True)


if __name__ == "__main__":
    main()
