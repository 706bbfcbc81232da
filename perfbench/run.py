"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0

Builds the engine from source if needed (perfbench/build.py), then runs
the workload in one JVM with a fresh temp dir, Spark local dir, warehouse
and lake under `.bench_build/runs/`, removed afterwards. The raw run
record (spans included when traced) is kept in `.bench_build/records/`.
The last line of stdout is one JSON object: correct, attempted, failed
and the metrics (the end-to-end metrics, or with --trace 1 the per-layer
ones). The lines before it list every metric with its unit and sample
count. Exits 1 when any output mismatches its expected value, 2 when the
run cannot start.
See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

# workload -> input scale factor (graft.Verify's parity scale is sf0.01)
WORKLOADS = {"lake_ingest": 0.004, "catalog_read": 0.01}
DELIVERIES = 2  # lake_ingest deliveries per round (perfbench.Main.LakeDeliveries)
PREPARES = 3  # input preparations per set-up; setup_s takes their median
DEADLINE_S = 170  # the whole command, build included

# What spark-submit passes on JDK 17 (the list the repo's build.sbt forks with).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def prepare(workload, seed, data_dir):
    """Generate the workload's inputs under data_dir."""
    sf = WORKLOADS[workload]
    if workload == "lake_ingest":
        inputs.write_deliveries(sf, seed, DELIVERIES, data_dir)
    else:
        inputs.write_tables(sf, seed, data_dir)


def jvm_command(classes, run_dir, data_dir, args):
    jars = os.path.join(build.spark_jars(ROOT), "*")
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
    ]
    return ["java"] + opts + [
        "-cp", classes + os.pathsep + jars, "perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace), run_dir,
        os.path.join(run_dir, "record.json"), os.path.join(HERE, "expected.json"), data_dir,
    ] + (["--write-expected", os.path.abspath(args.write_expected)] if args.write_expected else [])


def run_jvm(cmd, run_dir, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        # SPARK_LOCAL_DIRS in the caller's environment would override
        # spark.local.dir and put shuffle files outside the run directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def log_tail(run_dir, n=40):
    try:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", metavar="PATH",
                    help="also compute the expected results over the unsliced inputs")
    args = ap.parse_args()
    t0 = time.monotonic()
    try:
        classes = build.build(ROOT)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        prepare_s = []
        for k in range(PREPARES):
            data_dir = os.path.join(run_dir, "data", f"p{k}")
            t = time.monotonic()
            prepare(args.workload, args.seed, data_dir)
            prepare_s.append(time.monotonic() - t)
            if k < PREPARES - 1:
                shutil.rmtree(data_dir)
        if args.write_expected and args.workload == "lake_ingest":
            inputs.write_tables(WORKLOADS[args.workload], args.seed,
                                os.path.join(data_dir, "all"))
        code = run_jvm(jvm_command(classes, run_dir, data_dir, args), run_dir,
                       max(30, DEADLINE_S - (time.monotonic() - t0)))
        record_path = os.path.join(run_dir, "record.json")
        if code != 0 or not os.path.exists(record_path):
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: JVM {why}\n{log_tail(run_dir)}", file=sys.stderr)
            return 2
        with open(record_path) as f:
            record = json.load(f)
        record["setup"]["prepare_s"] = prepare_s
        keep = os.path.join(ROOT, ".bench_build", "records")
        os.makedirs(keep, exist_ok=True)
        with open(os.path.join(keep, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump(record, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    values, extras, correct, attempted, failed = metrics.summarize(record)
    checked = [("warm", record["setup"]["checks"])] + [
        (r["round"], r["checks"]) for r in record["rounds"]]
    for where, checks in checked:
        for c in checks:
            if not c["ok"]:
                print(f"MISMATCH round {where} {c['name']}: got {c['got']} "
                      f"want {c['want']}", file=sys.stderr)
    for r in record["rounds"]:
        for o in r["ops"]:
            if not o["ok"]:
                print(f"FAILED {o['id']}: {o['error']}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"rounds={len(record['rounds'])}")
    for name, (value, unit, n) in values.items():
        print(f"{name:34s} {value:14.4f} {unit:6s} n={n}")
    for name, text in extras.items():
        print(f"{name:34s} {text}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
