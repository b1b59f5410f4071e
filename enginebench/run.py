#!/usr/bin/env python3
"""The engine's benchmark: one workload, one run.

    python3 enginebench/run.py --workload catalog|pipeline \\
        --seed N --seconds S --trace 0|1 [--tiny] [--keep]

Run from the root of a checkout. It builds the engine and the
benchmark's JVM side (build.py), makes the workload's inputs from the
seed (inputs.py), runs set-up and the timed phase in one JVM, checks
every output (checks.py), and prints as its last line one JSON object:
`correct`, `attempted`, `failed` and the metrics -- the end-to-end ones
with `--trace 0`, the per-layer ones with `--trace 1`. The lines before
it stamp the machine and count ops by kind.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T0 = time.time()
BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("catalog", "pipeline")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
HEAP = "3g"


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    """/proc/loadavg, and the CPU and IO pressure lines where the kernel
    has them: shared machines change speed with their neighbours' load."""
    out = []
    for f in ("/proc/loadavg", "/proc/pressure/cpu", "/proc/pressure/io"):
        try:
            out.append(Path(f).read_text().strip().replace("\n", "; "))
        except OSError:
            pass
    return " | ".join(out)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                              capture_output=True, text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(workload, run_dir, seconds, trace):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_DIRS=str(tmp))
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
              "-cp", build.classpath(), "graft.bench.BenchMain",
              "--workload", workload, "--run-dir", str(run_dir),
              "--seconds", str(seconds), "--trace", str(trace),
              "--t0-ms", str(int(T0 * 1000))])
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"JVM timed out; log: {run_dir / 'jvm.log'}")
    if code != 0:
        tail = (run_dir / "jvm.log").read_text().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"JVM exited with {code}")
    result = json.loads((run_dir / "result.json").read_text())
    result["run_dir"] = str(run_dir / workload)
    return result


def percentile(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def end_to_end(result):
    ok = [op["ms"] for op in result["ops"] if op["ok"]]
    if not ok:
        raise SystemExit("no op succeeded")
    return {
        "setup_s": {"value": result["setup_s"], "unit": "s"},
        "ops_per_s": {"value": len(ok) / (result["timed_ms"] / 1000.0), "unit": "1/s"},
        "op_p50_ms": {"value": statistics.median(ok), "unit": "ms"},
        "op_p95_ms": {"value": percentile(ok, 95), "unit": "ms"},
        "live_heap_mb": {"value": result["live_heap_mb"], "unit": "MB"},
    }


def per_layer(result, units):
    layers = result["extra"]["layers"]
    return {name: {"value": layers[name], "unit": unit}
            for name, unit in units.items() if name in layers}


def evaluate(workload, result, expect, trace, corrupt=None):
    """Check the outputs, then compute the metrics of the ops that
    passed. Returns the result line."""
    problems = checks.CHECKS[workload](result, expect, corrupt)
    ops = result["ops"]
    bad = [op for op in ops if not op["ok"]]
    for p in problems + [f"{op['kind']} {op['key']}: {op['error']}" for op in bad][:10]:
        print(p, file=sys.stderr)
    wrong = problems or any(op["error"].startswith("check:") for op in bad)
    if trace:
        spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())["per_layer"]
        metrics = per_layer(result, {m["name"]: m["unit"] for m in spec})
    else:
        metrics = end_to_end(result)
    return {"correct": not wrong, "attempted": len(ops), "failed": len(bad),
            "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the tests")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args(argv)

    build.build(quiet=True)
    # set-up is timed from here: compiling the program is not part of it
    global T0
    T0 = time.time()
    run_dir = (build.OUT / "runs" /
               f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        # a traced run also probes the other workload (BenchMain), at the
        # tiny size, so that a traced run stays within the run time limit
        for w in WORKLOADS if args.trace else (args.workload,):
            e = inputs.make(w, args.seed, run_dir / w, args.seconds,
                            tiny=args.tiny or w != args.workload)
            (run_dir / w / "expect.json").write_text(json.dumps(e))
        expect = json.loads((run_dir / args.workload / "expect.json").read_text())
        load_before = loadavg()
        result = run_jvm(args.workload, run_dir, args.seconds, args.trace)
        line = evaluate(args.workload, result, expect, args.trace)
        kinds = {}
        for op in result["ops"]:
            k = kinds.setdefault(op["kind"], {"attempted": 0, "failed": 0})
            k["attempted"] += 1
            k["failed"] += 0 if op["ok"] else 1
        print(json.dumps({"stamps": dict(
            result["stamps"], nproc=nproc(), commit=commit(), seed=args.seed,
            workload=args.workload, trace=args.trace, seconds=args.seconds,
            loadavg_before=load_before, loadavg_after=loadavg(), run_dir=str(run_dir)),
            "ops_by_kind": kinds, "rounds": result["extra"]["rounds"],
            # a traced run's own end-to-end figures, for the tracing overhead
            **({"traced_end_to_end": end_to_end(result)} if args.trace else {})}))
        print(json.dumps(line))
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
