#!/usr/bin/env python3
"""Run one workload of the deletion-engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source when stale (see build.py),
then runs the workload in one JVM on Spark `local[4]`. Every file the run
creates lives under `.bench_build/perfbench/` in the checkout and the
run's scratch directory is removed before exit. The last line of standard
output is the result JSON: `{"correct", "attempted", "failed", "metrics"}`;
the line before it carries every metric the run measured, including the
workload-specific ones (`read_s_*`, `restore_s_p50`, `op_s_p90`).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["hive_retention_purge", "versioned_erasure_stream",
             "versioned_read_delete_mix", "takedown_fanout"]
JVM_TIMEOUT_S = 165


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # test hook: corrupt the expected-state model from this op on, so the
    # correctness check must report the op as failed
    p.add_argument("--wrong-model-at", type=int, default=-1)
    # print a digest of the generated inputs and exit (determinism check)
    p.add_argument("--digest", action="store_true")
    return p.parse_args(argv)


def jvm_command(classpath, work, args):
    main = ["perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work,
            "--wrong-model-at", str(args.wrong_model_at)]
    if args.trace:
        main += ["--trace-out", os.path.join(
            build.OUT, "traces", f"{args.workload}-{args.seed}.jsonl")]
    if args.digest:
        main.append("--digest")
    return (["java"] + build.java_opts(work) + build.sharing_flags() +
            ["-cp", classpath] + main)


def kill_group(proc):
    """Stop the JVM and anything it started, and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def main(argv):
    args = parse_args(argv)
    classpath = build.build()
    work = build.new_work_dir(f"{args.workload}-{args.seed}-{os.getpid()}")
    proc = subprocess.Popen(jvm_command(classpath, work, args),
                            env=build.java_env(work), stdout=subprocess.PIPE,
                            text=True, cwd=work, start_new_session=True)
    lines = []
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    timer = threading.Timer(JVM_TIMEOUT_S, kill_group, [proc])
    timer.start()
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
        proc.wait()
    finally:
        timer.cancel()
        kill_group(proc)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        sys.stderr.write(f"perfbench: JVM exited with {proc.returncode}\n")
        return 1
    if args.digest:
        print(lines[-1])
        return 0
    detail = [l for l in lines if l.startswith("PERFBENCH_DETAIL ")]
    final = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if not final:
        sys.stderr.write("perfbench: the run printed no result\n")
        return 1
    for l in detail:
        print(l[len("PERFBENCH_DETAIL "):])
    out = json.loads(final[-1][len("PERFBENCH_RESULT "):])
    print(json.dumps(out, separators=(", ", ": ")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
