"""The benchmark's command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. Each run starts one fresh Python process
(``perfbench/child.py``) with the checkout root on PYTHONPATH, waits for
it, and prints its one-line JSON result as the last line of standard
output. Everything the run writes stays under ``.perfbench_work/`` in the
checkout, and is removed afterwards except the traced run's spans.

Exit code 0 when every output check passed; 1 when a check failed; 2 when
the checkout does not hold the program or the run did not finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: a run that has not finished by then is stopped and reported as failed
RUN_TIMEOUT_S = 170


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    for needed in ("hcdc_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from the "
                  "root of a checkout of the program", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = env["TMPDIR"]
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.makedirs(env["TMPDIR"])
    cmd = [
        sys.executable, "-m", "perfbench.child",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--t0", repr(t0), "--size", args.size,
    ] + (["--corrupt"] if args.corrupt else [])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        # the finally below kills the child's process group
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        # the child's JVM and Python workers share its process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if not lines:
        print(f"perfbench: no result (exit code {proc.returncode})",
              file=sys.stderr)
        return 2
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0 if result["correct"] and proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
