"""Entry point of the spark-kd benchmark. From the repository root:

    python3 perfbench/run.py --workload update-mix --seed 1 --seconds 10 --trace 0

Runs bench.py in a child process group whose every scratch location
(Python temp files, Spark local dirs, the JVM temp dir, the event log)
is `.perfbench_work/` in the checkout, waits for it, stops whatever it
left running and removes the work directory. The last line of stdout
is the result JSON of bench.py.

Arguments pass through to bench.py (see its --help). Exits 2 without a
result when the engine package is not in the checkout.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TIMEOUT_S = 170  # a run must end within 180 s, clean-up included


def _stop_group(pgid: int) -> None:
    """SIGTERM the process group, SIGKILL what is left after 10 s, and
    wait until no member remains."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main(argv: list) -> int:
    if not os.path.isfile(os.path.join(ROOT, "kdtree_spark", "index.py")):
        print("run.py: kdtree_spark/ not found in the checkout",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    env = dict(os.environ, PERFBENCH_WORK=WORK, PYTHONDONTWRITEBYTECODE="1")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "bench.py"), *argv],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        print("run.py: benchmark timed out", file=sys.stderr)
        out, rc = "", 124
    finally:
        _stop_group(proc.pid)
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
    print(out, end="", flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
