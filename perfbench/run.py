"""Benchmark entry point: run one workload in a child process and print
its result as the last line of standard output.

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  The run settings (cores, driver heap,
shuffle partitions) are pinned on the command line in BENCHMARK.json so
both sides of an A/B use the same ones.  Everything the run writes
(inputs, Spark local dirs, JVM temp files, sinks, checkpoints) goes
under ``.perfbench_work/`` in the checkout and is removed at the end;
the traced run's span artifact goes to ``.perfbench_out/``.

The workload itself runs in ``worker.py`` in its own process group, so
that the Spark JVM and its Python workers can all be stopped and waited
for when the run ends, whatever state the worker left them in.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("replicate", "headline")
CHILD_TIMEOUT_S = 170

_SPARK_DEFAULTS = """\
spark.local.dir {work}/spark-local
spark.driver.extraJavaOptions -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData
spark.ui.showConsoleProgress false
spark.sql.streaming.numRecentProgressUpdates 1000
"""

_LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stdout.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", default="2")
    p.add_argument("--driver-mem", default="3g")
    p.add_argument("--shuffle-partitions", default="2")
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny inputs, for the self-test only")
    p.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                   help="tamper with one output before checking (self-test)")
    return p.parse_args(argv)


def _prepare_env(work: str, args: argparse.Namespace) -> dict[str, str]:
    conf = os.path.join(work, "conf")
    for d in (conf, os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(_SPARK_DEFAULTS.format(work=work))
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write(_LOG4J)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=args.cpus,
        SPARK_GRAFT_DRIVER_MEM=args.driver_mem,
        SPARK_GRAFT_SHUFFLE_PARTITIONS=args.shuffle_partitions,
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # the launcher JVM that builds the driver's command line
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        PYTHONHASHSEED="0",
    )
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the worker's group and
    wait until none remains."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.05)


def _scratch_entries() -> set[str]:
    """Entries the program's own scratch helper creates under .scratch/."""
    base = os.path.join(ROOT, ".scratch")
    out: set[str] = set()
    if os.path.isdir(base):
        for fam in os.listdir(base):
            p = os.path.join(base, fam)
            out.add(p)
            if os.path.isdir(p):
                out.update(os.path.join(p, e) for e in os.listdir(p))
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds through the finally below, which stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    before = _scratch_entries()
    env = _prepare_env(work, args)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--work", work, *argv]
    last = None
    code = 1
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    timed_out = threading.Event()

    def _expire() -> None:
        timed_out.set()
        print(f"worker exceeded {CHILD_TIMEOUT_S}s; stopping it", file=sys.stderr)
        _stop_group(proc.pid)

    watchdog = threading.Timer(CHILD_TIMEOUT_S, _expire)
    watchdog.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{") and line.endswith("}"):
                last = line
            else:
                print(line, flush=True)
        code = proc.wait()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        watchdog.cancel()
        watchdog.join()
        _stop_group(proc.pid)
        proc.wait()
        proc.stdout.close()
        shutil.rmtree(work, ignore_errors=True)
        for path in sorted(_scratch_entries() - before, reverse=True):
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.remove(path)
                except OSError:
                    pass
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if code != 0 or last is None or timed_out.is_set():
        print(f"worker failed with exit code {code}", file=sys.stderr)
        return code or 1
    print(last, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
