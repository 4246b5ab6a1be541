"""Process-level plumbing shared by the untraced and traced runs: the
environment, Spark sessions that really end, the timed job loop and the
memory reading.

Everything the benchmark and the engine write lands under
``perfbench/.work`` of the checkout: Spark's local dirs, the JVM and
Python temp dirs, inputs, outputs and event logs.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
WARMUP_JOBS = 3


def init_environment() -> None:
    """Point every temp and scratch dir into the checkout and put the
    checkout on the workers' import path; must run before the first JVM
    starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def load_job():
    """The production entry point, or exit before any work when the
    checkout does not hold the program."""
    try:
        from jobs import extract_job
        import p_id_text_extraction_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found in {ROOT}: {e}", file=sys.stderr)
        raise SystemExit(2) from e
    return extract_job


def strategy_args(extract_job) -> list[str]:
    """``--strategy fused`` while the job still offers that option (the
    fused path is the production path); nothing once it is gone."""
    probe = ["--input", "i", "--output", "o", "--manifest", "m", "--strategy", "fused"]
    try:
        with contextlib.redirect_stderr(io.StringIO()):
            extract_job.parse_args(probe)
    except SystemExit:
        return []
    return ["--strategy", "fused"]


def identity_batches(batches):
    """mapInPandas body that returns its input unchanged."""
    yield from batches


def start_session(cores: int, extra: dict | None = None):
    """Start a session as ``extract_job`` does and run its first job.

    Returns (session, set-up seconds): from the ``get_spark`` call until
    an identity ``mapInPandas`` over ``cores`` partitions has finished,
    i.e. JVM start, context start and Python worker boot."""
    from p_id_text_extraction_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(app="extract_job", cores=cores, extra=extra)
    try:
        spark.range(cores, numPartitions=cores).mapInPandas(identity_batches, "id long").collect()
    except BaseException:
        stop_session(spark)
        raise
    return spark, time.perf_counter() - t0


def open_session(wl, cores: int):
    """Build or load the workload's input and start the measured session.

    Returns (session, set-up seconds).  An input that needs Spark to build
    (the Iceberg one, on a cache miss) is built in the measured session
    right after its timed start: a run pays one JVM start, not two, and
    the build jobs only add to the warm-up that follows either way."""
    opened = []

    def session():
        if not opened:
            opened.append(start_session(cores))
        return opened[0][0]

    try:
        wl.prepare(session)
        session()
    except BaseException:
        if opened:
            stop_session(opened[0][0])
        raise
    return opened[0]


def warm_up(extract_job, spark, wl, argv: list[str]) -> None:
    """Untimed, unchecked jobs that fill the codegen cache, boot the
    Python workers and let the JIT settle before anything is timed.  Jobs
    the input build already ran in the session count towards them."""
    for _ in range(WARMUP_JOBS - wl.build_jobs):
        run_job(extract_job, spark, wl, argv, check=False)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: on a shared virtual machine the
    share of steal over an interval says how much the host took away."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_pct(since: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return 100.0 * (steal - since[0]) / max(1, total - since[1])


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (the JVM, the Python daemon and
    its workers)."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def peak_rss_mb(pid: int) -> tuple[float, float]:
    """Peak resident set (``VmHWM``) in MB of the JVM ``pid`` and, summed,
    of the rest of its process tree (the Python daemons and workers)."""
    kb = []
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                kb.append(next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")))
        except (OSError, StopIteration):
            kb.append(0)
    return kb[0] / 1024.0, sum(kb[1:]) / 1024.0


def stop_session(spark) -> None:
    """Stop the session, end its JVM and wait until the JVM and its
    Python workers have exited, so the next ``start_session`` pays a full
    JVM start again."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    tree = process_tree(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    for p in tree:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


def stop_resource_tracker() -> None:
    """A spawn-context process pool starts multiprocessing's resource
    tracker, a helper process that would outlive the benchmark by a moment.
    Once the pool and its locks are gone, close the tracker's pipe and wait
    until it has exited; a later lock would start a new one."""
    import gc
    from multiprocessing import resource_tracker
    gc.collect()
    resource_tracker._resource_tracker._stop()


def _last_json(text: str) -> dict:
    for line in reversed(text.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    return {}


def run_job(extract_job, spark, wl, argv: list[str], check: bool = True) -> dict:
    """One ``extract_job.main`` call from the workload's start state.
    Only the call is timed; the reset before and the gate after are not."""
    wl.reset()
    buf = io.StringIO()
    start = time.time()
    t0 = time.perf_counter()
    try:
        with contextlib.redirect_stdout(buf):
            rc = extract_job.main(argv, spark=spark)
        errors = [] if rc == 0 else [f"exit code {rc}"]
    except Exception as e:  # noqa: BLE001 - a failed run is counted, not fatal
        errors = [f"{type(e).__name__}: {e}"]
    wall = time.perf_counter() - t0
    result = _last_json(buf.getvalue())
    if check and not errors:
        try:
            errors = wl.check(result)
        except Exception as e:  # noqa: BLE001 - unreadable output fails the gate
            errors = [f"gate: {type(e).__name__}: {e}"]
    return {"wall": wall, "start": start, "end": start + wall,
            "result": result, "errors": errors}


def timed_runs(extract_job, spark, wl, argv: list[str], seconds: float) -> list[dict]:
    """Closed loop, one job at a time, until the timed job walls add up to
    ``seconds`` (at least one run)."""
    runs: list[dict] = []
    while not runs or sum(r["wall"] for r in runs) < seconds:
        runs.append(run_job(extract_job, spark, wl, argv))
        if runs[-1]["errors"]:
            print(f"perfbench: run failed: {runs[-1]['errors']}", file=sys.stderr)
    return runs
