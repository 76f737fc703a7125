"""The repository benchmark: seeded WOD conversion and a registered-query mix.

Usage (from the repository root, or from anywhere)::

    python3 perfbench/run.py --workload archive --seed 1 --seconds 7 --trace 0

One process, one closed-loop client. Spark runs ``local[nproc]`` with as
many shuffle partitions; the only other threads are ``convert()``'s own
pool (``max_concurrent=4``). Every input is generated from ``--seed``
inside a scratch directory under ``.perfbench/`` in the repository root,
which also holds Spark's local dirs, warehouse and Derby home, and which is
removed at exit. The last stdout line is the JSON result; a detailed record
(provenance, per-pass wall and CPU times, problems, spans) goes to
``.perfbench/results/``. See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import gzip
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "wod_ascii_to_parquet_spark_spark"
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import spans  # noqa: E402
import tablegen  # noqa: E402
import wodgen  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
MASTER = f"local[{NPROC}]"
POOL = 4  # convert()'s max_concurrent default
#: The driver heap. The package's own default (``session.BUILD_CONFS``) is
#: 8g; with it, a traced archive run's process tree peaked at 9.0 GB of
#: resident memory, most of it a JVM heap grown into a cap the work never
#: needed, on a 15 GB host that other workloads share. 2g ran every
#: workload without a failure.
DRIVER_MEMORY = "2g"

#: The archive tree: one decode-heavy deep CTD file, large enough to take
#: convert_file's scatter path, in a few geohash3 cells; one write-heavy XBT
#: file of shallow casts spread over about 260 geohash3 cells (one parquet
#: file each); and two small files whose per-file fixed costs dominate.
#: SURF_ALL must publish as SUR_ALL, and it carries one malformed cast, so
#: the error channel runs without re-decoding a large file. Converted alone in a warm JVM at local[4], the deep file's
#: decode (wod_scan to noop) took about half its file-job, and the wide
#: file's write and footer attach together about nine tenths of its own.
ARCHIVE = [
    wodgen.FileSpec("CTD", "OBS", "CTDO1971.gz", 600, 8, (150, 300), wodgen.CTD_VARS, 0),
    wodgen.FileSpec("XBT", "OBS", "XBTO1967.gz", 600, 300, (5, 40), wodgen.XBT_VARS, 0),
    wodgen.FileSpec("CTD", "STD", "CTDS1967.gz", 30, 4, (10, 30), wodgen.CTD_VARS, 0),
    wodgen.FileSpec("SUR", "OBS", "SURF_ALL.gz", 40, 4, (1, 1), (1, 2), 1),
]
DEEP, WIDE = "CTDO1971.gz", "XBTO1967.gz"

#: Registered queries of the query mix: relational ones and an LLM-ops
#: one, each with a DuckDB oracle. The WOD queries are left out: they read
#: fixed reference files.
QUERIES = [
    "flagship_regional_revenue",
    "q18_large_orders",
    "agg_group_sum_avg",
    "window_multi",
    "join_asof",
    "json_variant_extract",
]
QUERY_SF = 0.01
#: A run makes one warm pass per this many of --seconds, at least one. A
#: run also pays a JVM start and a cold pass, which on the 4-vCPU host the
#: benchmark was built on took from 15 s to 40 s by the host's speed; one
#: warm pass at --seconds 10 keeps a run within about a minute.
SECONDS_PER_PASS = 10.0
#: SQL metrics read from the SQL status store in traced passes.
SQL_METRICS = ("sort time", "data returned from Python workers")

E2E = {  # name -> unit
    "setup_s": "s",
    "cold_cpu_s": "s",
    "pass_cpu_s": "s",
    "pass_wall_s": "s",
}
SPARK_KEYS = (
    "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "stages", "tasks",
)
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "registry.load_s": "s",
    "registry.load_calls": "count",
    "wod_format.frame_s_per_mb": "s/MB",
    "wod_format.parse_us_per_cast": "us",
    "wod_format.casts": "count",
    "wod_format.errors": "count",
    "wod_ascii.scan_s": "s",
    "wod_ascii.exchange_bytes": "bytes",
    "wod_ascii.python_bytes_returned": "bytes",
    "convert.plan_s": "s",
    "convert.s": "s",
    "convert.casts_per_s": "1/s",
    "convert.files_per_s": "1/s",
    "convert.write_s": "s",
    "convert.sort_s": "s",
    "convert.error_channel_s": "s",
    "convert.sidecar_s": "s",
    "convert.dirs_written": "count",
    "convert.out_files": "count",
    "convert.out_bytes_per_raw_byte": "ratio",
    "convert.filejob_p50_s": "s",
    "convert.filejob_max_s": "s",
    **{
        f"convert.{tag}_{part}_s": "s"
        for tag in ("deep", "wide")
        for part in ("filejob", "write", "error_channel", "footer", "fs", "unattributed")
    },
    "convert.filejob_unattributed_share": "ratio",
    "convert.pool_util": "ratio",
    "convert.resume_s": "s",
    "convert.skip_s_per_file": "s",
    "geo_metadata.attach_s": "s",
    "geo_metadata.files_patched": "count",
    "filesystem.calls": "count",
    "filesystem.s": "s",
    "compact.s": "s",
    "compact.files_before": "count",
    "compact.files_after": "count",
    "compact.bytes": "bytes",
    "compact.input_bytes": "bytes",
    **{
        f"query.{q}.{m}": u
        for q in QUERIES
        for m, u in (("plan_s", "s"), ("exec_s", "s"), ("shuffle_bytes", "bytes"))
    },
    **{
        f"spark.{k}": ("s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count")
        for k in SPARK_KEYS
    },
    "process.peak_rss_mb": "MB",
    "process.python_workers": "count",
    "process.cpu_driver_s": "s",
    "process.cpu_jit_s": "s",
    "process.cpu_gc_s": "s",
    "process.cpu_jvm_s": "s",
    "process.cpu_workers_s": "s",
    "process.cold_jit_s": "s",
    "wall.cold_s": "s",
    "wall.pass_s": "s",
    "wall.steal_share": "ratio",
    "wall.calib_s": "s",
    "trace.pass_cpu_s": "s",
    "trace.overhead_cpu_s": "s",
    "trace.overhead_share": "ratio",
}


# -- process plumbing ---------------------------------------------------------


def scratch_env(work: str) -> dict[str, str]:
    """Environment that keeps every Spark and Python-worker file in ``work``
    and lets the workers import the package from the repository root."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env.pop("SPARK_GRAFT_CONVERT_REBALANCE", None)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return env


def start_spark(work: str):
    """``session.get_spark`` + ``registry.load_all_operators``, timed,
    with the hypervisor's steal share over the two and the host's speed
    (:func:`calibrate`) around them."""
    cal = calibrate()
    ticks = cpu_ticks()
    t0 = time.perf_counter()
    from wod_ascii_to_parquet_spark_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=NPROC,
        extra_confs={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # fixed compiler threads never exit, so Meter can read the
            # JIT's CPU time from them
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={work} -Djava.io.tmpdir={work}/tmp"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    t1 = time.perf_counter()
    from wod_ascii_to_parquet_spark_spark.registry import load_all_operators

    queries = load_all_operators()
    t2 = time.perf_counter()
    steal = busy_steal_share(ticks, cpu_ticks())
    cal = (cal + calibrate()) / 2
    return spark, queries, {
        "start_s": t1 - t0, "import_s": t2 - t1, "steal": steal, "calib": cal,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as fh:
        stat = fh.read()
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


def process_tree() -> list[tuple[int, str, int, int]]:
    """(pid, command name, RSS bytes, CPU ticks) of this process and all
    its descendants: the JVM and Spark's Python workers. CPU ticks are
    user + system time including reaped children's, so a Python worker
    that has exited still counts through its parent."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            name, fields = _stat(f"/proc/{entry}/stat")
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        procs[int(entry)] = (name, int(fields[21]) * PAGE, sum(int(f) for f in fields[11:15]))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append((pid, *procs[pid]))
        todo.extend(children.get(pid, ()))
    return out


PROCESS_PARTS = ("driver", "jvm", "workers")
#: Thread-name prefixes, as /proc truncates them, of the JVM's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu() -> dict[str, float]:
    """CPU seconds used so far by this process tree: the Python driver,
    the JVM, and the rest (Spark's Python workers), plus ``jit``, the part
    of ``jvm`` its JIT compiler threads used. It counts only time the
    processes ran, so it moves less with the host's load than wall time."""
    out = dict.fromkeys((*PROCESS_PARTS, "jit"), 0.0)
    for i, (pid, name, _, cpu) in enumerate(process_tree()):
        out["driver" if i == 0 else "jvm" if name == "java" else "workers"] += cpu * TICK
        if name != "java":
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                thread, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if thread.startswith(JIT_THREADS):
                out["jit"] += sum(int(f) for f in fields[11:13]) * TICK
    return out


class Meter:
    """Process-tree CPU seconds over a stretch of code, with the JVM's own
    account of its GC pauses (``gc``, wall seconds inside ``jvm``)."""

    def __init__(self, spark):
        self.mf = spark._jvm.java.lang.management.ManagementFactory

    def read(self) -> dict[str, float]:
        out = tree_cpu()
        out["gc"] = sum(
            b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans()
        ) / 1e3
        return out

    def since(self, before: dict[str, float]) -> dict[str, float]:
        return {k: v - before[k] for k, v in self.read().items()}


def work_cpu(cpu: dict[str, float]) -> float:
    """Process-tree CPU seconds less the JIT compiler threads': the JIT's
    share varies by tens of percent from run to run with compile-queue
    timing, and it is the JVM warming itself up, not work the package
    asked for. It is reported on its own (``process.cpu_jit_s``)."""
    return sum(cpu.get(k, 0.0) for k in PROCESS_PARTS) - cpu.get("jit", 0.0)


class RssSampler:
    """Peak summed RSS of this process tree, sampled from /proc, and the
    most Python workers seen at once."""

    def __init__(self, period: float = 0.25):
        self.period, self.peak, self.workers = period, 0, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        tree = process_tree()
        self.peak = max(self.peak, sum(rss for _, _, rss, _ in tree))
        # pyspark.daemon and its workers; the driver itself is python too
        self.workers = max(
            self.workers, sum(n.startswith("python") for _, n, _, _ in tree) - 1
        )

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def provenance(seed: int) -> dict:
    import pyarrow
    import pyspark

    rev = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or rev
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {
        "nproc": NPROC,
        "master": MASTER,
        "pool": POOL,
        "driver_memory": DRIVER_MEMORY,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_rev": rev,
        "package_sha1": package_sha1(),
        "seed": seed,
    }


def package_sha1() -> str:
    """Hash of the package's sources: identifies the code under test where
    the checkout is not a git repository."""
    h = hashlib.sha1()
    for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return fh.read().strip()


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by the hypervisor in between:
    a run with much steal is not comparable with one without."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


#: What :func:`calibrate` read on the 4-vCPU host the benchmark was built
#: on, in a fast spell. End-to-end times are scaled to that speed.
REF_CALIB_S = 0.055


def calibrate() -> float:
    """CPU seconds of a fixed pure-Python loop on this thread, the best of
    five: the host's single-core speed at the moment. Thread CPU time
    leaves out the time the thread waited for other threads or for the
    hypervisor, so what is left moves with the speed of the core itself."""
    best = float("inf")
    for _ in range(5):
        t0 = time.thread_time()
        x = 0
        for i in range(1_000_000):
            x += i * i
        best = min(best, time.thread_time() - t0)
    return best


def busy_steal_share(before: list[int], after: list[int]) -> float:
    """Share of the time the virtual CPUs wanted to run in between that
    the hypervisor stole: steal over busy plus steal ticks. A vCPU that is
    stolen from for this share of its time runs by it slower."""
    delta = [b - a for a, b in zip(before, after)]
    busy = delta[0] + delta[1] + delta[2] + delta[5] + delta[6]
    return delta[7] / max(1, busy + delta[7])


# -- archive workload -----------------------------------------------------------


class Archive:
    """One pass: a pooled ``convert()`` over a generated tree, then an
    all-skip resume ``convert()`` over the same output. The cold pass is
    ``convert_file`` of the deep file alone, as one grid-mode job runs it
    in a fresh JVM."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.meter = Meter(spark)
        self.src = os.path.join(work, "wod")
        self.infos = wodgen.write_tree(ARCHIVE, self.src, seed)
        self.raw = sum(i.raw_bytes for i in self.infos)
        self.casts = sum(i.ok_casts + len(i.bad_cast_numbers) for i in self.infos)
        self.passes: list[dict] = []
        self.last_out = ""
        self.compaction: dict[str, float] = {}

    def inputs(self) -> dict:
        return {
            "files": len(self.infos),
            "casts": self.casts,
            "raw_bytes": self.raw,
            "gz_bytes": sum(i.gz_bytes for i in self.infos),
            "geohash3_cells": {os.path.basename(i.path): len(i.cells) for i in self.infos},
            # convert_file scatters the decode of files of 256 KiB and more
            "scatter": [os.path.basename(i.path) for i in self.infos if i.gz_bytes >= 256 * 1024],
            "malformed": {
                os.path.basename(i.path): i.bad_cast_numbers
                for i in self.infos if i.bad_cast_numbers
            },
        }

    def sample_check(self) -> list[str]:
        problems = [
            f"{i.path}: generated records disagree with parse_cast"
            for i in self.infos if wodgen.check_sample(i)
        ]
        if DEEP not in self.inputs()["scatter"]:
            problems.append(f"{DEEP} is too small for the scatter path")
        return problems

    def cold_pass(self):
        from wod_ascii_to_parquet_spark_spark.plans import convert as C

        out = os.path.join(self.work, "cold")
        deep = next(i for i in self.infos if i.path.endswith(DEEP))
        (task,) = C.plan_tasks(
            self.src, out, (deep.dataset,), (deep.level,), (DEEP,), spark=self.spark
        )
        c0 = self.meter.read()
        t0 = time.perf_counter()
        status = C.convert_file(self.spark, task)
        secs = time.perf_counter() - t0
        cpu = self.meter.since(c0)
        self.passes.append({"convert_s": secs, "file": DEEP, "traced": False})

        def check() -> list[str]:
            problems = [] if status == "converted" else [f"cold convert_file: {status}"]
            return problems + checks.check_file_output(out, deep)

        return secs, cpu, check

    def one_pass(self, k: int, counters=None):
        """One pass: its wall seconds, its process tree's CPU seconds, and
        the untimed check of its outputs, returning the problems found."""
        if k == 0:
            return self.cold_pass()
        from wod_ascii_to_parquet_spark_spark.plans import convert as C

        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        out = self.last_out = os.path.join(self.work, f"out{k}")
        levels = ("OBS", "STD")
        c0 = self.meter.read()
        t0 = time.perf_counter()
        first = C.convert(self.spark, self.src, out, levels=levels, max_concurrent=POOL)
        t1 = time.perf_counter()
        again = C.convert(self.spark, self.src, out, levels=levels, max_concurrent=POOL)
        t2 = time.perf_counter()
        cpu = self.meter.since(c0)
        files, nbytes, dirs = checks.output_counts(out)
        self.passes.append({
            "convert_s": t1 - t0, "resume_s": t2 - t1,
            "out_files": files, "out_bytes": nbytes, "dirs": dirs,
            "traced": bool(self.tracer and self.tracer.enabled),
        })

        def check() -> list[str]:
            problems = []
            if len(first.converted) != len(self.infos) or first.failed:
                problems.append(
                    f"convert: {len(first.converted)} of {len(self.infos)} converted"
                )
            if again.converted or len(again.skipped) != len(self.infos):
                problems.append(f"resume converted {len(again.converted)} files")
            for info in self.infos:
                problems += checks.check_file_output(out, info)
            return problems

        return t2 - t0, cpu, check

    def compact(self, counters) -> list[str]:
        """``compact_convert_output`` over the last pass's output, traced.

        Run once, in the traced run only: one compaction costs more than a
        whole convert pass on four cores, so it stays out of the timed
        passes."""
        from wod_ascii_to_parquet_spark_spark.plans import convert as C

        self.tracer.enabled, self.tracer.run = True, -1
        mark = counters.mark()
        t0 = time.perf_counter()
        stats = C.compact_convert_output(self.spark, self.last_out)
        secs = time.perf_counter() - t0
        self.tracer.enabled = False
        self.compaction = {
            "compact.s": secs,
            "compact.files_before": sum(s["files_before"] for s in stats.values()),
            "compact.files_after": sum(s["files_after"] for s in stats.values()),
            "compact.bytes": sum(s["bytes_total"] for s in stats.values()),
            "compact.input_bytes": counters.stages_since(mark)["input_bytes"],
        }
        return checks.check_compacted(self.last_out, sum(i.ok_casts for i in self.infos))

    def layers(self, traced: list[int], marks) -> dict[str, float]:
        """Per-layer numbers: medians over the traced passes."""
        tr = self.tracer
        m: dict[str, list[float]] = {}

        def add(key, value):
            m.setdefault(key, []).append(float(value))

        for run in traced:
            p = self.passes[run]
            jobs = [s for s in tr.spans if s.run == run and s.name.startswith("convert.filejob")]
            real = [s for s in jobs if s.value == 1.0]  # converted, not skipped
            walls = sorted(s.end - s.start for s in real)
            add("convert.s", p["convert_s"])
            add("convert.casts_per_s", self.casts / p["convert_s"])
            add("convert.files_per_s", len(self.infos) / p["convert_s"])
            add("convert.plan_s", tr.total("convert.plan", run))
            add("convert.write_s", tr.total("convert.write", run))
            add("convert.error_channel_s", tr.total("convert.error_channel", run))
            add("convert.sidecar_s", tr.total("convert.sidecar", run))
            add("convert.dirs_written", p["dirs"])
            add("convert.out_files", p["out_files"])
            add("convert.out_bytes_per_raw_byte", p["out_bytes"] / self.raw)
            add("convert.filejob_p50_s", statistics.median(walls))
            add("convert.filejob_max_s", walls[-1])
            add(
                "convert.filejob_unattributed_share",
                sum(tr.self_time(s) for s in real) / sum(walls),
            )
            add("convert.pool_util", sum(walls) / (p["convert_s"] * POOL))
            add("convert.resume_s", p["resume_s"])
            add("convert.skip_s_per_file", p["resume_s"] / len(self.infos))
            add("geo_metadata.attach_s", tr.total("geo_metadata.attach", run))
            add(
                "geo_metadata.files_patched",
                sum(s.value or 0 for s in tr.of("geo_metadata.attach", run)),
            )
            fs_spans = tr.of("filesystem", run) + tr.of("convert.sidecar", run)
            add("filesystem.calls", len(fs_spans))
            add("filesystem.s", sum(s.end - s.start for s in fs_spans))
            stage, sql = marks[run]
            add("convert.sort_s", sql.get("sort time", 0.0))
            for k in SPARK_KEYS:
                add(f"spark.{k}", stage[k])
        return {k: statistics.median(v) for k, v in m.items()}

    def solo_jobs(self) -> tuple[dict[str, float], list[str]]:
        """The deep and the wide file, each converted alone by
        ``convert_file`` in the warm JVM, traced: their file-job's wall
        time split over its child spans, without the other files of a
        pooled pass competing for the cores. What the child spans leave
        uncovered (plan build and driver-side bookkeeping; the decode runs
        inside the write's job) is ``unattributed``. Also returns the
        problems the output checks found."""
        from wod_ascii_to_parquet_spark_spark.plans import convert as C

        tr = self.tracer
        out = os.path.join(self.work, "solo")
        layers, problems = {}, []
        for run, (tag, name) in enumerate((("deep", DEEP), ("wide", WIDE)), start=-3):
            info = next(i for i in self.infos if i.path.endswith(name))
            (task,) = C.plan_tasks(
                self.src, out, (info.dataset,), (info.level,), (name,), spark=self.spark
            )
            tr.enabled, tr.run = True, run
            status = C.convert_file(self.spark, task)
            tr.enabled = False
            if status != "converted":
                problems.append(f"{name} alone: {status}")
            problems += checks.check_file_output(out, info)
            (job,) = [s for s in tr.spans if s.run == run and s.name.startswith("convert.filejob")]
            kids = [s for s in tr.spans if s.parent == job.id]

            def of(*names):
                return sum(s.end - s.start for s in kids if s.name in names)

            for part, secs in {
                "filejob": job.end - job.start,
                "write": of("convert.write"),
                "error_channel": of("convert.error_channel"),
                "footer": of("geo_metadata.attach"),
                "fs": of("filesystem", "convert.sidecar"),
                "unattributed": tr.self_time(job),
            }.items():
                layers[f"convert.{tag}_{part}_s"] = secs
        shutil.rmtree(out, ignore_errors=True)
        return layers, problems

    def decode_layers(self, spark, counters) -> dict[str, float]:
        """Driver-side decode of the tree's own text, and the deep file's
        ``wod_scan`` (scatter path) to a noop sink."""
        from wod_ascii_to_parquet_spark_spark.sources import wod_format as W
        from wod_ascii_to_parquet_spark_spark.sources.wod_ascii import wod_scan

        frame_s = parse_s = 0.0
        casts = errors = 0
        mb = 0.0
        for info in self.infos:
            with gzip.open(info.path, "rt") as fh:
                text = fh.read()
            mb += len(text) / 1e6
            t0 = time.perf_counter()
            records = list(W.split_records(text))
            t1 = time.perf_counter()
            for rec in records:
                try:
                    W.parse_cast(rec, info.dataset)
                except W.WodFormatError:
                    errors += 1
            parse_s += time.perf_counter() - t1
            frame_s += t1 - t0
            casts += len(records)
        deep = next(i for i in self.infos if i.path.endswith(DEEP))
        mark = counters.mark()
        t0 = time.perf_counter()
        wod_scan(spark, deep.path, dataset=deep.dataset, scatter=True).write.format(
            "noop"
        ).mode("overwrite").save()
        scan_s = time.perf_counter() - t0
        stages = counters.stages_since(mark)
        sql = counters.sql_metrics_since(mark, SQL_METRICS)
        return {
            "wod_format.frame_s_per_mb": frame_s / mb,
            "wod_format.parse_us_per_cast": parse_s / casts * 1e6,
            "wod_format.casts": casts,
            "wod_format.errors": errors,
            "wod_ascii.scan_s": scan_s,
            "wod_ascii.exchange_bytes": stages["shuffle_write_bytes"],
            "wod_ascii.python_bytes_returned": sql.get(
                "data returned from Python workers", 0.0
            ),
        }


# -- query-mix workload ---------------------------------------------------------


class QueryMix:
    """The listed registered queries at a small scale factor, each built
    with ``fn(spark, sf_dir)`` and run to a noop sink, cache cleared in
    between. The cold pass collects the rows instead, and they are checked
    against DuckDB. After each later pass, untimed, every query is
    collected again and its rows checked against the cold pass's."""

    def __init__(self, spark, queries, work: str, seed: int, tracer):
        self.spark, self.q, self.tracer = spark, queries, tracer
        self.meter = Meter(spark)
        self.dir = os.path.join(work, "tables")
        self.rows = tablegen.write_tables(self.dir, QUERY_SF, seed)
        self.passes: list[dict] = []
        self.cold: dict[str, list[str]] = {}  # canonical rows of the cold pass

    def inputs(self) -> dict:
        return {
            "sf": QUERY_SF,
            "rows": self.rows,
            "bytes": sum(
                os.path.getsize(os.path.join(self.dir, f)) for f in os.listdir(self.dir)
            ),
            "queries": QUERIES,
        }

    def sample_check(self) -> list[str]:
        return [f"query {n} not registered" for n in QUERIES if n not in self.q]

    def one_pass(self, k: int, counters=None):
        spark = self.spark
        per: dict[str, dict] = {}
        frames = {}
        total = 0.0
        c0 = self.meter.read()
        cold: dict[str, list[tuple]] = {}
        for name in QUERIES:
            spark.catalog.clearCache()
            mark = counters.mark() if counters else None
            t0 = time.perf_counter()
            df = frames[name] = self.q[name].fn(spark, self.dir)
            t1 = time.perf_counter()
            if k == 0:
                # the first work in a fresh JVM: collecting rather than
                # sinking to noop costs little beside the JVM's warm-up,
                # and saves running every query again for its check
                cold[name] = [tuple(r) for r in df.collect()]
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            total += t2 - t0
            per[name] = {"plan_s": t1 - t0, "exec_s": t2 - t1}
            if counters:
                per[name]["shuffle_bytes"] = counters.stages_since(mark)[
                    "shuffle_write_bytes"
                ]
        cpu = self.meter.since(c0)
        spark.catalog.clearCache()
        self.passes.append({"per_query": per, "traced": bool(self.tracer and self.tracer.enabled)})

        def check() -> list[str]:
            if k == 0:
                return self.check_cold(cold, {n: df.columns for n, df in frames.items()})
            rows = {}
            for name, df in frames.items():
                spark.catalog.clearCache()
                rows[name] = [tuple(r) for r in df.collect()]
            spark.catalog.clearCache()
            return [
                f"{name}: pass {k} differs from the cold pass"
                for name in QUERIES
                if not checks.same_canonical(checks.canonical(rows[name]), self.cold[name])
            ]

        return total, cpu, check

    def check_cold(self, rows: dict[str, list[tuple]], columns: dict[str, list[str]]) -> list[str]:
        """The cold pass's rows vs DuckDB over the same files; kept as the
        reference the later passes are compared with."""
        import duckdb

        from wod_ascii_to_parquet_spark_spark.registry import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')"
            )
        problems = []
        for name in QUERIES:
            self.cold[name] = checks.canonical(rows[name])
            if not rows[name]:
                problems.append(f"{name}: no rows")
            oracle = self.q[name].oracle
            if not oracle:
                problems.append(f"{name}: no DuckDB oracle")
            elif not checks.same_rows(rows[name], checks.oracle_rows(con, oracle, columns[name])):
                problems.append(f"{name}: differs from the DuckDB oracle")
        con.close()
        return problems

    def layers(self, traced: list[int], marks) -> dict[str, float]:
        m: dict[str, list[float]] = {}
        for run in traced:
            per = self.passes[run]["per_query"]
            for name in QUERIES:
                for key in ("plan_s", "exec_s", "shuffle_bytes"):
                    m.setdefault(f"query.{name}.{key}", []).append(per[name].get(key, 0.0))
            m.setdefault("registry.load_s", []).append(self.tracer.total("registry.load", run))
            m.setdefault("registry.load_calls", []).append(len(self.tracer.of("registry.load", run)))
            stage, _ = marks[run]
            for k in SPARK_KEYS:
                m.setdefault(f"spark.{k}", []).append(stage[k])
        return {k: statistics.median(v) for k, v in m.items()}


# -- driver ---------------------------------------------------------------------


def measure(args, work: str, detail: dict) -> tuple[dict, int, int]:
    os.environ.update(scratch_env(work))
    os.chdir(work)

    # the sampler scans /proc four times a second: traced runs only
    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        spark, queries, own = start_spark(work)
        try:
            run = Run(args, spark, queries, work)
            run.execute()
        finally:
            stop_spark(spark)

    detail.update(
        setup=own,
        inputs=run.wl.inputs(),
        cold_s=run.cold,
        cold_cpu_s=run.cold_cpu,
        passes_s=run.timed,
        passes_cpu_s=run.cpu,
        passes_steal=run.steal,
        checks_s=run.check_s,
        calib_s=run.calib,
        inputs_s=run.inputs_s,
        passes_traced=run.kinds,
        pass_detail=run.wl.passes,
        problems=run.problems,
    )
    if args.trace:
        layers = dict(run.layers)
        layers["session.start_s"] = own["start_s"]
        layers["registry.import_s"] = own["import_s"]
        layers["process.peak_rss_mb"] = rss.peak / 2**20
        layers["process.python_workers"] = rss.workers
        layers["wall.calib_s"] = statistics.median([own["calib"]] + run.calib)
        metrics = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u}
            for k, u in PER_LAYER.items()
        }
        run.tracer.dump(detail["spans_path"])
    else:
        e2e = {
            "setup_s": (own["start_s"] + own["import_s"]) * (1 - own["steal"]),
            "cold_cpu_s": work_cpu(run.cold_cpu),
            "pass_cpu_s": statistics.median(work_cpu(c) for c in run.cpu),
            "pass_wall_s": run.pass_wall(),
        }
        # The host's speed drifts: on the same code, whole runs took up to
        # three times as long in one quarter hour as in the next. In a slow
        # spell the calibration loop read 1.8 times its fast-spell time, and
        # setup, cold and warm-pass times 1.9 to 2.3 times theirs. Every
        # time is scaled to the reference speed by the run's median
        # calibration, which takes out most of that.
        calib = statistics.median([own["calib"]] + run.calib)
        detail.update(unscaled=e2e, host_calib_s=calib)
        metrics = {
            k: {"value": float(e2e[k]) * REF_CALIB_S / calib, "unit": u}
            for k, u in E2E.items()
        }
    return metrics, run.attempted, run.failed


#: The kinds of a traced run's extra passes. With the last warm untraced
#: pass before them they make an untraced, traced, traced, untraced order.
ABBA = (True, True, False)


class Run:
    """One cold pass, then the warm passes ``--seconds`` asks for.

    Every pass is followed by its output checks; a pass that raises or
    fails a check counts as failed. A traced run then adds traced and
    untraced passes that make an ABBA order with the last warm pass, so
    both sides see the same JIT warm-up and host state; the per-layer
    numbers come from the traced ones."""

    def __init__(self, args, spark, queries, work: str):
        self.args, self.spark = args, spark
        self.tracer = self.counters = None
        if args.trace:
            self.tracer = spans.Tracer(args.workload)
            self.tracer.install()
            self.counters = spans.SparkCounters(spark)
        t0 = time.perf_counter()
        if args.workload == "archive":
            self.wl = Archive(spark, work, args.seed, self.tracer)
        else:
            self.wl = QueryMix(spark, queries, work, args.seed, self.tracer)
        self.problems = self.wl.sample_check()
        self.inputs_s = time.perf_counter() - t0
        self.attempted = 1  # the generated inputs' decode sample
        self.failed = bool(self.problems)
        self.marks: dict[int, tuple[dict, dict]] = {}
        self.timed: list[float] = []
        self.cpu: list[dict[str, float]] = []
        self.steal: list[float] = []
        self.check_s: list[float] = []
        self.calib: list[float] = []
        self.kinds: list[bool] = []
        self.layers: dict[str, float] = {}
        self.cold, self.cold_cpu = 0.0, {}

    def one(self, k: int, traced: bool) -> tuple[float, dict[str, float], float]:
        """One pass and its untimed output check: the pass's wall seconds,
        its process tree's CPU seconds, and the hypervisor's steal share."""
        tracer, counters = self.tracer, self.counters if traced else None
        if tracer:
            tracer.enabled, tracer.run = traced, k
        mark = counters.mark() if counters else None
        cal = calibrate()
        ticks = cpu_ticks()
        try:
            secs, cpu, check = self.wl.one_pass(k, counters)
        except Exception as e:  # a failed pass is counted, not fatal
            secs, cpu, check = 0.0, {}, None
            probs = [f"pass {k} raised {type(e).__name__}: {e}"]
        steal = busy_steal_share(ticks, cpu_ticks())
        self.calib.append((cal + calibrate()) / 2)
        if tracer:
            tracer.enabled = False
        if mark is not None:
            self.marks[k] = (
                counters.stages_since(mark),
                counters.sql_metrics_since(mark, SQL_METRICS),
            )
        if check is not None:
            t0 = time.perf_counter()
            try:
                probs = check()
            except Exception as e:
                probs = [f"check of pass {k} raised {type(e).__name__}: {e}"]
            self.check_s.append(time.perf_counter() - t0)
        self.attempted += 1
        self.failed += bool(probs)
        self.problems.extend(probs)
        return secs, cpu, steal

    def pass_wall(self) -> float:
        """Median warm-pass wall time less the hypervisor's steal: each
        pass's wall seconds times the share of its busy CPU time that was
        not stolen."""
        return statistics.median(w * (1 - s) for w, s in zip(self.timed, self.steal))

    def execute(self) -> None:
        self.cold, self.cold_cpu, _ = self.one(0, traced=False)
        # A fixed number of warm passes per --seconds, not a deadline: the
        # JVM is still warming up over the first passes, so a deadline
        # would average over more or less warm-up depending on host speed.
        # A traced run makes the same passes, then the ABBA ones.
        n = max(1, round(self.args.seconds / SECONDS_PER_PASS))
        order = [False] * n + (list(ABBA) if self.args.trace else [])
        for k, traced in enumerate(order, start=1):
            secs, cpu, steal = self.one(k, traced)
            self.kinds.append(traced)
            self.timed.append(secs)
            self.cpu.append(cpu)
            self.steal.append(steal)
        if not self.args.trace:
            return
        abba = list(zip(self.cpu[n - 1 :], self.kinds[n - 1 :]))
        with_spans = statistics.median(work_cpu(c) for c, t in abba if t)
        without = statistics.median(work_cpu(c) for c, t in abba if not t)
        self.layers.update(
            self.wl.layers([i + 1 for i, t in enumerate(self.kinds) if t], self.marks)
        )
        if isinstance(self.wl, Archive):
            probs = self.wl.compact(self.counters)
            self.attempted += 1
            self.failed += bool(probs)
            self.problems.extend(probs)
            self.layers.update(self.wl.compaction)
            solo, probs = self.wl.solo_jobs()
            self.attempted += 1
            self.failed += bool(probs)
            self.problems.extend(probs)
            self.layers.update(solo)
            self.layers.update(self.wl.decode_layers(self.spark, self.counters))
        # the passes the untraced run would have measured
        for part in ("driver", "jit", "gc", "jvm", "workers"):
            self.layers[f"process.cpu_{part}_s"] = statistics.median(
                c.get(part, 0.0) for c in self.cpu[:n]
            )
        self.layers["process.cold_jit_s"] = self.cold_cpu.get("jit", 0.0)
        self.layers["wall.cold_s"] = self.cold
        self.layers["wall.pass_s"] = statistics.median(self.timed[:n])
        self.layers["wall.steal_share"] = statistics.median(self.steal[:n])
        self.layers["trace.pass_cpu_s"] = with_spans
        self.layers["trace.overhead_cpu_s"] = with_spans - without
        self.layers["trace.overhead_share"] = (with_spans - without) / without
        self.tracer.uninstall()


def remove_stale_work(base: str) -> None:
    """Remove the scratch directories of earlier runs that were killed
    before they could clean up: those whose process no longer exists."""
    for name in os.listdir(base):
        if not (name.startswith("work-") and name[5:].isdigit()):
            continue
        try:
            os.kill(int(name[5:]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except PermissionError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("archive", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package next to perfbench/", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    results = os.path.join(base, "results")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    remove_stale_work(base)
    os.makedirs(work, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    prov = provenance(args.seed)
    detail = {
        "workload": args.workload,
        "provenance": prov,
        "loadavg_before": loadavg(),
        "cpu_ticks_before": cpu_ticks(),
        "spans_path": os.path.join(results, f"{tag}-spans.json"),
    }
    cwd = os.getcwd()
    try:
        metrics, attempted, failed = measure(args, work, detail)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    detail["loadavg_after"] = loadavg()
    detail["cpu_steal_share"] = steal_share(detail.pop("cpu_ticks_before"), cpu_ticks())
    detail["metrics"] = metrics
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({
        k: detail[k]
        for k in ("provenance", "inputs", "loadavg_before", "loadavg_after", "cpu_steal_share")
    }, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
