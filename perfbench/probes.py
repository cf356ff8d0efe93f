"""Read-only probes of the host, the JVM and Spark, all from outside the
engine package: ``/proc``, JVM MXBeans over py4j, ``statusTracker`` and
bytes on disk. Host steal and load come from ``bench.py``'s
``_cpu_sample``/``_host_noise``."""

from __future__ import annotations

import os
import subprocess
import sys


def provenance(spark, root: str, seed: int) -> dict:
    """Which code, host and toolchain produced a run."""
    import pyspark

    def git(*args: str) -> str | None:
        try:
            r = subprocess.run(["git", *args], cwd=root, capture_output=True, text=True, timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            return None
        return r.stdout.strip() if r.returncode == 0 else None

    sha = git("rev-parse", "HEAD")
    status = git("status", "--porcelain", "--untracked-files=no") if sha else None
    system = spark.sparkContext._jvm.java.lang.System
    return {
        "git_sha": sha,
        "git_dirty": bool(status) if status is not None else None,
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": sys.version.split()[0],
        "seed": seed,
    }


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    live descendant: the driver JVM and its Python workers. Time the
    hypervisor steals from the guest is not charged to any of them."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # fields after the parenthesised command name: state, ppid, ...
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended meanwhile
        children.setdefault(int(fields[1]), []).append(int(entry))
        # utime, stime, and cutime, cstime of children already reaped
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / tick


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def gc_ms(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(b.getCollectionTime(), 0) for b in beans))


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numTasks > 0:
                stages += 1
                tasks += st.numTasks
    return jobs, stages, tasks


def dir_size(path: str, suffix: str = "") -> tuple[int, int]:
    """Bytes and file count under ``path`` for files ending in ``suffix``,
    skipping Hadoop's hidden ``.crc`` and ``_SUCCESS`` markers."""
    nbytes = nfiles = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")) or not f.endswith(suffix):
                continue
            nbytes += os.path.getsize(os.path.join(dirpath, f))
            nfiles += 1
    return nbytes, nfiles
