"""Outside-in Spark counters, read from the driver's status store.

Each timed call runs under its own job group, set in the thread that
runs the call's jobs (job groups are thread-local). After the run the
probe maps each group to its jobs and each job to the last attempt of
its stages, and sums the task metrics. It also reads Catalyst phase
times from a DataFrame's query execution, the number of persisted RDDs,
and the driver heap retained after forced collections.
"""

from __future__ import annotations

import gc
import os
import time

COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)
MB = 2**20


class SparkProbe:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._n = 0

    # ------------------------------------------------------------ groups
    def begin(self) -> str:
        """Start a job group in the calling thread; returns its id."""
        gid = f"loombench-{self._n}"
        self._n += 1
        self.sc.setJobGroup(gid, gid)
        return gid

    def end(self) -> None:
        self.sc._jsc.clearJobGroup()

    def _drain(self) -> None:
        # the status store is fed by an asynchronous listener bus
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)

    def counters(self, groups: list[str]) -> list[dict]:
        """Summed task metrics of each job group, in order."""
        self._drain()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = []
        for gid in groups:
            c = dict.fromkeys(COUNTERS, 0.0)
            for jid in tracker.getJobIdsForGroup(gid):
                c["jobs"] += 1
                try:
                    sids = store.job(jid).stageIds()
                except Exception:
                    continue  # evicted from the store
                for i in range(sids.size()):
                    try:
                        st = store.lastStageAttempt(sids.apply(i))
                    except Exception:
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["run_ms"] += st.executorRunTime()
                    c["cpu_ms"] += st.executorCpuTime() / 1e6
                    c["gc_ms"] += st.jvmGcTime()
                    c["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                    c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out.append(c)
        return out

    # ------------------------------------------------------------- misc
    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """Analysis / optimization / planning ms of ``df``'s execution."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)  # scala Option
            out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
        return out

    @staticmethod
    def jvm_cpu_s() -> float:
        """CPU seconds the driver JVM has used, user + system, from
        ``/proc`` (Linux)."""
        from pyspark import SparkContext

        with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def persisted_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    def retained_heap_mb(self, max_rounds: int = 12) -> float:
        """Driver JVM heap in use after forced collections: full GCs
        until three readings in a row agree within 1 MiB (at most
        ``max_rounds``), then the lowest reading. One GC is not enough:
        the context cleaner frees shuffle and broadcast state only once
        a collection has dropped their RDDs, and it runs asynchronously;
        py4j proxies freed by a Python collection release more."""
        jvm = self.spark._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        used: list[float] = []
        for _ in range(max_rounds):
            gc.collect()  # release py4j proxies so the JVM can free their targets
            jvm.java.lang.System.gc()
            time.sleep(0.3)
            used.append((rt.totalMemory() - rt.freeMemory()) / MB)
            if len(used) >= 3 and max(used[-3:]) - min(used[-3:]) < 1.0:
                break
        return min(used)
