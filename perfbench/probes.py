"""Measurements taken from outside the program.

Host figures come from /proc. Spark figures come from Spark's own status
store (jobs and stages with their task metrics), its codegen counters and a
Python streaming-query listener. Nothing here changes what a query does.
"""

from __future__ import annotations

import json
import os

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # The command name may hold spaces; the fields after it are positional.
    return raw[raw.rindex(")") + 2 :].split()


def process_cpu_s(pid: int) -> float:
    """User+system CPU-seconds of `pid` plus its reaped children."""
    f = _proc_stat(pid)
    if f is None:
        return 0.0
    return sum(int(x) for x in f[11:15]) / _CLK


def tree_cpu_s(root: int) -> float:
    """CPU-seconds of `root` and every live descendant (Spark's JVM and the
    Python workers it forks)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _proc_stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += process_cpu_s(pid)
        todo.extend(children.get(pid, ()))
    return total


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def _union_s(intervals: list[tuple[int, int]]) -> float:
    busy, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            busy += b - a
            end = b
        elif b > end:
            busy += b - end
            end = b
    return busy / 1000.0


class SparkTracer:
    """Attributes Spark's jobs, stages, task metrics, codegen compiles and
    streaming progress to one query call at a time.

    Job and stage ids are read from the DAG scheduler's counters around each
    phase of a call; their records are read from the status store once the
    listener bus has drained.
    """

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self._spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_task_status = jvm.java.util.ArrayList()
        self.progress: list[dict] = []
        self.started = 0
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {"rows": int(p.numInputRows), "ms": dict(p.durationMs)}
                )

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()

    def attach(self) -> None:
        self._spark.streams.addListener(self._listener)

    def detach(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def mark(self) -> tuple[int, int, int]:
        """(next job id, next stage id, codegen compiles so far)."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId()), int(self._codegen.getCount())

    def _newest(self, seq, n: int) -> list[dict]:
        # Both store views list the newest record first.
        if n <= 0:
            return []
        return json.loads(self._mapper.writeValueAsString(seq.take(n)))

    def collect(self, before, between, after, wall_s: float, n_progress: int, n_started: int) -> dict:
        """Layer figures of one call. `before`/`between`/`after` are marks
        taken before `fn`, between `fn` and the write, and after the write."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        j0, s0, c0 = before
        j1 = between[0]
        j2, s2, c2 = after
        jobs = [j for j in self._newest(self._store.jobsList(None), j2 - j0) if j0 <= j["jobId"] < j2]
        # Retried stages have several attempts; take a margin and filter by id.
        stage_seq = self._store.stageList(None, False, False, self._no_quantiles, self._no_task_status)
        stages = [
            s
            for s in self._newest(stage_seq, s2 - s0 + 16)
            if s0 <= s["stageId"] < s2 and s["status"] in ("COMPLETE", "FAILED")
        ]
        intervals = [
            (j["submissionTime"], j["completionTime"])
            for j in jobs
            if j.get("submissionTime") is not None and j.get("completionTime") is not None
        ]
        busy = _union_s(intervals)
        prog = self.progress[n_progress:]
        add_batch = sum(p["ms"].get("addBatch", 0) for p in prog) / 1000.0
        trigger = sum(p["ms"].get("triggerExecution", 0) for p in prog) / 1000.0
        return {
            "plans.eager_jobs": j1 - j0,
            "exec.materialize_jobs": j2 - j1,
            "spark.jobs": j2 - j0,
            "spark.stages": sum(j["numCompletedStages"] + j["numFailedStages"] for j in jobs),
            "spark.stages_skipped": sum(j["numSkippedStages"] for j in jobs),
            "spark.job_busy_s": busy,
            "spark.driver_gap_s": wall_s - busy,
            "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"] for s in stages),
            "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "spark.task_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "spark.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "sources.input_bytes": sum(s["inputBytes"] for s in stages),
            "sources.input_rows": sum(s["inputRecords"] for s in stages),
            "spark.codegen_compiles": c2 - c0,
            "streaming.queries": self.started - n_started,
            "streaming.batches": len(prog),
            "streaming.input_rows": sum(p["rows"] for p in prog),
            "streaming.add_batch_s": add_batch,
            "streaming.trigger_overhead_s": trigger - add_batch,
        }
