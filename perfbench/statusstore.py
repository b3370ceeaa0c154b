"""Read Spark's in-process status stores (the UI stays off).

Three stores, all read through py4j after a run's timed region:

* ``SparkContext.statusStore()`` — jobs (group, submit/complete time,
  stage ids), stages (tasks, executor run/CPU/GC time, input rows, shuffle
  bytes, spill) and cached RDD blocks;
* ``SharedState.statusStore()`` — SQL executions. Their metrics finalize
  asynchronously: ``listenerBus().waitUntilEmpty()`` returns before they
  land, so ``settle`` polls ``completionTime().isDefined()`` instead.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

# Raise the status stores' retention so no job or stage of a run is evicted
# before the end-of-run read.
RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    complete_ms: int
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class StatusStore:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._conv = self.jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def settle(self, timeout_s: float = 30.0) -> None:
        """Wait until the listener bus is drained and every SQL execution
        has its completion time, so stage and SQL metrics are final."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1000))
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            pending = [
                e for e in self._list(sql_store.executionsList())
                if not e.completionTime().isDefined()
            ]
            if not pending:
                return
            time.sleep(0.05)
        raise TimeoutError(f"{len(pending)} SQL executions never completed")

    def jobs(self) -> list[Job]:
        out = []
        for j in self._list(self.sc._jsc.sc().statusStore().jobsList(None)):
            if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
                continue
            group = j.jobGroup()
            out.append(Job(
                job_id=j.jobId(),
                group=group.get() if group.isDefined() else None,
                submit_ms=j.submissionTime().get().getTime(),
                complete_ms=j.completionTime().get().getTime(),
                stage_ids=[int(s) for s in self._list(j.stageIds())],
            ))
        return sorted(out, key=lambda j: j.job_id)

    def stages(self) -> dict[int, Stage]:
        """Metrics per stage id, summed over attempts; skipped stages (their
        output reused from an earlier job) are left out."""
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        store = self.sc._jsc.sc().statusStore()
        out: dict[int, Stage] = {}
        for s in self._list(store.stageList(None, False, False, no_quantiles, None)):
            if s.status().toString() == "SKIPPED":
                continue
            st = out.setdefault(s.stageId(), Stage())
            st.tasks += s.numTasks()
            st.run_ms += s.executorRunTime()
            st.cpu_ms += s.executorCpuTime() / 1e6
            st.gc_ms += s.jvmGcTime()
            st.input_rows += s.inputRecords()
            st.shuffle_read_bytes += s.shuffleReadBytes()
            st.shuffle_write_bytes += s.shuffleWriteBytes()
            st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def pinned_bytes(self) -> int:
        """Bytes held by cached or checkpointed RDD blocks right now."""
        rdds = self._list(self.sc._jsc.sc().statusStore().rddList(True))
        return sum(r.memoryUsed() + r.diskUsed() for r in rdds)

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())
