"""Per-op counters read from Spark's status stores.

Two stores answer "where did the op's work go" without the web UI
(both are populated with ``spark.ui.enabled=false``):

- the core ``AppStatusStore`` (``sc._jsc.sc().statusStore()``): jobs,
  their job group, stages and the stages' task metrics;
- the SQL ``SQLAppStatusStore`` (``sharedState().statusStore()``):
  executions, their physical plan graph and the operators' metrics.

The benchmark runs one client, so every job submitted between two
reads belongs to the op in between; the reader still selects jobs by
job group and cross-checks the count with the status tracker.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes_mem": "memoryBytesSpilled",
    "spill_bytes_disk": "diskBytesSpilled",
    "tasks": "numCompleteTasks",
}


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tracker_jobs: int = 0
    stage: dict = field(default_factory=dict)
    # SQL operator name -> summed "number of output rows"
    operator_rows: dict = field(default_factory=dict)


class StatusStoreReader:
    """Reads the counters of each op's job group after the op."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._java = self.jvm.scala.jdk.javaapi.CollectionConverters
        self._next_job = 0
        self._drain()
        self._new_jobs()
        self._next_exec = int(self.sql_store.executionsCount())

    def _new_jobs(self) -> list:
        """Jobs submitted since the last call (job ids are sequential)."""
        jobs = []
        while True:
            try:
                jobs.append((self._next_job, self.store.job(self._next_job)))
            except Py4JJavaError:
                return jobs
            self._next_job += 1

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the op's finished jobs and final metrics."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _seq(self, scala_seq):
        return list(self._java.asJava(scala_seq))

    def read(self, group: str) -> OpCounters:
        self._drain()
        out = OpCounters()
        out.tracker_jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
        job_ids = []
        stage_ids: set[int] = set()
        for jid, job in self._new_jobs():
            grp = job.jobGroup()
            if grp.isDefined() and grp.get() == group:
                job_ids.append(jid)
                stage_ids.update(int(s) for s in self._seq(job.stageIds()))
        out.jobs = len(job_ids)
        sums = dict.fromkeys(_STAGE_FIELDS, 0)
        empty_status = self.jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        for sid in sorted(stage_ids):
            attempts = self._seq(
                self.store.stageData(sid, False, empty_status, False, no_quantiles)
            )
            done = [a for a in attempts if a.status().toString() == "COMPLETE"]
            if not done:
                continue  # skipped: its output was reused from an earlier job
            out.stages += 1
            for a in done:
                for key, getter in _STAGE_FIELDS.items():
                    sums[key] += int(getattr(a, getter)())
        out.stage = sums
        out.operator_rows = self._operator_rows(set(job_ids))
        return out

    def _operator_rows(self, job_ids: set) -> dict:
        """Sum "number of output rows" per physical operator over the SQL
        executions whose jobs belong to the op."""
        rows: dict[str, int] = {}
        count = int(self.sql_store.executionsCount())
        if count <= self._next_exec:
            return rows
        execs = self._seq(
            self.sql_store.executionsList(self._next_exec, count - self._next_exec)
        )
        self._next_exec = count
        for ex in execs:
            ex_jobs = {int(j) for j in self._java.asJava(ex.jobs()).keySet()}
            if not ex_jobs & job_ids:
                continue
            values = dict(self._java.asJava(ex.metricValues()))
            graph = self.sql_store.planGraph(ex.executionId())
            for node in self._seq(graph.allNodes()):
                for m in self._seq(node.metrics()):
                    if m.name() != "number of output rows":
                        continue
                    v = values.get(int(m.accumulatorId()))
                    if v is None:
                        continue
                    name = node.name()
                    rows[name] = rows.get(name, 0) + _parse_count(v)
        return rows

    def cached_bytes(self) -> int:
        """Memory plus disk bytes held by persisted RDDs right now."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def _parse_count(value: str) -> int:
    """A SUM metric's display string, e.g. ``"1,234,567"``."""
    head = value.strip().split("\n")[0].split(" ")[0]
    return int(head.replace(",", "") or 0)
