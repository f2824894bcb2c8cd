"""Layer tracing from outside the program.

A traced run materializes the job's plan one layer at a time: each layer's
*prefix* (the DataFrame up to and including that layer) is written to the
``noop`` sink under its own Spark job group, and a layer's self cost is its
prefix cost minus the cost of the prefix before it. Steps that only exist as
a write (a snapshot commit) are timed as spans around the public function and
charged net of the prefix they recompute.

Everything is kept in memory (``Tracer.spans``) and written once, as JSON, when
the run ends.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from procstat import cpu_seconds, python_workers

# per-layer Spark counters, summed over the stages a job group ran
STAGE_KEYS = (
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "executor_cpu_s",
    "gc_s",
    "tasks",
)
_EXCHANGE = re.compile(r"\b(Broadcast)?Exchange\b")  # not ReusedExchange


@dataclass
class Cost:
    """What one traced step cost; subtractable so prefixes give self costs."""

    seconds: float = 0.0
    worker_cpu_s: float = 0.0
    stages: dict = field(default_factory=lambda: dict.fromkeys(STAGE_KEYS, 0))
    exchanges: int = 0
    rows_out: int = 0
    # max / median executor run time over the tasks of the step's last stage
    task_skew: float = 0.0

    def __sub__(self, other: "Cost") -> "Cost":
        return Cost(
            seconds=self.seconds - other.seconds,
            worker_cpu_s=self.worker_cpu_s - other.worker_cpu_s,
            stages={k: self.stages[k] - other.stages[k] for k in STAGE_KEYS},
            exchanges=self.exchanges - other.exchanges,
            rows_out=self.rows_out,
            task_skew=self.task_skew,
        )

    def counters(self) -> dict:
        return {**self.stages, "exchanges": self.exchanges, "rows_out": self.rows_out}

    def __add__(self, other: "Cost") -> "Cost":
        return Cost(
            seconds=self.seconds + other.seconds,
            worker_cpu_s=self.worker_cpu_s + other.worker_cpu_s,
            stages={k: self.stages[k] + other.stages[k] for k in STAGE_KEYS},
            exchanges=self.exchanges + other.exchanges,
            rows_out=other.rows_out,
            task_skew=max(self.task_skew, other.task_skew),
        )


def median_cost(costs: list[Cost]) -> Cost:
    """The last repetition's counters with the median of the timings."""
    out = Cost(**{**costs[-1].__dict__})
    out.seconds = statistics.median(c.seconds for c in costs)
    out.worker_cpu_s = statistics.median(c.worker_cpu_s for c in costs)
    return out


def exchanges_in(df) -> int:
    """Exchange nodes in the physical plan (forces driver-side planning)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan))


class Tracer:
    def __init__(self, spark, root_pid: int):
        self.sc = spark.sparkContext
        self.root_pid = root_pid
        self.spans: list[dict] = []
        self._seq = 0
        self._stack: list[tuple[int, str]] = []  # open spans: (id, job group)

    @contextmanager
    def span(self, name: str):
        """Run the body under a fresh job group; yields the step's Cost,
        filled in when the body ends."""
        self._seq += 1
        sid, group = self._seq, f"perfbench-{self._seq}-{name}"
        parent = self._stack[-1][0] if self._stack else None
        cost = Cost()
        self.sc.setJobGroup(group, name)
        self._stack.append((sid, group))
        w0 = cpu_seconds(python_workers(self.root_pid))
        t0 = time.perf_counter()
        start = time.time()
        try:
            yield cost
        finally:
            cost.seconds = time.perf_counter() - t0
            cost.worker_cpu_s = cpu_seconds(python_workers(self.root_pid)) - w0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1][1], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        stages = self._collect(group, cost)
        self.spans.append({
            "id": sid, "parent": parent, "name": name, "group": group,
            "start": start, "end": start + cost.seconds,
            "seconds": cost.seconds, "worker_cpu_s": cost.worker_cpu_s,
            "exchanges": cost.exchanges, "rows_out": cost.rows_out,
            "task_max_over_median": cost.task_skew, "totals": dict(cost.stages),
            "stages": stages,
        })

    def materialize(self, name: str, df) -> Cost:
        """Write ``df`` to the noop sink as one traced step."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        exchanges = exchanges_in(df)
        with self.span(name) as cost:
            cost.exchanges = exchanges
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            cost.rows_out = int(obs.get["n"])
        return cost

    def _collect(self, group: str, cost: Cost) -> list[dict]:
        """Sum the group's stage metrics from Spark's status store into
        ``cost`` and return the per-stage records."""
        jsc = self.sc._jsc.sc()
        # status-store updates arrive through the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = []
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(job_id)
            for stage_id in sorted(info.stageIds if info else ()):
                sd = store.lastStageAttempt(stage_id)
                if sd.status().toString() == "SKIPPED":
                    continue
                rec = {
                    "job": job_id,
                    "stage": stage_id,
                    "tasks": sd.numTasks(),
                    "executor_run_s": sd.executorRunTime() / 1e3,
                    "executor_cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                }
                tasks = store.taskList(stage_id, sd.attemptId(), 100_000)
                runs = [
                    tasks.apply(i).taskMetrics().get().executorRunTime()
                    for i in range(tasks.size())
                ]
                rec["task_max_over_median"] = (
                    max(runs) / max(statistics.median(runs), 1) if runs else 0.0
                )
                out.append(rec)
                for k in STAGE_KEYS:
                    cost.stages[k] += rec[k]
        if out:
            cost.task_skew = out[-1]["task_max_over_median"]
        return out
