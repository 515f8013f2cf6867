"""The deployed validation job (scripts/run_validation_job.py) end to end:
the batch source is read at most twice per run, the compiled rules run
once per row, nothing stays persisted, re-runs are idempotent, and the
streaming drift arm compares each run's own windows."""

from __future__ import annotations

import contextlib
import io
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

SF = "/root/testdata/sf0.001"
N = 500
# a pattern of DOCUMENTS_RULESET: marks the plan node that evaluates the
# compiled rules
RULE_MARK = "doc-[0-9]{12}"

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))


def _run(spark, sf_dir: str, out: str, run_id: str) -> str:
    import run_validation_job

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert run_validation_job.main(sf_dir, out, run_id) == 0
    spark.sparkContext.setLogLevel("ERROR")
    return buf.getvalue()


class _Store:
    """Stages and SQL executions the status store recorded, by id."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.gw = sc._gateway
        self.conv = self.gw.jvm.scala.jdk.javaapi.CollectionConverters
        self.core = sc._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def settle(self) -> None:
        self.core.listenerBus().waitUntilEmpty()

    def stages(self) -> dict[int, tuple]:
        seq = self.core.statusStore().stageList(
            None, False, False, self.gw.new_array(self.gw.jvm.double, 0),
            self.gw.jvm.java.util.ArrayList(),
        )
        out = {}
        for s in self.conv.asJava(seq):
            d = s.description()
            out[s.stageId()] = (d.get() if d.isDefined() else "", s.inputRecords())
        return out

    def executions(self) -> dict[int, object]:
        runs = self.sql.executionsList()
        return {runs.apply(i).executionId(): runs.apply(i) for i in range(runs.size())}

    def _row_counters(self, exec_id: int, pick) -> dict[int, int]:
        """{metric id: rows} of the output-row counters of the nodes
        ``pick(node)`` selects in one execution's plan graph, or of the
        nearest nodes below them that count rows. Keyed by metric, because
        a persisted plan read in several places shows up once per read
        with the same counters."""
        graph = self.sql.planGraph(exec_id)
        values = self.conv.asJava(self.sql.executionMetrics(exec_id))
        nodes = {}
        all_nodes = graph.allNodes()
        for i in range(all_nodes.size()):
            n = all_nodes.apply(i)
            nodes[n.id()] = n
        below: dict[int, list[int]] = {}
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            below.setdefault(e.toId(), []).append(e.fromId())

        def counters(node_id: int) -> dict[int, int]:
            for m in self.conv.asJava(nodes[node_id].metrics()):
                if m.name() == "number of output rows":
                    return {m.accumulatorId(): int(values.get(m.accumulatorId()) or 0)}
            out: dict[int, int] = {}
            for c in below.get(node_id, []):
                out.update(counters(c))
            return out

        found: dict[int, int] = {}
        for i, n in nodes.items():
            if pick(n):
                found.update(counters(i))
        return found

    def rule_input_rows(self, exec_id: int) -> list[int]:
        """Rows reaching the plan nodes that evaluate the compiled rules in
        one execution (a rules frame read back from the cache shows its
        plan with zero rows)."""
        return list(self._row_counters(exec_id, lambda n: RULE_MARK in n.desc()).values())

    def source_rows(self, exec_id: int, source: str) -> int:
        """Rows one execution scanned from the parquet file ``source``."""
        return sum(
            self._row_counters(
                exec_id, lambda n: n.name().startswith("Scan parquet") and source in n.desc()
            ).values()
        )


def _is_stream(desc: str) -> bool:
    # micro-batch jobs carry the query's id/runId/batch description
    return "runId = " in (desc or "")


def _measured_run(spark, store: _Store, out: str, run_id: str):
    store.settle()
    stages0, execs0 = set(store.stages()), set(store.executions())
    rdds0 = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    stdout = _run(spark, SF, out, run_id)
    store.settle()
    stages = {k: v for k, v in store.stages().items() if k not in stages0}
    execs = {k: v for k, v in store.executions().items() if k not in execs0}
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    return stdout, stages, execs, rdds - rdds0


def test_job_reads_source_twice_and_evaluates_rules_once(spark, tmp_path):
    store = _Store(spark)
    out = str(tmp_path / "out")
    for run_id in ("seed", "r1"):
        stdout, stages, execs, left = _measured_run(spark, store, out, run_id)
        assert "violations so far" in stdout

        # batch reads: the remaining rows and the full table, once each ...
        batch_execs = {
            k: e for k, e in execs.items() if not _is_stream(e.description())
        }
        source = sum(store.source_rows(k, "documents.parquet") for k in batch_execs)
        assert source == 2 * N, (run_id, source)
        # ... and everything else the job reads (lineage, stats history,
        # its outputs read back, the media dimension, cached batches) is
        # small beside N — the traced parent read about 8 N in batch
        batch = sum(rows for desc, rows in stages.values() if not _is_stream(desc))
        assert batch <= 2 * N + N // 2, (run_id, batch)
        if run_id == "r1":
            assert "identical=True" in stdout
            assert any(_is_stream(d) and rows == N for d, rows in stages.values())

        # the compiled rules run in one execution over the N remaining rows,
        # in the one stage of it that reads them (the others read back the
        # cached batches); every other plan that shows the rules (the
        # verdict rollup) reads the persisted rules frame
        per_exec = {k: store.rule_input_rows(k) for k in batch_execs}
        evaluating = {k: rows for k, rows in per_exec.items() if any(rows)}
        assert len(evaluating) == 1, per_exec
        ((exec_id, rows),) = evaluating.items()
        assert rows == [N], rows
        # (the store drops skipped stages first once it holds its limit)
        reading = [
            s for s in store.conv.asJava(batch_execs[exec_id].stages())
            if stages.get(s, ("", 0))[1] >= N
        ]
        assert len(reading) == 1, reading

        # nothing the job persisted outlives it
        assert left == set()

    # re-running a completed run_id validates nothing again
    viol_before = pq.read_table(os.path.join(out, "violations")).num_rows
    stdout = _run(spark, SF, out, "r1")
    assert "identical=True" in stdout
    assert pq.read_table(os.path.join(out, "violations")).num_rows == viol_before
    lineage = pq.read_table(os.path.join(out, "lineage"))
    mine = lineage.filter(pc.equal(lineage["run_id"], "r1"))
    assert pc.sum(mine["docs"]).as_py() == N


def test_streaming_arm_compares_each_runs_own_windows(spark, tmp_path):
    """Three runs into one output dir — the full table, then twice a
    quarter of it: each run's streaming windows must be its own, so every
    run with a baseline reports the batch PSI on the same rows."""
    sub = tmp_path / "quarter"
    sub.mkdir()
    docs = pq.read_table(f"{SF}/documents.parquet")
    quarter = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 3), 0))
    pq.write_table(quarter, str(sub / "documents.parquet"))

    out = str(tmp_path / "out")
    _run(spark, SF, out, "r1")
    for run_id in ("r2", "r3"):
        stdout = _run(spark, str(sub), out, run_id)
        line = next(x for x in stdout.splitlines() if x.startswith("streaming drift arm"))
        assert line.endswith("identical=True"), (run_id, line)


def test_job_reads_stats_history_once_per_run(spark, tmp_path):
    """A run with a baseline reads the stats history in one SQL execution:
    ``latest_counts`` collects the newest snapshot once, and the PSI
    violation, the streaming arm and its batch comparison all use those
    collected rows (reading it lazily per baseline took five executions at
    sf0.001)."""
    store = _Store(spark)
    out = str(tmp_path / "out")
    _measured_run(spark, store, out, "seed")
    stdout, _, execs, _ = _measured_run(spark, store, out, "r1")
    assert "identical=True" in stdout

    def scans_history(exec_id: int) -> bool:
        # the history is the only table with a ``column`` field; its path
        # may be cut from a scan's description
        nodes = store.sql.planGraph(exec_id).allNodes()
        return any(
            nodes.apply(i).name().startswith("Scan parquet")
            and "column:string" in nodes.apply(i).desc()
            for i in range(nodes.size())
        )

    reading = [k for k in execs if scans_history(k)]
    assert len(reading) <= 1, [execs[k].description() for k in reading]


def test_warm_job_run_compiles_no_new_code(spark, tmp_path):
    """A warm job run with a baseline compiles no generated class: per-run
    values (the lineage and history timestamps) travel as data, never as
    literals Spark would inline into a new generated source."""
    from test_plan_shapes import _compiles

    out = str(tmp_path / "out")
    for run_id in ("seed", "r1"):
        _run(spark, SF, out, run_id)
    before = _compiles(spark)
    stdout = _run(spark, SF, out, "r2")
    assert "identical=True" in stdout
    assert _compiles(spark) - before == 0


# A baseline run at sf0.001 under Spark's defaults (local[2], 200 shuffle
# partitions), counted by test_job_cost_under_spark_submit_defaults's probe
# while the drift loop re-read its histogram aggregate and the stream's
# state spread over the session's 200 partitions: 48 jobs, 1,849 completed
# tasks.
_PARENT_JOBS, _PARENT_TASKS = 48, 1849

_COST_PROBE = """
import json, sys, tempfile
sys.path[:0] = [sys.argv[1], sys.argv[1] + "/scripts"]
import run_validation_job
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

out = tempfile.mkdtemp()
run_validation_job.main(sys.argv[2], out, "seed")
spark = SparkSession.getActiveSession()
sc = spark.sparkContext
parts = []

class Progress(StreamingQueryListener):
    def onQueryStarted(self, e): pass
    def onQueryProgress(self, e):
        parts.extend(op.numShufflePartitions for op in e.progress.stateOperators)
    def onQueryIdle(self, e): pass
    def onQueryTerminated(self, e): pass

spark.streams.addListener(Progress())
store = sc._jsc.sc().statusStore()
conv = sc._gateway.jvm.scala.jdk.javaapi.CollectionConverters
sc._jsc.sc().listenerBus().waitUntilEmpty()
mark = max(j.jobId() for j in conv.asJava(store.jobsList(None)))
run_validation_job.main(sys.argv[2], out, "r1")
sc._jsc.sc().listenerBus().waitUntilEmpty()
jobs = [j for j in conv.asJava(store.jobsList(None)) if j.jobId() > mark]
print("COST:", json.dumps({
    "jobs": len(jobs),
    "tasks": sum(j.numCompletedTasks() for j in jobs),
    "state_partitions": parts,
}))
"""


def test_job_cost_under_spark_submit_defaults():
    """Under the session spark-submit gives the job (Spark's defaults: 200
    shuffle partitions), a baseline run submits at most two thirds of the
    jobs and a fifth of the tasks it did when the drift loop re-read its
    histogram aggregate and the stream's state spread over the session's
    partitions, and the stream's aggregation keeps one state partition.
    (The run's other work, unchanged, is 24 of those jobs: the read-back
    counts of the closing line alone are 6.)"""
    import json
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell")
    out = subprocess.run(
        [sys.executable, "-c", _COST_PROBE, root, SF],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("COST:"))
    cost = json.loads(line.split(" ", 1)[1])
    assert cost["jobs"] <= _PARENT_JOBS * 2 // 3, cost
    assert cost["tasks"] <= _PARENT_TASKS // 5, cost
    assert cost["state_partitions"] and set(cost["state_partitions"]) == {1}, cost


def test_failed_run_leaves_no_stream_running(spark, tmp_path, monkeypatch):
    """A run with a baseline whose cross-row write fails raises, and its
    streaming arm, started before the batch work, is stopped: no query
    stays active and nothing the job persisted outlives it."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    out = str(tmp_path / "out")
    _run(spark, SF, out, "seed")
    write = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        if path.endswith("/violations_cross"):
            raise RuntimeError("cross-row sink unavailable")
        return write(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    jsc = spark.sparkContext._jsc
    rdds0 = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(RuntimeError, match="cross-row sink unavailable"):
        _run(spark, SF, out, "r1")
    assert os.path.isdir(os.path.join(out, "drift_stream_ck", "r1"))  # it had started
    assert spark.streams.active == []
    assert set(jsc.getPersistentRDDs().keySet()) - rdds0 == set()
