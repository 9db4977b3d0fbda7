"""The event-log parser on a captured log: the first micro-batch of a
stream_files run (the batch's own plan plus its two foreachBatch sink
writes, the second served from the persisted frame)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "stream_batch0.jsonl")


def _execs():
    with open(DATA) as f:
        return eventlog.parse(f)


def test_executions_become_spans_with_batch_ids():
    execs = _execs()
    assert sorted(execs) == [0, 1, 2]
    assert [execs[i].batch_id for i in (0, 1, 2)] == [None, 0, 0]
    assert all(e.end_ms is not None and e.duration_s > 0 for e in execs.values())
    spans = eventlog.spans(execs, "run-1", lambda s, t: "timed")
    assert [s["name"].split(":")[1] for s in spans] == ["0", "1", "2"]
    assert all(s["parent"] == "timed" and s["run_id"] == "run-1" and s["start"] <= s["end"] for s in spans)


def test_sql_metrics_map_to_layers():
    e = _execs()[0]
    # 10 files x 400 rows went through grok's Arrow UDF once
    assert e.metric("ArrowEvalPython", "number of output rows") == 4000
    assert e.metric("ArrowEvalPython", "data sent to Python workers") > 0
    assert e.metric("Scan parquet", "size of files read") > 0
    assert e.count_nodes("Scan parquet", nonzero_metric="number of output rows") == 1
    # timings come back in seconds, not the log's milliseconds
    assert 0 < e.metric("ArrowEvalPython", "time to run Python workers") < e.duration_s * 4


def test_cached_plan_metrics_belong_to_the_execution_that_computed_them():
    execs = _execs()
    first, second = execs[1], execs[2]
    # both writes show the cached plan under InMemoryTableScan, but only
    # the first computed it: the second reads the persisted blocks
    assert first.persist_bytes > 0 and second.persist_bytes == 0
    for e in (first, second):
        assert e.count_nodes("Execute InsertIntoHadoopFsRelationCommand") == 1
        assert e.metric("ArrowEvalPython", "number of output rows") == 0
        assert e.metric("Execute", "number of written files") > 0
