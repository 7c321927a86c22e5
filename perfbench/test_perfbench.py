"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The generator, oracle and event-log tests need no Spark. The smoke runs
start the benchmark itself at a tiny scale, one process per run, and take
a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import eventlog, gen, run
from perfbench.oracle import Oracle
from perfbench.workloads import stage

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKE = ["--seed", "5", "--seconds", "1", "--scale", "0.02"]


def test_generator_is_seeded():
    a = gen.transcripts(np.random.default_rng(3), 0, 20)
    b = gen.transcripts(np.random.default_rng(3), 0, 20)
    c = gen.transcripts(np.random.default_rng(4), 0, 20)
    assert a.equals(b) and not a.equals(c)
    assert a.schema == gen.SCHEMA


def test_needles_stay_in_their_conversation():
    t = gen.transcripts(np.random.default_rng(1), 0, 30)
    for conv, text in zip(t.column("conv_id").to_pylist(),
                          t.column("text").to_pylist()):
        for w in text.split():
            if w.startswith("n"):
                assert int(w[1:-1]) == int(conv[1:])


def test_fresh_batch_is_half_stored(tmp_path):
    rng = np.random.default_rng(2)
    base = gen.transcripts(rng, 0, 40)
    fresh = gen.fresh_batch(rng, base, 1000, 100)
    o = Oracle(stage(str(tmp_path / "s"), base) + "/*.parquet",
               stage(str(tmp_path / "f"), fresh) + "/*.parquet")
    assert fresh.num_rows == 100
    assert len(o.novel()) == 50
    assert all(int(c[1:]) >= 1000 for c, _ in o.novel())


def test_oracle_matches_brute_force(tmp_path):
    t = gen.transcripts(np.random.default_rng(7), 0, 30)
    o = Oracle(stage(str(tmp_path / "s"), t) + "/*.parquet")
    rows = t.to_pylist()
    queries = [{"qid": "a", "words": ["w1", "w3"], "role": "user"},
               {"qid": "b", "words": ["n4a"]},
               {"qid": "c", "words": ["w2"], "tool": "Bash"},
               {"qid": "d", "words": ["zzz"]}]
    got = o.containment(queries)
    for q in queries:
        want = {(r["conv_id"], r["turn_idx"]) for r in rows
                if set(q["words"]) <= set(r["text"].split())
                and q.get("role") in (None, r["role"])
                and q.get("tool") in (None, r["tool"])}
        assert got[q["qid"]] == want
    r0 = rows[5]
    same = o.same_token_set([("g", r0["conv_id"], r0["turn_idx"])])["g"]
    assert (r0["conv_id"], r0["turn_idx"]) in same


def _event(kind, **kw):
    return {"Event": kind, **kw}


def test_eventlog_attributes_tasks_to_groups():
    events = [
        _event("SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "search#1"}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 200, "Executor CPU Time": 10**8,
            "Result Size": 50,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 100,
            "Shuffle Read Metrics": {"Local Bytes Read": 7}}}),
        _event("SparkListenerJobEnd", **{"Job ID": 0,
                                         "Completion Time": 1300}),
        _event("SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 1400, "Stage IDs": [2],
            "Properties": {}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {}}),
        _event("SparkListenerJobEnd", **{"Job ID": 1,
                                         "Completion Time": 1500}),
    ]
    parsed = eventlog.parse(events)
    assert parsed["tasks_in_log"] == 3
    assert parsed["groups"]["search#1"]["tasks"] == 2
    assert parsed["groups"][""]["tasks"] == 1  # untagged job
    # one call timed in two parts (plan, then exec)
    ops = eventlog.per_op(parsed, [("search", "search#1", 0.9, 1.0),
                                   ("search", "search#1", 1.0, 1.5)])
    s = ops["search"]
    assert (s["jobs"], s["stages"], s["calls"]) == (1, 2, 1)
    assert s["executor_run_s"] == pytest.approx(0.3)
    assert s["executor_cpu_s"] == pytest.approx(0.1)
    assert s["shuffle_read_bytes"] == s["shuffle_write_bytes"] == 7
    # 600 ms of wall time, 300 ms of it inside the search job
    assert s["driver_s"] == pytest.approx(0.3)
    assert ops["unattributed"]["tasks"] == 1


def _bench(*args, code=None):
    cmd = ([sys.executable, "-c", code, *args] if code
           else [sys.executable, "perfbench/run.py", *args])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [json.loads(x) for x in p.stdout.strip().splitlines()]
    return lines[:-1], lines[-1]


@pytest.mark.parametrize("workload", ["ingest", "search"])
def test_smoke_emits_every_metric(workload):
    rows, last = _bench("--workload", workload, "--trace", "0", *SMOKE)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    assert set(last["metrics"]) == set(run.END_TO_END)
    for name, m in last["metrics"].items():
        assert m["unit"] == run.END_TO_END[name] and m["value"] > 0
    named = {r["name"]: r for r in rows}
    e2e = {r["name"] for r in rows if r["kind"] == "end_to_end"}
    want = {"ingest": {"build_turns_per_s", "sketch_rows_per_s",
                       "novel_turns_per_s", "delete_compact_s"},
            "search": {"batch_search_qps", "batch_verified_qps",
                       "batch_get_qps", "search_p50_ms", "search_p90_ms",
                       "get_p50_ms", "get_p90_ms"}}[workload]
    assert want | {"error_rate"} | set(run.END_TO_END) <= e2e
    for r in rows:
        assert r["unit"] and r["n"] >= 1, r
    assert named["error_rate"]["value"] == 0

    rows, last = _bench("--workload", workload, "--trace", "1", *SMOKE)
    assert last["correct"], rows
    assert set(last["metrics"]) == set(run.PER_LAYER)
    names = {r["name"] for r in rows}
    ops = {"ingest": ["build", "hll", "kll", "cms", "tdigest", "novel",
                      "compact"],
           "search": ["batch_search", "batch_verified", "batch_get",
                      "search", "get"]}[workload]
    for op in ops:
        for field in eventlog.FIELDS + ("driver_s",):
            assert f"spark.{op}.{field}" in names
    prefixes = ("build.", "query.", "storage.", "trace_overhead.")
    prefixes += ("aggregate.",) if workload == "ingest" else ()
    for prefix in prefixes:
        assert any(n.startswith(prefix) for n in names), prefix
    assert {r["name"]: r for r in rows}["spark.tasks_unattributed"][
        "value"] == 0
    if workload == "search":
        assert {f"query.shards_scanned_ratio.{k}" for k in
                ("broad", "mid", "needle", "absent")} <= names


WRONG_ORACLE = """
import sys
sys.path.insert(0, {root!r})
from perfbench import oracle, run
right = oracle.Oracle.novel
oracle.Oracle.novel = lambda self: set(list(right(self))[1:])
sys.exit(run.main(sys.argv[1:]))
"""


def test_wrong_oracle_answer_raises_error_rate():
    rows, last = _bench("--workload", "ingest", "--trace", "0", *SMOKE,
                        code=WRONG_ORACLE.format(root=ROOT))
    assert not last["correct"] and last["failed"] > 0
    rate = {r["name"]: r for r in rows}["error_rate"]["value"]
    assert rate > 0


def test_refuses_without_the_library(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f)) as src:
                (bench / f).write_text(src.read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "search", "--seed", "1", "--seconds", "1"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=120)
    assert p.returncode != 0 and p.stdout == ""
