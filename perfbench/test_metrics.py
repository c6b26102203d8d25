"""Tests of the benchmark's own arithmetic: python3 -m pytest perfbench"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as mx  # noqa: E402


def frame(cls, file, line=1):
    return f"{cls}({file}:{line})"


SPARK_COUNT = "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)"
POOL = ("org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2"
        "(SQLExecution.scala:329)\n"
        "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run"
        "(CompletableFuture.java:1768)")


def test_p90_needs_ten_samples_beyond_it():
    xs = list(range(1, 101))
    assert mx.percentile(xs, 90) == 90
    assert mx.tail_percentile(xs) == 90          # 91..100 lie beyond: 10
    assert mx.tail_percentile(xs[:99]) is None   # only 9 lie beyond
    assert mx.tail_percentile([1.0] * 200) is None  # ties: none strictly beyond
    assert mx.tail_percentile([]) is None


def test_self_time_counts_overlapping_children_once():
    # children cover [1, 6] and [8, 10] of the span: 7 of its 10
    children = [(1, 4), (3, 6), (8, 12)]
    assert mx.self_time((0, 10), children) == 3
    assert mx.self_time((0, 10), []) == 10
    assert mx.self_time((0, 10), [(0, 10), (2, 3)]) == 0


def test_split_gives_each_instant_to_the_deepest_span():
    spans = [
        {"kind": "exec", "start": 1, "end": 9,
         "callsite": frame("graft.pipelines.Orchestrator.runModule", "Orchestrator.scala")},
        # two overlapping jobs of different layers
        {"kind": "job", "start": 2, "end": 5,
         "callsite": frame("graft.sinks.KeyedJsonSink$.writeSingle", "KeyedJsonSink.scala")},
        {"kind": "job", "start": 4, "end": 7,
         "callsite": frame("graft.pipelines.Orchestrator.runModule", "Orchestrator.scala")},
        {"kind": "fetch", "start": 6, "end": 6.5},
        {"kind": "table", "start": 9.5, "end": 12},
    ]
    split = mx.split_wall(0, 10, spans)
    assert abs(sum(split.values()) - 10) < 1e-9
    assert split["driver"] == 1 + 0.5          # [0,1] and [9,9.5]
    assert split["sinks.fetch"] == 0.5
    # [1,2] and [7,9] exec; [5,6] and [6.5,7] the pipelines job; [4,5] is a
    # tie between the two jobs, resolved by layer order (pipelines first)
    assert split["pipelines"] == 1 + 2 + 1 + 1 + 0.5
    assert split["sinks.keyedjson"] == 2
    assert split["sources"] == 0.5             # the table() call, clipped


def test_attribution_uses_innermost_repo_frame():
    nested = "\n".join([
        "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
        frame("graft.sinks.KeyedJsonSink$.writeSingle", "KeyedJsonSink.scala", 195),
        frame("graft.pipelines.Orchestrator.runModule", "Orchestrator.scala", 149),
        frame("perfbench.Harness$.measure", "Harness.scala", 380)])
    assert mx.layer_of_callsite(nested) == "sinks.keyedjson"
    assert mx.callsite_frame(nested) == ("sinks", "KeyedJsonSink.scala")
    probe = "\n".join([
        "org.apache.spark.sql.classic.Dataset.head(Dataset.scala:1)",
        frame("graft.sources.JdbcCatalog.table", "Sources.scala", 42)])
    assert mx.layer_of_callsite(probe) == "sources"
    assert mx.layer_of_callsite(frame("graft.pipelines.Pipelines$.posts",
                                      "Pipelines.scala")) == "pipelines"
    assert mx.layer_of_callsite(frame("graft.operators.EavOps$.pivot",
                                      "EavOps.scala")) == "other"
    assert mx.layer_of_callsite(POOL) == "other"
    assert mx.layer_of_callsite(None) == "other"


def test_pool_thread_jobs_take_their_execution_call_site():
    site = "\n".join([SPARK_COUNT, frame("graft.pipelines.Orchestrator.runModule",
                                         "Orchestrator.scala", 178)])
    spans = [
        {"id": 1, "parent": 0, "kind": "module", "name": "posts", "start": 0, "end": 10},
        {"id": 2, "parent": 0, "kind": "exec", "exec": 7, "start": 1, "end": 5,
         "callsite": site},
        {"id": 3, "parent": 0, "kind": "job", "exec": 7, "stage_ids": [4], "start": 2,
         "end": 3, "callsite": POOL},
        {"id": 4, "parent": 0, "kind": "job", "exec": -1, "stage_ids": [5], "start": 6,
         "end": 7, "callsite": POOL},
        {"id": 5, "parent": 0, "kind": "fetch", "stage": 4, "start": 2.5, "end": 2.6},
        {"id": 6, "parent": 0, "kind": "table", "name": "posts", "start": 0.5, "end": 0.6},
        {"id": 7, "parent": 0, "kind": "catalyst", "name": "planning", "start": 0.7,
         "end": 0.9},
        {"id": 8, "parent": 0, "kind": "catalyst", "name": "planning", "start": 8,
         "end": 8.5},
    ]
    by_id = {s["id"]: s for s in mx.link_spans(spans)}
    assert by_id[3]["parent"] == 2 and by_id[3]["file"] == "Orchestrator.scala"
    assert by_id[3]["layer"] == "pipelines"
    assert by_id[4]["parent"] == 1 and by_id[4]["file"] is None
    assert by_id[5]["parent"] == 3 and by_id[5]["layer"] == "sinks.fetch"
    assert by_id[6]["parent"] == 1 and by_id[2]["parent"] == 1
    # a Catalyst phase belongs to the next action of its module, if any
    assert by_id[7]["parent"] == 2 and by_id[8]["parent"] == 1


def test_rewrite_ratio_counts_new_and_changed_entries():
    before = {"a": "1", "b": "2", "c": "3"}
    after = {"a": "1", "b": "9", "c": "3", "d": "4"}
    assert mx.entries_changed(before, after) == 2
    assert mx.rewrite_ratio(4, before, after) == 2.0
    assert mx.rewrite_ratio(3, {}, {"a": "1", "b": "2", "c": "3"}) == 1.0
    # nothing changed but the sink still wrote: the ratio is the rows written
    assert mx.rewrite_ratio(3, before, dict(before)) == 3.0


def test_spread_is_iqr_over_median():
    assert mx.spread([10, 10, 10, 10]) == 0
    # quartiles 9.25 and 10.75 (statistics.quantiles, exclusive method)
    assert abs(mx.spread([9, 10, 10, 11]) - 0.15) < 1e-9


def test_tracing_overhead_pairs_each_traced_unit_with_its_neighbours():
    # a warm-up trend of -1 per unit, tracing adds 0.5
    walls = [(10, False), (9.5, True), (8, False), (7.5, True), (6, False)]
    assert mx.tracing_overhead(walls) == 0.5
    assert mx.tracing_overhead([(10, True), (9, False)]) is None
