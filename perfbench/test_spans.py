"""Fast checks of the tracer's SQL-metric readers (no Spark session),
on plan-graph DOT lines as Spark 4.1 renders them for a file write by
four tasks and by one.

    python -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import pytest

from spans import commit_s, parse_dot, parse_metric

MULTI_TASK = (
    '  1 [id="node1" labelType="html" label="<b>Execute '
    'InsertIntoHadoopFsRelationCommand</b><br><br>task commit time total '
    '(min, med, max (stageId: taskId))<br>61 ms (14 ms, 16 ms, 17 ms '
    '(stage 2.0: task 5))<br>number of written files: 4<br>job commit '
    'time: 57 ms<br>number of output rows: 100,000<br>number of dynamic '
    'part: 0<br>written output: 402.2 KiB" tooltip="Execute '
    'InsertIntoHadoopFsRelationCommand"];\n')
ONE_TASK = (
    '  0 [id="node0" labelType="html" label="<b>Execute '
    'InsertIntoHadoopFsRelationCommand</b><br><br>task commit time: 2 ms'
    '<br>number of written files: 1<br>job commit time: 19 ms<br>number '
    'of output rows: 10" tooltip="Execute '
    'InsertIntoHadoopFsRelationCommand"];\n')


def test_multi_task_metric_reads_its_total():
    (node,) = parse_dot(MULTI_TASK)
    assert node["name"] == "Execute InsertIntoHadoopFsRelationCommand"
    assert node["metrics"]["task commit time"].startswith("61 ms")
    assert node["metrics"]["job commit time"] == "57 ms"
    assert parse_metric(node["metrics"]["number of output rows"]) == 100_000


def test_commit_time_sums_both_forms():
    assert commit_s([parse_dot(MULTI_TASK)]) == pytest.approx(0.061 + 0.057)
    assert commit_s([parse_dot(ONE_TASK)]) == pytest.approx(0.002 + 0.019)


def test_edges_give_children():
    dot = ONE_TASK + MULTI_TASK + "  1->0;\n"
    by_id = {n["id"]: n for n in parse_dot(dot)}
    assert by_id[0]["children"] == [1]
    assert by_id[1]["children"] == []
