"""Shuffle parallelism follows the session's cores: every shuffle
stage, and every explicit partition count in the package, is one wave
of ``SPARK_GRAFT_CPUS`` tasks unless ``SPARK_SHUFFLE_PARTITIONS``
sizes the shuffles for a cluster."""

from __future__ import annotations

import os
import re

from incubator_hugegraph_spark.graph import balanced, slots


def test_shuffle_partitions_follow_cores(spark):
    want = (os.environ.get("SPARK_SHUFFLE_PARTITIONS")
            or os.environ["SPARK_GRAFT_CPUS"])
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == int(want)
    assert slots(spark) == int(want)


def test_balanced_plans_one_wave(graph):
    df = balanced(graph.adj("OUT", None).select("src", "dst"), "dst")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"hashpartitioning\(dst#\d+, {slots(graph.spark)}\)",
                     plan), plan


def test_rest_metrics_report_one_wave(spark):
    from incubator_hugegraph_spark.rest import execute_metrics
    g = execute_metrics(spark)["gauges"]
    if not os.environ.get("SPARK_SHUFFLE_PARTITIONS"):
        assert g["shuffle.partitions"] == g["default.parallelism"]
