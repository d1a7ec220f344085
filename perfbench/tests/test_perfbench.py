"""Tests of the benchmark's own arithmetic, generator and event-log reader.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from tracing import (  # noqa: E402
    Tracer,
    attribute,
    covered,
    percentile,
    read_event_log,
    self_times,
)


def test_percentile_selection():
    assert percentile([7.0], 50) == 7.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 0) == 1.0
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 100) == 5.0
    assert percentile([10.0, 20.0, 30.0, 40.0, 50.0], 25) == 20.0
    assert percentile([0.0, 10.0], 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_covered_merges_and_clips_intervals():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4          # overlap merged
    assert covered([(1, 2), (4, 6)], 0, 10) == 3          # disjoint summed
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4        # clipped to the parent
    assert covered([(11, 12)], 0, 10) == 0                # outside the parent


def test_span_self_time_subtracts_children_once():
    spans = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "a", "start": 3.0, "end": 6.0},   # overlaps b
        {"id": "d", "parent": "b", "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st["a"] == pytest.approx(10 - 5)
    assert st["b"] == pytest.approx(3 - 1)
    assert st["c"] == pytest.approx(3)
    assert st["d"] == pytest.approx(1)


def test_tracer_records_parents_and_nesting():
    tr = Tracer()
    with tr.span("outer") as o:
        with tr.span("inner", k=1) as i:
            pass
    assert i["parent"] == o["id"] and o["parent"] is None
    assert o["start"] <= i["start"] <= i["end"] <= o["end"]
    assert i["attrs"] == {"k": 1}


def test_robots_longest_prefix_wins_and_ties_allow():
    rules = [("deny", "/img/1"), ("allow", "/img/12"), ("allow", "/")]
    assert not checks.robots_allows(rules, "/img/13.html")
    assert checks.robots_allows(rules, "/img/123.html")
    assert checks.robots_allows(rules, "/img/2.html")
    assert checks.robots_allows([("deny", "/a"), ("allow", "/a")], "/a/b")
    assert checks.robots_allows([], "/x")
    assert not checks.robots_allows([("deny", "/img/")], "/img/5.html")


def test_generator_is_seeded(tmp_path):
    a = gen.gen_world(str(tmp_path / "a"), 3, 300)
    b = gen.gen_world(str(tmp_path / "b"), 3, 300)
    c = gen.gen_world(str(tmp_path / "c"), 4, 300)
    da, db, dc = (gen.input_digests(d) for d in (a, b, c))
    assert da == db
    for name in ("records.parquet", "link_graph.parquet", "robots.parquet"):
        assert da[name] != dc[name]
    sa = gen.gen_seeds(str(tmp_path / "a"), 3, 300, 50)
    sc = gen.gen_seeds(str(tmp_path / "c"), 4, 300, 50)
    assert gen.file_sha256(sa) != gen.file_sha256(sc)


def test_corpus_truth_counts(tmp_path):
    d = gen.gen_corpus(str(tmp_path), 5, 400)
    with open(os.path.join(d, "truth.json")) as f:
        truth = json.load(f)
    files = sorted(os.listdir(os.path.join(d, "warcs")))
    assert len(files) == gen.WARC_FILES
    assert len(truth["corrupt"]) == gen.CORRUPT_RECORDS
    assert truth["records"] == (sum(truth["types"].values()))
    assert truth["cdx_lines"] == truth["types"]["response"]
    assert truth["captures"] == sum(v for s, v in truth["status"].items()
                                    if s[0] in "23")


def test_oversized_header_png_overflows_int32():
    from webarchive_discovery_spark.functions.imaging import image_dims

    w, h = image_dims(gen.oversized_header_png(16))
    assert w > 2**31 - 1 and h == 16


@pytest.fixture(scope="module")
def event_log(tmp_path_factory):
    """A toy session: group g1 runs a pandas UDF and a shuffle, group g2 a
    plain scan; returns the parsed event log."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    logs = tmp_path_factory.mktemp("events")
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", str(logs))
             .getOrCreate())
    sc = spark.sparkContext

    @F.pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    sc.setJobGroup("g1", "toy python + shuffle")
    rows = (spark.range(0, 2000, 1, 2).select(plus_one("id").alias("x"))
            .groupBy((F.col("x") % 7).alias("k")).count().collect())
    sc.setJobGroup("g2", "toy scan")
    n = len(spark.range(0, 100, 1, 2).collect())
    run.stop_spark(spark)
    assert len(rows) == 7 and n == 100
    assert run.descendants() == {}           # the JVM and Python workers ended
    return read_event_log(str(logs))


def test_event_log_attributes_stage_metrics_to_job_groups(event_log):
    groups, jobs = attribute(event_log)
    g1, g2 = groups["g1"], groups["g2"]
    assert g1["jobs"] >= 1 and g2["jobs"] >= 1
    assert g1["stages"] >= 2                 # the shuffle splits the query
    assert g1["tasks"] >= g1["stages"]
    assert g1["shuffle_bytes"] > 0
    assert g1["python_bytes"] > 0            # the pandas UDF's Arrow traffic
    assert g2["python_bytes"] == 0 and g2["shuffle_bytes"] == 0
    assert g1["run_ms"] >= 0
    assert [j["group"] for j in jobs].count("g1") == g1["jobs"]
    assert all(j["submit_s"] > 0 for j in jobs)
