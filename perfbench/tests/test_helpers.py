"""Tests of the benchmark's helpers: the tail rule, span self time,
metric parsing, seeded inputs and the status-store harvester.

    python3 -m pytest perfbench/tests -q

The harvester test starts a local Spark session and runs registry
rows on scale-0.001 inputs generated into a temporary directory.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import datagen  # noqa: E402
from harvest import Harvester, parse_metric, summarize  # noqa: E402
from spans import Span, Tracer, self_times, tail  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(xs)
    assert n == 100
    assert value == 90.0  # 91..100 are the ten beyond it
    assert sum(1 for x in xs if x > value) == 10
    assert pct == 90.0


def test_tail_order_does_not_matter():
    xs = [float((7 * i) % 25) for i in range(25)]  # 0..24, shuffled
    assert tail(xs) == tail(sorted(xs)) == (14.0, 60.0, 25)


def test_tail_with_too_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        tail([])


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_children():
    spans = [
        _span(0, "query", 0.0, 10.0),
        _span(1, "build", 1.0, 3.0, parent=0),
        _span(2, "action", 4.0, 9.0, parent=0),
        _span(3, "scan", 5.0, 6.0, parent=2),
    ]
    st = self_times(spans)
    assert st["query"] == pytest.approx(3.0)   # 10 - 2 - 5
    assert st["build"] == pytest.approx(2.0)
    assert st["action"] == pytest.approx(4.0)  # 5 - 1
    assert st["scan"] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, "window", 0.0, 10.0),
        _span(1, "sink", 2.0, 6.0, parent=0),
        _span(2, "sink", 4.0, 8.0, parent=0),
        _span(3, "late", 9.0, 12.0, parent=0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st["window"] == pytest.approx(10.0 - 6.0 - 1.0)
    assert st["sink"] == pytest.approx(8.0)


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    tr = Tracer("run", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer("run", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


@pytest.mark.parametrize("text, kind, want", [
    ("2,500", "sum", 2500.0),
    ("0", "sum", 0.0),
    ("385.0 B", "size", 385.0),
    ("1344.8 KiB", "size", 1344.8 * 1024),
    ("total (min, med, max (stageId: taskId))\n12.5 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB (stage 1.0: task 3))",
     "size", 12.5 * 2 ** 20),
    ("539 ms", "timing", 0.539),
    ("1.2 s", "timing", 1.2),
    ("2.1 m", "nsTiming", 126.0),
])
def test_parse_metric(text, kind, want):
    assert parse_metric(text, kind) == pytest.approx(want)


def test_generated_tables_depend_only_on_seed(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 7, 0.001, ("events", "documents"))
    b = datagen.write_tables(str(tmp_path / "b"), 7, 0.001, ("documents",))
    c = datagen.write_tables(str(tmp_path / "c"), 8, 0.001, ("documents",))
    read = lambda d: open(d / "documents.parquet", "rb").read()  # noqa: E731
    assert a["documents"] == b["documents"]
    assert read(tmp_path / "a") == read(tmp_path / "b")
    assert read(tmp_path / "a") != read(tmp_path / "c")
    ts = datagen.build_table("events", 7, 0.001).column("ts").to_pylist()
    assert len(set(ts)) == len(ts)  # no timestamp ties


@pytest.fixture(scope="module")
def spark():
    from streaming_data_spark.session import get_session

    s = get_session(app_name="perfbench-tests", shuffle_partitions=4)
    yield s
    s.stop()


def test_harvester_attributes_every_execution_of_a_call(spark, tmp_path):
    import __spark_entry__ as entry

    data = str(tmp_path / "sf0.001")
    datagen.write_tables(data, 1, 0.001)
    queries = entry.queries()
    h = Harvester(spark)

    mark = h.mark()
    queries["q1_pricing_summary"](spark, data).write.format("noop").mode("overwrite").save()
    q1 = summarize(h.since(mark))
    assert q1["operators.sql_execs"] == 1
    assert q1["schemas.scan_rows"] == 6000  # every lineitem row is scanned
    assert q1["schemas.files_bytes_read"] > 0
    assert q1["operators.tasks"] >= 1
    assert q1["operators.python.bytes_sent"] == 0
    assert q1["sinks.files_written"] == 0  # the noop sink writes no files

    # x2 runs its Python kernel in an eager checkpoint while the
    # DataFrame is built; the final noop action shows none of it
    mark = h.mark()
    df = queries["x2_minhash_lsh"](spark, data)
    build_mark = h.mark()
    df.write.format("noop").mode("overwrite").save()
    execs = h.since(mark)
    assert len(execs) >= 2 and execs[0].id <= build_mark
    assert summarize(execs)["operators.python.bytes_sent"] > 0
    assert summarize(execs[-1:])["operators.python.bytes_sent"] == 0

    # a parquet write is a sink: files and bytes written are counted
    mark = h.mark()
    queries["j1_dim_fact_join"](spark, data).write.mode("overwrite").parquet(str(tmp_path / "out"))
    out = summarize(h.since(mark))
    assert out["sinks.files_written"] >= 1 and out["sinks.bytes_written"] > 0
