"""The benchmark's own tests.  Run from the checkout root::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import cdcgen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import tables  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMALL = cdcgen.CdcSettings(
    keys=50,
    rows_per_hour=80,
    zipf_s=1.1,
    op_mix=(("c", 0.2), ("r", 0.2), ("u", 0.4), ("d", 0.2)),
    tie_frac=0.15,
    dup_frac=0.1,
)


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(seed: int, out: str) -> tuple[list[bytes], cdcgen.CdcGenerator]:
    gen = cdcgen.CdcGenerator(SMALL, seed)
    cdcgen.drop_file(gen.envelopes(gen.bootstrap(), 0), f"{out}/stg", f"{out}/src", "boot.parquet")
    for h in range(3):
        events, dups = gen.hour(h)
        cdcgen.drop_file(gen.envelopes(events, dups), f"{out}/stg", f"{out}/src", f"h{h}.parquet")
    paths = sorted(glob.glob(f"{out}/src/*.parquet"))
    return [open(p, "rb").read() for p in paths], gen


def test_same_seed_gives_byte_identical_batches(tmp_path):
    a, _ = _files(7, str(tmp_path / "a"))
    b, _ = _files(7, str(tmp_path / "b"))
    c, _ = _files(8, str(tmp_path / "c"))
    assert len(a) == 4 and a == b
    assert a != c
    assert tables.make_tables(3)["documents"].equals(tables.make_tables(3)["documents"])


def test_generator_has_ties_duplicates_deletes_and_reinserts():
    gen = cdcgen.CdcGenerator(SMALL, 1)
    gen.bootstrap()
    events = [gen.hour(h) for h in range(4)]
    rows = [r for table, _ in events for r in table.to_pylist()]
    assert {r["op"] for r in rows} == {"c", "r", "u", "d"}
    last: dict[str, str] = {}
    reinserts = 0
    for r in sorted(rows, key=lambda r: (r["ts"], r["event_id"])):
        reinserts += last.get(r["id"]) == "d" and r["op"] != "d"
        last[r["id"]] = r["op"]
    assert reinserts > 0  # delete-then-reinsert
    keyed = [(r["id"], r["ts"]) for r in rows]
    assert len(keyed) > len(set(keyed))  # equal-timestamp ties on one key
    assert sum(d for _, d in events) > 0  # redelivered envelopes


def test_tail_rule():
    assert run.tail([5.0]) == (5.0, 90.0)
    value, pct = run.tail([float(i) for i in range(11)])
    assert pct == 90.0 and value == 9.0
    xs = [float(i) for i in range(1, 201)]
    value, pct = run.tail(xs)
    assert pct == 95.0 and value == 190.0
    assert sum(x > value for x in xs) == 10
    samples = [{"s": 1.0}, {"s": 2.0}, {"s": 3.0}, {"s": 9.0, "history": True}]
    e2e = run.op_metrics(samples, 4.0)
    assert e2e["op_s.p50"] == 2.0 and e2e["ops_per_s"] == 1.0  # hour-0 tick: throughput only
    scaled = run.scale_to_reference(e2e, 10.0, 2 * run.PROBE_REF_S)  # a host at half speed
    assert scaled["setup_s"] == 5.0 and scaled["op_s.p50"] == 1.0 and scaled["ops_per_s"] == 2.0


def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    for k in ("end_to_end", "per_layer"):
        for m in spec[k]:
            assert NAME.match(m["name"]), m
            assert UNIT.match(m["unit"]), m
            assert m["better"] in ("higher", "lower")
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert "setup_s" in names


def test_per_layer_reports_every_spec_metric():
    class NoTracer:
        spans: list = []

    log = spans.EventLog({}, {}, {}, {}, {})
    e2e = {"op_s.p50": 1.0, "tail_pct": 100.0}
    out = layers.per_layer(
        "serve", log, NoTracer(), None, [], object(), e2e=e2e, load1=0.1,
        calib_s=1.0, baseline_path="", query_names=run.SERVE_QUERIES,
    )
    assert set(out) == {m["name"] for m in _spec()["per_layer"]}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from spark_cdc_replication_spark.session import get_spark

    root = tmp_path_factory.mktemp("spark")
    os.makedirs(root / "log")
    session = get_spark(
        "perfbench-tests",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": str(root / "warehouse"),
            "spark.eventLog.dir": str(root / "log"),
            **spans.EVENT_LOG_CONF,
        },
    )
    yield session
    session.stop()


def test_truth_fold_equals_apply_changes(spark, tmp_path):
    from spark_cdc_replication_spark.fixtures import CDC_PAYLOAD_SCHEMA
    from spark_cdc_replication_spark.operators.cdc_parse import parse_envelope
    from spark_cdc_replication_spark.operators.merge import apply_changes

    _, gen = _files(5, str(tmp_path))
    envelopes = spark.read.parquet(str(tmp_path / "src"))
    changes = parse_envelope(envelopes, CDC_PAYLOAD_SCHEMA)
    got = [
        (r["id"], r["event_id"], r["timestamp"], r["value"], r["k"])
        for r in apply_changes(changes, ["id"], ["timestamp", "event_id"]).collect()
    ]
    want = [
        (i, e, ts.replace(tzinfo=None), v, k)
        for i, e, ts, v, k in cdcgen.truth_fold(
            gen.all_events(), cdcgen.EPOCH_DAY, cdcgen.EPOCH_DAY + dt.timedelta(days=3)
        )
    ]
    assert len(want) < SMALL.keys  # some keys end deleted
    assert sorted(got) == sorted(want)


def test_event_log_parser_counts(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    tracer = spans.Tracer(spark)
    with tracer.span("jvm") as jvm:
        spark.range(100, numPartitions=2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    with tracer.span("python") as py:
        spark.range(100, numPartitions=2).select(plus_one("id").alias("x")).collect()
    app = spark.sparkContext.applicationId
    log_dir = spark.conf.get("spark.eventLog.dir").replace("file:", "")
    spark.stop()
    log = spans.parse_event_log(glob.glob(os.path.join(log_dir, app + "*"))[0])

    # AQE runs the shuffle map stage and the result stage as two jobs.
    jvm_stats = spans.span_stats(log, [jvm], jvm)
    assert (jvm_stats["jobs"], jvm_stats["stages"], jvm_stats["tasks"]) == (2, 2, 3)
    assert jvm_stats["exchanges"] == 1 and jvm_stats["shuffle_bytes"] > 0
    assert jvm_stats["python.eval_nodes"] == 0 and "python.bytes_sent" not in jvm_stats

    py_stats = spans.span_stats(log, [py], py)
    assert (py_stats["jobs"], py_stats["stages"], py_stats["tasks"]) == (1, 1, 2)
    assert py_stats["python.eval_nodes"] == 1 and py_stats["exchanges"] == 0
    assert py_stats["python.bytes_sent"] > 0 and py_stats["python.bytes_returned"] > 0
    assert 0 < py_stats["driver_only_s"] < py.seconds


def test_serve_ops_are_passes():
    wl = run.Serve.__new__(run.Serve)
    wl.samples = [
        {"s": 1.0, "ok": True, "last_in_pass": False},
        {"s": 2.0, "ok": True, "last_in_pass": True},
        {"s": 0.5, "ok": False, "last_in_pass": True},
    ]
    assert wl.ops() == [
        {"op": "pass", "s": 3.0, "ok": True},
        {"op": "pass", "s": 0.5, "ok": False},
    ]
