"""The repository's benchmark of record.

Run from the root of a checkout::

    python3 perfbench/run.py --workload cdc_tick --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, ``local[2]``):

* ``cdc_tick`` — a seeded CDC generator drops one envelope file per
  simulated hour into a file-stream source, and the loop calls
  ``cli.main(["tick", ..., "--hour", h])`` back to back; the hour-0
  tick promotes the day that just closed into history.
* ``serve`` — a seeded permutation per pass of registry queries over
  seeded fixture tables: JVM-only plans (merge fold, analytics) and
  pandas-UDF/Arrow plans (LLM-data curation), read-only.

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; with ``--trace 0`` the metrics are the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run.  End-to-end times are scaled to a reference host speed
(``PROBE_REF_S``).  A per-run record (host load, host-speed probes,
unscaled figures, per-operation samples) goes to stderr.  Everything
the run writes lives under ``.perfbench_work/`` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
PACKAGE = "spark_cdc_replication_spark"

#: Generator settings of ``cdc_tick``.  Where each value comes from:
#:
#: * ``rows_per_hour``, ``zipf_s`` and ``op_mix`` are measured on the
#:   ``events`` fixture table that ``fixtures.cdc_envelope`` turns into
#:   the CDC stream (sf0.1: 100 000 events over 720 hours, a median of
#:   139 per hour).  Its event types are uniform (each 19.8-20.3 %), so
#:   ``fixtures.OP_MAP`` gives 20 % c, 20 % r, 40 % u and 20 % d.  Its
#:   per-key counts are flat (the busiest key has 99 events, the median
#:   key 66; the fitted Zipf exponent is 0.11), so keys are drawn
#:   uniformly.
#: * ``keys`` is an assumption.  The fixture has 1 500 keys, and 89 % of
#:   them change every day, so each promote would rewrite about what
#:   changed.  20 000 keys hold six days of changes (3 336 a day), so a
#:   full-snapshot rewrite at the hour-0 tick shows against the ~3 000
#:   keys a day touches.
#: * ``tie_frac`` and ``dup_frac`` are assumptions.  FIXTURES.md §2 asks
#:   for equal-timestamp ties and byte-identical duplicates but gives no
#:   rate, and the ``events`` fixture has neither.  3 % and 2 % put about
#:   four ties and three redeliveries in every hourly file: each tick
#:   exercises the tie-break and the dedup, and neither changes the
#:   merge's cost.
CDC_SETTINGS = dict(
    keys=20000,
    rows_per_hour=139,
    zipf_s=0.0,
    op_mix=(("c", 0.2), ("r", 0.2), ("u", 0.4), ("d", 0.2)),
    tie_frac=0.03,
    dup_frac=0.02,
)
#: The set-up lands the bootstrap snapshot plus hours [0, START_HOUR) of
#: day 1 in one catch-up tick, then runs WARMUP_TICKS untimed regular
#: ticks (the first regular ticks compile the tick's plans); a run
#: measures at least MIN_TICKS ticks (hours 13-23, the hour-0 promote
#: and hours 1-4) and ends one tick after a promote.
START_HOUR = 9
WARMUP_TICKS = 3
MIN_TICKS = 16

#: ``serve`` queries: JVM-only plans, then pandas-UDF/Arrow plans.
SERVE_QUERIES = [
    "cdc_merge_incremental",
    "rollup_incremental",
    "q21_waiting_supplier",
    "dedup_semantic",
    "text_filter_corpus",
]

#: ``serve`` measures at least this many whole passes after its cold pass.
#: The first of them is slower (the second run of ``rollup_incremental``
#: is still about 20 % slower than later ones); the median of four passes
#: leaves it out.
SERVE_PASSES = 4

WORKLOADS = ("cdc_tick", "serve")

#: The time metrics are reported at a reference host speed.  The host is
#: shared, and its speed drifts by up to 70 % within minutes (hypervisor
#: steal reached 12 % of the CPU in one run): sets of back-to-back runs
#: of one commit spread ``op_s.p50`` by 15-43 % of the median, which no
#: length of run that fits the session averages away.  So a fixed Spark
#: job (:func:`probe`) runs after every measured operation, and every
#: end-to-end time is scaled by ``PROBE_REF_S`` over the probe's median
#: in that run (rates by the inverse).  Over five runs on a 4-vCPU
#: virtual machine the tick median tracked the probe median with a
#: correlation of 0.999, and scaling cut the spread of ``op_s.p50`` from
#: 0.43 to 0.04.  The probe runs none of the package's code, so a change
#: to that code does not move it; a change to the session settings a
#: global aggregate uses would.  Unscaled figures are in the stderr
#: record.
PROBE_REF_S = 0.095  # the probe's median on that machine when quiet
#: Untimed probes before the measured window: the first ones compile the
#: probe's plan and run slower than later ones.
PROBE_WARMUP = 10

#: Spark task slots.  The host is a shared 4-vCPU machine whose CPU speed
#: swings by about 15 % in windows of several seconds; two slots leave
#: the other cores to the Python client, the JIT and the GC, and measure
#: no slower per operation than ``local[4]``.
LOCAL_CORES = 2
#: JVM options of the driver.  ``TieredStopAtLevel=1`` compiles with C1
#: only: a run lasts about a minute, too short for C2 to settle, and with
#: C2 the ticks kept getting faster through the measured window (by 25 %
#: from first to last), so a run's median depended on how fast the JIT
#: happened to finish.  With C1 the set-up is 5 s shorter and the
#: measured operations are no slower.
JVM_OPTIONS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"


# -- statistics ---------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``, but never below p90: a run with fewer than
    100 samples reports p90, interpolated between order statistics (a
    maximum of a few samples is too unsteady to bound)."""
    xs = sorted(values)
    n = len(xs)
    if n >= 100:
        return xs[n - 11], 100.0 * (n - 10) / n
    if n == 1:
        return xs[0], 90.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1], 90.0


def op_metrics(samples: list[dict], measured_s: float) -> dict:
    """Latency over the regular operations (hour-0 ticks have their own
    ``history_tick_s.p50``), throughput over all of them.  ``samples``
    are the workload's end-to-end operations: ticks, or ``serve``
    passes."""
    op_s = [s["s"] for s in samples if not s.get("history")]
    value, pct = tail(op_s)
    return {
        "op_s.p50": statistics.median(op_s),
        "op_s.tail": value,
        "ops_per_s": len(samples) / measured_s,
        "tail_pct": pct,
    }


# -- correctness --------------------------------------------------------


def digest(rows, cols) -> str:
    from tools.check_oracle import table_digest

    return table_digest([list(r) for r in rows], list(cols))


def oracle_rows(con, sql: str):
    """DuckDB rows fetched through pandas, missing values as NULL —
    the fetch ``tools/check_oracle.py`` makes."""
    import pandas as pd

    def unnan(v):
        try:
            missing = not isinstance(v, (list, tuple)) and pd.isna(v)
        except (TypeError, ValueError):  # array-valued cells
            return v
        return None if missing is True else v

    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = [
        [unnan(v) for v in r] for r in res.df().itertuples(index=False, name=None)
    ]
    return rows, cols


# -- workloads ----------------------------------------------------------


class CdcTick:
    def __init__(self, root: str, seed: int) -> None:
        import cdcgen

        self.cdcgen = cdcgen
        self.root = root
        self.gen = cdcgen.CdcGenerator(cdcgen.CdcSettings(**CDC_SETTINGS), seed)
        self.incoming = os.path.join(root, "incoming")
        self.staging = os.path.join(root, "staging")
        self.raw = os.path.join(root, "raw")
        self.cfg_path = os.path.join(root, "cdc.json")
        self.hour = START_HOUR
        self.day_batches = 0
        self.samples: list[dict] = []
        events = self.gen.bootstrap()
        cdcgen.drop_file(self.gen.envelopes(events, 0), self.staging, self.incoming, "boot.parquet")
        for h in range(START_HOUR):
            self._drop(h)

    def _drop(self, hour: int) -> int:
        events, dups = self.gen.hour(hour)
        table = self.gen.envelopes(events, dups)
        self.cdcgen.drop_file(table, self.staging, self.incoming, f"h{hour:05d}.parquet")
        return table.num_rows

    def _tick(self, spark, hour_of_day: int, day: dt.date) -> int:
        from spark_cdc_replication_spark import cli

        return cli.main(
            [
                "tick", "--config", self.cfg_path, "--source", self.incoming,
                "--mode", "manual", "--date", day.isoformat(),
                "--hour", str(hour_of_day),
            ],
            spark=spark,
        )

    def setup(self, spark) -> None:
        from spark_cdc_replication_spark.fixtures import CDC_PAYLOAD_SCHEMA
        from spark_cdc_replication_spark.schemas import SchemaRegistry

        schemas = os.path.join(self.root, "schemas")
        SchemaRegistry(schemas).save("cdc", CDC_PAYLOAD_SCHEMA)
        cfg = {
            "name": "cdc",
            "primary_keys": ["id"],
            "order_by": ["timestamp", "event_id"],
            "data_dir": self.raw,
            "ckpt_dir": os.path.join(self.root, "ckpt"),
            "schema_dir": schemas,
        }
        with open(self.cfg_path, "w") as fh:
            json.dump(cfg, fh)
        if self._tick(spark, 0, self.cdcgen.EPOCH_DAY) != 0:
            raise RuntimeError("bootstrap tick failed")
        self.day_batches = START_HOUR
        for _ in range(WARMUP_TICKS):
            if not self.step(spark, None)["ok"]:
                raise RuntimeError("warm-up tick failed")
        self.samples.clear()

    def step(self, spark, rng, tracer=None) -> dict:
        h = self.hour
        new_rows = self._drop(h)
        day = self.cdcgen.day_of(h)
        hour_of_day = (h + 1) % 24
        self.day_batches += 1
        sample = {
            "op": "tick",
            "hour": hour_of_day,
            "day_batches": self.day_batches,
            "new_rows": new_rows,
            "history": hour_of_day == 0,
            "day": day.isoformat(),
        }
        t0 = time.perf_counter()
        try:
            if tracer is None:
                rc = self._tick(spark, hour_of_day, day)
            else:
                with tracer.span("tick") as span:
                    rc = self._tick(spark, hour_of_day, day)
                sample["span"] = span
        except Exception as exc:  # a failed tick counts in `failed`
            print(f"tick {h} failed: {exc!r}", file=sys.stderr)
            rc = -1
        sample["s"] = time.perf_counter() - t0
        sample["ok"] = rc == 0
        self.hour += 1
        if hour_of_day == 0:
            self.day_batches = 0
        self.samples.append(sample)
        return sample

    def keys_changed(self, day: str) -> int:
        """Distinct keys with an event on ingest day ``day``."""
        lo = dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc)
        hi = lo + dt.timedelta(days=1)
        events = self.gen.all_events()
        ts = events.column("ts").to_pylist()
        ids = events.column("id").to_pylist()
        return len({i for i, t in zip(ids, ts) if lo <= t < hi})

    def ops(self) -> list[dict]:
        return self.samples

    def done(self, elapsed: float, seconds: float) -> bool:
        # Stop after a promote and one more tick, so both the history
        # and a non-empty daily table are checked.
        promoted = any(s["history"] for s in self.samples)
        return (
            elapsed >= seconds
            and len(self.samples) >= MIN_TICKS
            and promoted
            and not self.samples[-1]["history"]
        )

    def check(self, spark) -> list[tuple[str, bool]]:
        """History equals the truth fold of the closed days; daily equals
        the fold of the open day alone."""
        events = self.gen.all_events()
        open_day = self.cdcgen.day_of(self.hour)
        cols = ["id", "event_id", "ts", "value", "k"]
        results = []
        for table, lo, hi in (
            ("cdc_history", self.cdcgen.EPOCH_DAY, open_day),
            ("cdc_daily", open_day, open_day + dt.timedelta(days=1)),
        ):
            got = [
                (r["id"], r["event_id"], r["timestamp"], r["value"], r["k"])
                for r in spark.table(table).collect()
            ]
            want = [
                (i, e, ts.replace(tzinfo=None), v, k)
                for i, e, ts, v, k in self.cdcgen.truth_fold(events, lo, hi)
            ]
            results.append((table, digest(got, cols) == digest(want, cols)))
        return results


class Serve:
    def __init__(self, root: str, seed: int) -> None:
        import tables

        self.sf_dir = tables.write_tables(seed, os.path.join(root, "tables"))
        self.table_names = tables.TABLES
        self.samples: list[dict] = []
        self.hashes: dict[str, set[str]] = {}
        self.warm_hash: dict[str, str] = {}
        self.pending: list[str] = []
        self.setup_samples: dict[str, float] = {}

    def _run(self, spark, name: str) -> tuple[list, list[str]]:
        df = self.queries[name](spark, self.sf_dir)
        rows = df.collect()
        return rows, df.columns

    def setup(self, spark) -> None:
        """One cold pass over the queries; its hashes stand in for a
        missing oracle."""
        from spark_cdc_replication_spark.workloads import collect_registry

        self.queries, oracle = collect_registry()
        self.oracle = {q: oracle.get(q) for q in SERVE_QUERIES}
        for name in SERVE_QUERIES:
            t0 = time.perf_counter()
            rows, cols = self._run(spark, name)
            self.setup_samples[name] = time.perf_counter() - t0
            self.warm_hash[name] = digest(rows, cols)

    def step(self, spark, rng, tracer=None) -> dict:
        if not self.pending:
            self.pending = list(SERVE_QUERIES)
            rng.shuffle(self.pending)
        name = self.pending.pop()
        sample = {"op": "query", "name": name, "last_in_pass": not self.pending}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                rows, cols = self._run(spark, name)
            else:
                with tracer.span("query", query=name) as span:
                    rows, cols = self._run(spark, name)
                sample["span"] = span
            sample["s"] = time.perf_counter() - t0
            sample["ok"] = True
            sample["rows"] = len(rows)
            self.hashes.setdefault(name, set()).add(digest(rows, cols))
        except Exception as exc:  # a failed query counts in `failed`
            sample["s"] = time.perf_counter() - t0
            sample["ok"] = False
            print(f"query {name} failed: {exc!r}", file=sys.stderr)
        self.samples.append(sample)
        return sample

    def ops(self) -> list[dict]:
        """One operation per pass, its time the sum of its queries'.
        The five queries take 0.5-3 s each, so a median over single
        queries falls between two queries' latency levels: over four
        runs it spread by 21 % of its median where the pass median
        spread by 10 %.  The single queries are reported per layer
        (``query.<name>_s``)."""
        out, cur = [], []
        for s in self.samples:
            cur.append(s)
            if s["last_in_pass"]:
                out.append({
                    "op": "pass",
                    "s": sum(q["s"] for q in cur),
                    "ok": all(q["ok"] for q in cur),
                })
                cur = []
        return out

    def done(self, elapsed: float, seconds: float) -> bool:
        # Whole passes, at least SERVE_PASSES, so every query has as many
        # samples.
        passes = sum(s["last_in_pass"] for s in self.samples)
        return (
            elapsed >= seconds
            and passes >= SERVE_PASSES
            and self.samples[-1]["last_in_pass"]
        )

    def check(self, spark) -> list[tuple[str, bool]]:
        """Every result hash equals the DuckDB oracle's, or the warm
        pass's hash for a query without an oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.table_names:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            results = []
            for name, got in sorted(self.hashes.items()):
                if self.oracle[name]:
                    rows, cols = oracle_rows(con, self.oracle[name])
                    want = digest(rows, cols)
                else:
                    want = self.warm_hash[name]
                results.append((name, got == {want}))
            return results
        finally:
            con.close()


# -- the measured run ---------------------------------------------------


def probe(spark) -> float:
    """One fixed Spark job that runs none of the package's code (a range
    aggregated to one row): the host-speed yardstick of a run."""
    t0 = time.perf_counter()
    spark.range(200_000).selectExpr("sum(hash(id))").collect()
    return time.perf_counter() - t0


def scale_to_reference(e2e: dict, setup_s: float, probe_s: float) -> dict:
    """The end-to-end metrics at the reference host speed: times scaled by
    ``PROBE_REF_S / probe_s``, rates by its inverse."""
    speed = PROBE_REF_S / probe_s
    return {
        "setup_s": setup_s * speed,
        "op_s.p50": e2e["op_s.p50"] * speed,
        "op_s.tail": e2e["op_s.tail"] * speed,
        "ops_per_s": e2e["ops_per_s"] / speed,
    }


def child(args) -> int:
    import spans

    root = args.root
    load1 = os.getloadavg()[0]
    nproc = os.cpu_count() or 1
    workload = (CdcTick if args.workload == "cdc_tick" else Serve)(
        os.path.join(root, "work"), args.seed
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "local"),
        "spark.driver.extraJavaOptions": (
            f"{JVM_OPTIONS} -Djava.io.tmpdir={os.path.join(root, 'tmp')}"
        ),
    }
    event_dir = os.path.join(root, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(spans.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = event_dir

    from spark_cdc_replication_spark.session import get_spark

    t_setup = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t_setup
    tracer = listener = None
    if args.trace:
        tracer = spans.Tracer(spark)
        listener = spans.progress_listener()
        spark.streams.addListener(listener)
        _wrap_pipeline(tracer)
    try:
        workload.setup(spark)
        setup_s = time.perf_counter() - t_setup

        for _ in range(PROBE_WARMUP):
            probe(spark)
        # One probe after every operation, outside its timing and outside
        # the measured seconds.
        probes: list[float] = []
        rng = random.Random(args.seed)
        t0 = time.perf_counter()
        while True:
            workload.step(spark, rng, tracer)
            probes.append(probe(spark))
            if workload.done(time.perf_counter() - t0 - sum(probes), args.seconds):
                break
        measured_s = time.perf_counter() - t0 - sum(probes)

        checks = workload.check(spark)
    finally:
        if listener is not None:
            run_ids = [r for s in tracer.spans for r in s.run_ids]
            listener.wait_terminated(run_ids)
            spark.streams.removeListener(listener)
        spark.stop()

    samples = workload.samples
    failed = sum(not s["ok"] for s in samples) + sum(not ok for _, ok in checks)
    attempted = len(samples) + len(checks)
    calib_s = statistics.median(probes)
    raw = op_metrics(workload.ops(), measured_s)
    e2e = {**raw, **scale_to_reference(raw, setup_s, calib_s)}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "local_cores": min(LOCAL_CORES, nproc),
        "load1": load1,
        "void": load1 > 2.0,
        "calib_s": calib_s,
        "probes": probes,
        "session_s": session_s,
        "setup_s": setup_s,
        "measured_s": measured_s,
        "raw": {k: raw[k] for k in ("op_s.p50", "op_s.tail", "ops_per_s")},
        "scaled": {k: e2e[k] for k in ("setup_s", "op_s.p50", "op_s.tail", "ops_per_s")},
        "tail_pct": e2e["tail_pct"],
        "ops": len(samples),
        "checks": dict(checks),
        "samples": [{k: v for k, v in s.items() if k != "span"} for s in samples],
        "setup_samples": getattr(workload, "setup_samples", {}),
    }
    print("perfbench record " + json.dumps(record), file=sys.stderr)

    if args.trace:
        import layers

        log_files = os.listdir(event_dir)
        log = spans.parse_event_log(os.path.join(event_dir, log_files[0]))
        metrics = layers.per_layer(
            args.workload, log, tracer, listener, samples, workload,
            e2e=e2e, load1=load1, calib_s=calib_s,
            baseline_path=os.path.join(HERE, "baseline.json"),
            query_names=SERVE_QUERIES,
        )
        units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    else:
        metrics = e2e
        units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    with open(os.path.join(root, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _wrap_pipeline(tracer) -> None:
    """Spans around the public pipeline stages.  The land span lasts
    until the availableNow stream terminates (the CLI awaits it right
    after ``land`` returns, so awaiting inside the span changes no
    behaviour) and claims the stream's ``runId`` as a job group."""
    from spark_cdc_replication_spark.pipeline import CdcPipeline

    land, merge_day, promote = (
        CdcPipeline.land, CdcPipeline.merge_day, CdcPipeline.promote_history
    )

    def traced_land(self, envelope):
        before = _parquet_files(self.spec.data_dir)
        with tracer.span("land") as span:
            query = land(self, envelope)
            span.run_ids.append(str(query.runId))
            query.awaitTermination()
        span.attrs["files_written"] = _parquet_files(self.spec.data_dir) - before
        return query

    def traced_merge_day(self, day, table):
        # promote_history calls merge_day for the history table; that
        # call is part of the promote span, not a separate merge.
        if tracer.current() == "promote_history":
            return merge_day(self, day, table)
        with tracer.span("merge_day", table=table):
            return merge_day(self, day, table)

    def traced_promote(self, day, daily_table, history_table):
        with tracer.span("promote_history"):
            return promote(self, day, daily_table, history_table)

    CdcPipeline.land = traced_land
    CdcPipeline.merge_day = traced_merge_day
    CdcPipeline.promote_history = traced_promote


def _parquet_files(root: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


# -- launcher -----------------------------------------------------------


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` is still running (zombies
    awaiting their reaper do not count)."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] not in "ZX":
            return True
    return False


def _stop_group(pgid: int, exited: bool) -> None:
    """Stop the child's process group (the child, its JVM and Python
    workers): after a normal exit give it time to finish on its own,
    then SIGTERM and SIGKILL what is left, and wait until it is gone."""
    steps = ((None, 10.0),) if exited else ()
    for sig, grace in steps + ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def launch(args) -> int:
    checkout = os.getcwd()
    missing = [
        p for p in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tools", "check_oracle.py"))
        if not os.path.isfile(os.path.join(checkout, p))
    ]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2
    work = os.path.join(checkout, ".perfbench_work")
    root = os.path.join(work, f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(root, sub))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (checkout, env.get("PYTHONPATH")) if p),
        TMPDIR=os.path.join(root, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(root, "local"),
        SPARK_GRAFT_CPUS=str(min(LOCAL_CORES, os.cpu_count() or 1)),
        # no JVM perf-data file under /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        TZ="UTC",
    )
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--child", "--root", root,
    ]
    # SIGTERM unwinds through the finally below, which stops the child's
    # process group and removes the run's files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)
    result = os.path.join(root, "result.json")
    out = None
    exited = False
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
        exited = True
        if rc == 0 and os.path.isfile(result):
            with open(result) as fh:
                out = fh.read()
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        rc = 1
    finally:
        _stop_group(proc.pid, exited)
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(work)
        except OSError:
            pass
    if out is None:
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1
    print(out)
    return 0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--root", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.child:
        sys.path.insert(0, os.getcwd())
        return child(args)
    return launch(args)


if __name__ == "__main__":
    raise SystemExit(main())
