"""The three workloads, each driven through the program's public entry
points, with the output checks that count into ``failed``.

* ``etl_batch`` — ``orchestrate.process_source`` over a directory of large
  CSVs (``fail_on_error=False``, single-CSV outputs).  One operation is one
  ``process_source`` call.
* ``dashboard`` — one closed-loop client sending inline edit / preview /
  convert / process requests through ``api.create_app(...).test_client()``.
  One operation is one edit-preview-convert-process cycle.
* ``curation`` — 2 registry queries with a noop sink, every operator cache
  cleared before each pass.  One operation is one pass.

A workload exposes ``prepare`` (input generation, untimed), ``make_app``
(part of set-up), ``warm`` (untimed first contact with its inputs),
``op`` (one timed operation plus its checks) and ``trace_layers``
(wrapping the program's functions in spans for a traced run).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from perfbench import inputs
from perfbench.spans import Span, Tracer

PERFBENCH_DIR = Path(__file__).resolve().parent
CURATION_TABLES = PERFBENCH_DIR / "data" / "sf0.01"
# a build-heavy iterative operator (jobs launched while the DataFrame is
# built) beside an exec-heavy one (a Python-bound mapInArrow)
CURATION_QUERIES = ["record_clusters", "corr_lineitem"]
# the tables each query reads
CURATION_INPUTS = {"record_clusters": ["customer"], "corr_lineitem": ["lineitem"]}


@dataclass
class Op:
    kind: str
    seconds: float
    # CPU time the hypervisor took from this machine's CPUs while the
    # operation was timed, summed over the CPUs
    steal_s: float


@dataclass
class Outcome:
    """Every operation attempted, timed or not, and what went wrong.  An
    operation counts as failed once, however many of its checks fail."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    failed_ops: set[int] = field(default_factory=set)

    def check(self, ok: bool, what: str, op: int | None = None) -> bool:
        """Record a failed check against operation ``op`` (default: the
        latest one attempted)."""
        if not ok:
            self.failures.append(what)
            self.failed_ops.add(self.attempted if op is None else op)
        return ok


class Workload:
    name = ""

    def __init__(self, root: Path, seed: int, smoke: bool, tracer: Tracer) -> None:
        self.root = root
        self.seed = seed
        self.smoke = smoke
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)

    def prepare(self) -> None: ...

    def make_app(self, spark) -> None: ...

    def warm(self, spark, outcome: Outcome) -> None: ...

    def op(self, spark, outcome: Outcome) -> Op: ...

    def trace_layers(self) -> None: ...

    def report(self, ops: list[Op]) -> list[str]:
        """The workload's own figures, with sample counts."""
        return []


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile that has at least ten samples above
    it, with its value; None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    pct = (100 * (n - 10)) // n
    return pct, sorted(values)[min(n - 11, (pct * n) // 100)]


def stolen_cpu_s() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs since
    boot, summed over the CPUs (0 on a machine that reports none)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _timed(tracer: Tracer, kind: str, fn):
    """``fn()`` in a span; returns (result, wall s, stolen CPU s)."""
    with tracer.span(f"bench.{kind}", "bench"):
        t0, s0 = time.perf_counter(), stolen_cpu_s()
        result = fn()
        return result, time.perf_counter() - t0, stolen_cpu_s() - s0


def _check_output(out: Path, m: inputs.FileModel, outcome: Outcome) -> None:
    """Check a converted CSV against the model of its input, then remove
    it so the next operation cannot pass on a stale file."""
    if outcome.check(out.is_file(), f"{out.name} was not written"):
        for problem in inputs.output_problems(out, m):
            outcome.check(False, problem)
        out.unlink()


def _trace_sources_and_plans(tracer: Tracer, modules) -> None:
    """Spans around the CSV scan, sink, transform and validate calls made
    from ``modules`` (each call site is patched where it is looked up)."""
    from csv_etl_spark.plans import pipeline
    from csv_etl_spark.specs import SpecStore

    def file_bytes(span: Span, _result, args, _kwargs) -> None:
        path = Path(args[1])
        span.attrs["bytes"] = path.stat().st_size if path.is_file() else 0

    def kept(span: Span, result, _args, _kwargs) -> None:
        span.attrs["kept"] = result.success_count + result.error_row_count
        span.attrs["input"] = span.attrs["kept"] + result.skipped_count

    tracer.wrap(SpecStore, "_load", "specs.load", "specs")
    tracer.wrap(pipeline, "compile_mapping", "compiler.compile_mapping", "compiler")
    for mod in modules:
        for attr, name, layer, after in (
            ("read_spec_csv", "sources.read_spec_csv", "sources", None),
            ("write_single_csv_file", "sources.write_single_csv_file", "sources", file_bytes),
            ("update_csv_row", "sources.update_csv_row", "sources", None),
            ("transform", "plans.transform", "plans", kept),
            ("validate", "plans.validate", "plans", kept),
        ):
            if hasattr(mod, attr):
                tracer.wrap(mod, attr, name, layer, after)


# ---------------------------------------------------------------------------
# etl_batch
# ---------------------------------------------------------------------------


class EtlBatch(Workload):
    name = "etl_batch"

    WARM_OPS = 2

    def prepare(self) -> None:
        files, rows = (2, 3_000) if self.smoke else (2, 60_000)
        self.tree = self.root / "batch"
        self.models = inputs.make_tree(self.tree, self.seed, files, rows)

    def make_app(self, spark) -> None:
        from csv_etl_spark.specs import SpecStore

        self.store = SpecStore(self.tree / "config")

    def _process(self, spark):
        from csv_etl_spark import orchestrate

        return orchestrate.process_source(
            spark,
            self.store,
            inputs.MAPPING_ID,
            str(self.tree / "input"),
            str(self.tree / "output"),
            fail_on_error=False,
        )

    def _check(self, result: dict, outcome: Outcome) -> None:
        tree, models = self.tree, self.models
        exp = inputs.expected_totals(models)
        got = (result["success_count"], result["skipped_count"], result["error_count"])
        outcome.check(
            got == (exp.success, exp.skipped, exp.errors),
            f"process_source totals {got} != expected {(exp.success, exp.skipped, exp.errors)}",
        )
        outcome.check(
            len(result["errors"]) == min(50, exp.errors),
            f"error list has {len(result['errors'])} entries, expected {min(50, exp.errors)}",
        )
        for m in models:
            _check_output(inputs.output_path(tree, m), m, outcome)

    def warm(self, spark, outcome: Outcome) -> None:
        for _ in range(self.WARM_OPS):
            self.op(spark, outcome)

    def op(self, spark, outcome: Outcome) -> Op:
        outcome.attempted += 1
        result, seconds, stolen = _timed(self.tracer, "process_source", lambda: self._process(spark))
        self._check(result, outcome)
        return Op("process_source", seconds, stolen)

    def report(self, ops: list[Op]) -> list[str]:
        rows = sum(m.counts().total for m in self.models)
        rate = rows / statistics.median(o.seconds for o in ops)
        return [f"etl.rows_per_s {rate:.1f} rows/s ({rows} rows a call over the median of"
                f" n={len(ops)} process_source calls)"]

    def trace_layers(self) -> None:
        from csv_etl_spark import orchestrate

        self.tracer.wrap(
            orchestrate, "process_source", "orchestrate.process_source", "orchestrate"
        )
        _trace_sources_and_plans(self.tracer, [orchestrate])


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------


class Dashboard(Workload):
    """A closed loop with one client.  One operation is a cycle of four
    requests: an inline edit of file f, a validated preview of f (which must
    show the edit and the updated counts), a convert of file g, and a bulk
    process of the whole source directory (``orchestrate.process_source``
    behind the dashboard's process button).  Half the files are clean and
    half carry malformed rows; f and g alternate between the two halves, so
    a run converts (and writes) as often as it refuses, and the seed picks
    the edited lines and values (and the files, when there are more than
    two).  Edits flip a date's validity only in malformed files, which
    therefore stay malformed.  Each request is timed on its own and checked
    before the next is sent; the cycle time is the sum of the four."""

    name = "dashboard"
    WARM_CYCLES = 4

    def prepare(self) -> None:
        files, rows = (2, 300) if self.smoke else (2, 2_000)
        self.tree = self.root / "dash"
        self.models = inputs.make_tree(self.tree, self.seed, files, rows, clean_files=files // 2)
        self.cycles = 0
        self.request_times: dict[str, list[float]] = {
            "edit": [], "preview": [], "convert": [], "process": []
        }

    def make_app(self, spark) -> None:
        from csv_etl_spark import api

        t = self.tree
        self.app = api.create_app(spark, str(t / "config"), str(t / "input"), str(t / "output"))
        self.client = self.app.test_client()

    def _url(self, m: inputs.FileModel, suffix: str = "") -> str:
        return f"/api/preview/{inputs.SOURCE_ID}/{m.path.name}{suffix}"

    def _edit(self, m: inputs.FileModel):
        n_rows = len(m.skipped)
        line = int(self.rng.integers(2, min(n_rows, 500) + 2))
        ticker = f"T{int(self.rng.integers(0, 1_000_000)):06d}"
        row = {"Ticker": ticker}
        flip = m.counts().errors > 0 and self.rng.random() < 0.3
        if flip:
            row["Date"] = inputs.good_date(self.rng) if m.bad_date[line - 2] else inputs.BAD_DATE
        resp = self.client.post(self._url(m, "/update"), json={"line": line, "row": row})
        if resp.status_code == 200:
            m.tickers[line] = ticker
            if flip:
                m.bad_date[line - 2] = not m.bad_date[line - 2]
        return resp

    def _preview(self, m: inputs.FileModel):
        return self.client.get(self._url(m), query_string={"mapping_id": inputs.MAPPING_ID})

    def _convert(self, m: inputs.FileModel):
        return self.client.post(self._url(m, "/convert"), json={"mapping_id": inputs.MAPPING_ID})

    def _process(self, _m):
        return self.client.post(f"/api/process/{inputs.SOURCE_ID}", json={"mapping_id": inputs.MAPPING_ID})

    def _check_edit(self, resp, _m, outcome: Outcome) -> None:
        outcome.check(
            resp.status_code == 200 and resp.get_json().get("success") is True,
            f"edit: status {resp.status_code}",
        )

    def _check_preview(self, resp, m: inputs.FileModel, outcome: Outcome) -> None:
        if not outcome.check(resp.status_code == 200, f"preview: status {resp.status_code}"):
            return
        body = resp.get_json()
        c = m.counts()
        outcome.check(body["total"] == c.total, f"preview total {body['total']} != {c.total}")
        v = body["validation"] or {}
        got = (v.get("success_count"), v.get("skipped_count"), v.get("error_count"))
        outcome.check(
            got == (c.success, c.skipped, c.errors),
            f"preview validation {got} != {(c.success, c.skipped, c.errors)}",
        )
        n_err = sum(len(e) for e in body["errors_by_line"].values())
        outcome.check(n_err == min(50, c.errors), f"preview lists {n_err} errors")
        rows = body["rows"]
        outcome.check(len(rows) == min(500, c.total), f"preview shows {len(rows)} rows")
        # a stale cached scan would still show the pre-edit cells
        for line, ticker in m.tickers.items():
            i = line - 2
            if i < len(rows):
                outcome.check(
                    rows[i]["_line"] == line and rows[i]["Ticker"] == ticker,
                    f"preview line {line} shows {rows[i].get('Ticker')!r}, edited to {ticker!r}",
                )

    def _check_convert(self, resp, m: inputs.FileModel, outcome: Outcome) -> None:
        c = m.counts()
        body = resp.get_json()
        if c.errors == 0:
            if not outcome.check(resp.status_code == 200, f"convert: status {resp.status_code}"):
                return
            outcome.check(
                body["message"] == f"Successfully converted {c.success} records",
                f"convert: {body['message']!r}",
            )
            _check_output(inputs.output_path(self.tree, m), m, outcome)
        else:
            if not outcome.check(resp.status_code == 400, f"convert: status {resp.status_code}"):
                return
            outcome.check(
                body["message"] == f"Conversion failed with {c.errors} errors"
                and len(body["errors"]) == min(20, c.errors),
                f"convert: {body['message']!r}, {len(body['errors'])} errors listed",
            )

    def _check_process(self, resp, _m, outcome: Outcome) -> None:
        """Totals over every file (edits included); outputs are written
        for the clean files only, since the process request gates on
        errors."""
        if not outcome.check(resp.status_code == 200, f"process: status {resp.status_code}"):
            return
        body = resp.get_json()
        exp = inputs.expected_totals(self.models)
        got = (body["success_count"], body["skipped_count"], body["error_count"])
        outcome.check(
            got == (exp.success, exp.skipped, exp.errors),
            f"process totals {got} != expected {(exp.success, exp.skipped, exp.errors)}",
        )
        outcome.check(
            len(body["errors"]) == min(50, exp.errors),
            f"process lists {len(body['errors'])} errors, expected {min(50, exp.errors)}",
        )
        for m in self.models:
            out = inputs.output_path(self.tree, m)
            if m.counts().errors == 0:
                _check_output(out, m, outcome)
            else:
                outcome.check(not out.exists(), f"process wrote {out.name} despite its errors")

    def op(self, spark, outcome: Outcome) -> Op:
        outcome.attempted += 1
        half = len(self.models) // 2  # files [0, half) are clean
        clean, dirty = (int(x) for x in self.rng.integers(0, half, 2))
        f, g = self.models[clean], self.models[dirty + half]
        if self.cycles % 2:
            f, g = g, f
        self.cycles += 1
        seconds = stolen = 0.0
        for kind, send, check, m in (
            ("edit", self._edit, self._check_edit, f),
            ("preview", self._preview, self._check_preview, f),
            ("convert", self._convert, self._check_convert, g),
            ("process", self._process, self._check_process, None),
        ):
            resp, t, st = _timed(self.tracer, kind, lambda: send(m))
            self.request_times[kind].append(t)
            seconds += t
            stolen += st
            # untimed, and before the next request: the process request
            # rewrites the output the convert check reads
            check(resp, m, outcome)
        return Op("cycle", seconds, stolen)

    def warm(self, spark, outcome: Outcome) -> None:
        for _ in range(self.WARM_CYCLES):
            self.op(spark, outcome)
        for times in self.request_times.values():
            times.clear()

    def report(self, ops: list[Op]) -> list[str]:
        lines, requests = [], []
        for kind, times in self.request_times.items():
            requests += times
            lines.append(f"dashboard.{kind}_p50_s {statistics.median(times):.4f} s (n={len(times)})")
        lines.append(f"dashboard.request_p50_s {statistics.median(requests):.4f} s (n={len(requests)})")
        tail = tail_percentile(requests)
        if tail:
            lines.append(f"dashboard.request_p{tail[0]}_s {tail[1]:.4f} s (n={len(requests)})")
        else:
            lines.append(f"dashboard.request tail: n={len(requests)}, too few for a percentile with 10 above")
        return lines

    def trace_layers(self) -> None:
        from csv_etl_spark import api, orchestrate
        from csv_etl_spark.sources import edits

        for endpoint, kind in (("preview", "preview"), ("update_row", "update"),
                               ("convert", "convert"), ("process", "process")):
            self.tracer.wrap(self.app.view_functions, endpoint, f"api.{kind}", "api")
        self.tracer.wrap(orchestrate, "process_source", "orchestrate.process_source", "orchestrate")
        _trace_sources_and_plans(self.tracer, [api, edits, orchestrate])


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


class Curation(Workload):
    """Two operator queries on the fixed sf0.01 tables.  The seed only
    rotates the query order.  The first pass (untimed) collects every
    result and checks it against the query's DuckDB oracle; every later
    pass must reproduce the same output fingerprint.  One more untimed
    pass warms the JIT up before the timed ones."""

    name = "curation"
    WARM_PASSES = 2

    def prepare(self) -> None:
        k = self.seed % len(CURATION_QUERIES)
        self.order = CURATION_QUERIES[k:] + CURATION_QUERIES[:k]
        if self.smoke:
            self.order = ["corr_lineitem"]
        self.fingerprints: dict[str, tuple] = {}
        self.pass_times: dict[str, list[float]] = {q: [] for q in self.order}

    def make_app(self, spark) -> None:
        import __spark_entry__

        from perfbench import caches

        self.registry = __spark_entry__.queries()
        self.caches = caches.find_caches()

    def _observed(self, df):
        """``df`` with an order-insensitive output fingerprint attached as
        an observed metric, read back after the action.  It stays inside
        the timed pass: on 4 cores it added about 0.045 s to a 3.7 s pass
        (0.03 s to corr_lineitem's execution, under 0.02 s to
        record_clusters')."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
        return df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(F.shiftright(h, 24)).alias("h")), obs

    def _oracles(self, results: dict) -> None:
        import duckdb

        import __spark_entry__
        from scripts.check_oracle import canon

        sql = __spark_entry__.oracle_sql()
        # one thread: the oracle runs beside Spark's first pass
        con = duckdb.connect(config={"threads": 1})
        for t in sorted({t for ts in CURATION_INPUTS.values() for t in ts}):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{CURATION_TABLES / t}.parquet'")
        for q in self.order:
            results[q] = canon(con.execute(sql[q]).fetchdf())
        con.close()

    def warm(self, spark, outcome: Outcome) -> None:
        from perfbench import caches
        from scripts.check_oracle import canon

        caches.clear_all(self.caches)
        expected: dict = {}
        oracle = threading.Thread(target=self._oracles, args=(expected,), name="duckdb-oracle")
        oracle.start()
        got, op = {}, {}
        try:
            for q in self.order:
                outcome.attempted += 1
                op[q] = outcome.attempted
                odf, obs = self._observed(self.registry[q](spark, str(CURATION_TABLES)))
                got[q] = canon(odf.toPandas())
                self.fingerprints[q] = (obs.get["n"], obs.get["h"])
        finally:
            oracle.join()
        for q in self.order:
            if not outcome.check(q in expected, f"{q}: oracle did not run", op[q]):
                continue
            (sn, scols, srows), (on, ocols, orows) = got[q], expected[q]
            outcome.check(scols == ocols, f"{q}: columns {scols} != oracle {ocols}", op[q])
            outcome.check(sn == on, f"{q}: {sn} rows != oracle {on}", op[q])
            outcome.check(srows == orows, f"{q}: values differ from the oracle", op[q])
        for _ in range(self.WARM_PASSES):
            self.op(spark, outcome)
        for times in self.pass_times.values():
            times.clear()

    def _query(self, spark, q: str, outcome: Outcome) -> None:
        t = self.tracer
        with t.span(f"operators.{q}.build", "operators"):
            df = self.registry[q](spark, str(CURATION_TABLES))
        odf, obs = self._observed(df)
        if t.enabled:
            with t.span(f"operators.{q}.plan", "operators"):
                odf._jdf.queryExecution().executedPlan()
        with t.span(f"operators.{q}.exec", "operators"):
            odf.write.format("noop").mode("overwrite").save()
        fp = (obs.get["n"], obs.get["h"])
        outcome.check(fp == self.fingerprints[q], f"{q}: output fingerprint {fp} != first pass")

    def op(self, spark, outcome: Outcome) -> Op:
        from perfbench import caches

        caches.clear_all(self.caches)
        outcome.attempted += 1
        total = stolen = 0.0
        with self.tracer.span("bench.pass", "bench"):
            for q in self.order:
                t0, s0 = time.perf_counter(), stolen_cpu_s()
                self._query(spark, q, outcome)
                dt = time.perf_counter() - t0
                stolen += stolen_cpu_s() - s0
                self.pass_times[q].append(dt)
                total += dt
        return Op("pass", total, stolen)

    def report(self, ops: list[Op]) -> list[str]:
        lines = [f"curation.pass_s {statistics.median(o.seconds for o in ops):.4f} s (n={len(ops)} passes)"]
        for q, times in self.pass_times.items():
            lines.append(f"curation.{q}_s {statistics.median(times):.4f} s (n={len(times)})")
        return lines
