"""The two perfbench workloads.

Each workload is driven by one caller in a closed loop: the next call
starts when the previous one returns. `window()` runs the timed window and
returns a `Window` with what it measured; outputs are kept and checked
after the window. With a `Tracer`, the same window also records layer
spans, and `layer_metrics()` turns them into the per-layer figures.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import check, gen
from perfbench.trace import Tracer, duration, plan_metrics

SKEW_FNS = ("rebalance_by_size", "spread_for_kernel")
WARM_UNITS = 1
WARM_STEPS = 2
# Fewest timed calls per window, whatever --seconds says: with fewer, a
# median is a mean (two units) or a single sample.
MIN_UNITS = 3
MIN_INGEST_STEPS = 4

# (queries() entry, layer module) of the corpus operators, in suite order.
CORPUS_OPS = (
    ("quality_score", "textstats"), ("corpus_filter", "textstats"),
    ("dedup_clusters", "dedup"), ("simhash_near_dups", "dedup"),
    ("decontaminate", "textstats"), ("tfidf_top_terms", "textstats"),
    ("pack_sequences", "textstats"), ("ann_ivf", "similarity"),
    ("semantic_dedup", "similarity"), ("embedding_near_dups", "dedup"),
)


class _NoTrace:
    """Stand-in tracer for untraced windows: spans cost nothing."""

    class _Null:
        def __enter__(self):
            return None

        def __exit__(self, *exc):
            return None

    _null = _Null()

    def span(self, name):
        return self._null


NO_TRACE = _NoTrace()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Window:
    """What one timed window measured.

    - `docs` documents were fully extracted and delivered in `docs_s`
      seconds of calls (`docs_per_s`);
    - `steps` holds the latency of each closed-loop step (`step_s_p50`,
      `step_s_tail`);
    - `walls` holds the wall of each unit of work, from its input to all
      its outputs (`wall_s`).
    """

    def __init__(self):
        self.docs = 0
        self.docs_s = 0.0
        self.steps: list[float] = []
        self.walls: list[float] = []

    def e2e(self) -> dict[str, float]:
        return {"docs_per_s": self.docs / self.docs_s,
                "step_s_p50": statistics.median(self.steps),
                "wall_s": statistics.median(self.walls)}


class Workload:
    name = ""
    # the e2e figure whose traced minus untraced value is the tracing
    # overhead: one measured on equally warm calls in both windows
    overhead_basis = "wall_s"

    def __init__(self, spark, inputs: Path, scratch: Path):
        self.spark = spark
        self.inputs = inputs
        self.scratch = scratch
        self.cores = spark.sparkContext.defaultParallelism
        self.tracer: Tracer | None = None
        # (calling layer span, skew helper, repartitioned?, output)
        self.skew_calls: list[tuple[str, str, bool, object]] = []
        self.plans: list[dict] = []

    # -- hooks -------------------------------------------------------------
    def warmup(self) -> None:
        """Untimed calls for lazy set-up and JIT warm-up; their outputs are
        checked like any other."""

    def new_window(self) -> None:
        """Called before the traced window."""

    def window(self, tr, seconds: float) -> Window:
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        raise NotImplementedError

    # -- tracing -----------------------------------------------------------
    def start_trace(self, tracer: Tracer) -> None:
        from pdf_parse_bench_spark.operators import skew

        self.tracer = tracer
        self.skew_calls = []
        for fn in SKEW_FNS:
            tracer.patch(skew, fn, f"skew.{fn}",
                         on_result=lambda s, args, kwargs, out, fn=fn:
                         self._skew_call(fn, s, args, kwargs, out))

    def _skew_call(self, fn: str, span: dict, args, kwargs, out) -> None:
        """Keep each skew helper's output with the name of the layer call
        it ran under, and whether it repartitioned its input (the spread
        returns its input unchanged below its size gate)."""
        df = args[0] if args else kwargs["df"]
        self.skew_calls.append((self.tracer.parent(span)["name"], fn,
                                out is not df, out))

    def stop_trace(self) -> None:
        self.tracer.unpatch()

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tracer
        out: dict[str, float] = {}
        probes = {fn: [duration(s) for s in tr.named(f"skew.{fn}")]
                  for fn in SKEW_FNS}
        out["skew.rebalance_probe_s"] = _median(probes["rebalance_by_size"])
        out["skew.spread_probe_s"] = _median(probes["spread_for_kernel"])
        out["skew.jobs_per_call"] = _median(
            [len(tr.jobs(s)) for fn in SKEW_FNS for s in tr.named(f"skew.{fn}")])
        spreads = [moved for _, fn, moved, _ in self.skew_calls
                   if fn == "spread_for_kernel"]
        out["skew.spread_engaged_frac"] = (
            sum(spreads) / len(spreads) if spreads else 0.0)
        skewed = self.partition_skew_output()
        if skewed is not None:
            out["skew.partition_rows_max_over_mean"] = _rows_max_over_mean(
                skewed)
        boiler = tr.named("extract.compute_boilerplate")
        out["extract.boilerplate_s"] = _median([duration(s) for s in boiler])
        return out

    def partition_skew_output(self):
        """DataFrame whose partition balance is reported: by default the
        last skew helper output that repartitioned its input."""
        return next((df for _, _, moved, df in reversed(self.skew_calls)
                     if moved), None)

    def scan_metrics(self, *reads) -> dict[str, float]:
        """Reading every input with all columns materialized (noop sink):
        median of three, and the scans' task count."""
        times, tasks = [], 0
        for _ in range(3):
            t0 = time.perf_counter()
            for read in reads:
                read().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        for read in reads:
            tasks += read().rdd.getNumPartitions()
        return {"sources.scan_s": _median(times), "sources.scan_tasks": tasks}


def _rows_max_over_mean(df) -> float:
    from pyspark.sql import functions as F

    n = df.rdd.getNumPartitions()
    counts = [r["count"] for r in df.select(F.spark_partition_id().alias("p"))
              .groupBy("p").count().collect()]
    total = sum(counts)
    return max(counts) / (total / n) if total else 0.0


def _udf_metrics(plans: list[dict]) -> dict:
    """Per-unit Python-boundary and shuffle totals from the collected
    DataFrames' final plans (median over traced units)."""
    names = {"udf_python_ms": "pythonTotalTime", "udf_boot_ms": "pythonBootTime",
             "udf_init_ms": "pythonInitTime", "udf_bytes_sent": "pythonDataSent",
             "udf_bytes_received": "pythonDataReceived",
             "udf_rows_received": "pythonNumRowsReceived",
             "shuffle_bytes": "shuffleBytesWritten"}
    return {"extract." + k: _median([p.get(v, 0) for p in plans])
            for k, v in names.items()}


class _Corpus:
    """One bulk corpus: a full pass reads it, extracts every document and
    delivers the spans to the driver as Arrow."""

    def __init__(self, spark, d: Path):
        self.spark = spark
        self.dir = d
        self.golden = pq.read_table(d / "golden.parquet")
        self.docs = len(set(self.golden.column("doc_id").to_pylist()))
        self.outputs = []

    def run(self, tr) -> tuple[object, float]:
        t0 = time.perf_counter()
        with tr.span(self.phase):
            out = self.extract(tr)
            with tr.span("extract.deliver"):
                self.outputs.append(out.toArrow())
        return out, time.perf_counter() - t0

    def check(self, label: str) -> tuple[int, int]:
        attempted = failed = 0
        for i, tbl in enumerate(self.outputs):
            a, f = check.check_spans(tbl, self.golden, f"{label} pass {i}")
            attempted += a
            failed += f
        return attempted, failed


class _MarkdownCorpus(_Corpus):
    phase = "markdown_pass"

    def read(self):
        from pdf_parse_bench_spark.sources import read_fixture
        return read_fixture(self.spark, self.dir, "parsed_markdown")

    def extract(self, tr):
        from pdf_parse_bench_spark.operators.extract import (
            compute_boilerplate, extract_spans)

        with tr.span("sources.read_fixture"):
            md = self.read()
        with tr.span("extract.compute_boilerplate"):
            self.boilerplate = frozenset(
                r.line for r in compute_boilerplate(md).collect())
        with tr.span("extract.extract_spans"):
            return extract_spans(md, boilerplate=self.boilerplate)

    def kernel_cpu_s(self) -> float:
        """Spark-free, single-thread CPU time of the markdown kernel over
        the same documents."""
        from pdf_parse_bench_spark.kernels.markdown import parse_markdown

        mds = pq.read_table(self.dir / "parsed_markdown.parquet").column(
            "markdown").to_pylist()
        t0 = time.process_time()
        for md in mds:
            parse_markdown(md, self.boilerplate)
        return time.process_time() - t0


class _PdfCorpus(_Corpus):
    phase = "pdf_pass"

    def read(self):
        from pdf_parse_bench_spark.sources import read_pdf_corpus
        return read_pdf_corpus(self.spark, str(self.dir / "pdfs"))

    def extract(self, tr):
        from pdf_parse_bench_spark.operators.extract import pdf_spans

        with tr.span("sources.read_pdf_corpus"):
            df = self.read()
        with tr.span("extract.pdf_spans"):
            return pdf_spans(df)

    def kernel_cpu_s(self) -> float:
        """Spark-free, single-thread CPU time of the PDF kernel over the
        same documents."""
        from pdf_parse_bench_spark.kernels.pdftext import extract_pdf_spans

        blobs = [f.read_bytes() for f in sorted((self.dir / "pdfs").iterdir())]
        t0 = time.process_time()
        for b in blobs:
            extract_pdf_spans(b)
        return time.process_time() - t0


class BulkExtract(Workload):
    """Each unit is a full pass over a markdown corpus (compute_boilerplate
    then extract_spans) followed by a full pass over a raw-PDF corpus
    (pdf_spans); each pass is one step."""

    name = "bulk_extract"

    def __init__(self, spark, inputs, scratch):
        super().__init__(spark, inputs, scratch)
        self.md = _MarkdownCorpus(spark, inputs / "markdown")
        self.pdf = _PdfCorpus(spark, inputs / "pdf")

    def warmup(self) -> None:
        """Unit times keep falling over the first few units."""
        for _ in range(WARM_UNITS):
            self.unit(NO_TRACE)

    def unit(self, tr) -> tuple[float, float]:
        with tr.span("unit"):
            md_out, md_s = self.md.run(tr)
            pdf_out, pdf_s = self.pdf.run(tr)
        if tr is not NO_TRACE:
            md_plan, pdf_plan = plan_metrics(md_out), plan_metrics(pdf_out)
            self.plans.append({k: md_plan.get(k, 0) + pdf_plan.get(k, 0)
                               for k in md_plan.keys() | pdf_plan.keys()})
        return md_s, pdf_s

    def window(self, tr, seconds: float) -> Window:
        """Units back to back until `seconds` have passed and at least
        MIN_UNITS have run (the unit running at the deadline completes)."""
        w = Window()
        deadline = time.perf_counter() + seconds
        while len(w.walls) < MIN_UNITS or time.perf_counter() < deadline:
            md_s, pdf_s = self.unit(tr)
            w.steps += [md_s, pdf_s]
            w.walls.append(md_s + pdf_s)
            w.docs += self.md.docs + self.pdf.docs
            w.docs_s += md_s + pdf_s
        return w

    def check(self) -> tuple[int, int]:
        a1, f1 = self.md.check(f"{self.name} markdown")
        a2, f2 = self.pdf.check(f"{self.name} pdf")
        return a1 + a2, f1 + f2

    def partition_skew_output(self):
        """The markdown pass's rebalanced input (the north path)."""
        return next(df for caller, _, _, df in reversed(self.skew_calls)
                    if caller == "extract.extract_spans")

    def layer_metrics(self) -> dict[str, float]:
        out = super().layer_metrics()
        tr = self.tracer
        delivers = {c.phase: [] for c in (self.md, self.pdf)}
        for s in tr.named("extract.deliver"):
            delivers[tr.parent(s)["name"]].append(duration(s))
        for metric, call, phase in (
                ("extract.spans_s", "extract.extract_spans", self.md.phase),
                ("extract.pdf_spans_s", "extract.pdf_spans", self.pdf.phase)):
            calls = [duration(s) for s in tr.named(call)]
            out[metric] = _median([a + b for a, b in zip(calls, delivers[phase])])
        out.update(_udf_metrics(self.plans))
        md_cpu, pdf_cpu = self.md.kernel_cpu_s(), self.pdf.kernel_cpu_s()
        out["kernels.markdown_docs_per_s_1core"] = self.md.docs / md_cpu
        out["kernels.pdf_docs_per_s_1core"] = self.pdf.docs / pdf_cpu
        action_s = (_median(delivers[self.md.phase])
                    + _median(delivers[self.pdf.phase]))
        out["extract.kernel_share"] = (md_cpu + pdf_cpu) / (action_s * self.cores)
        out.update(self.scan_metrics(self.md.read, self.pdf.read))
        return out


class _Ingest:
    """Incremental ingest into a resumable store. Each step appends one
    batch file, recomputes the boilerplate over all inputs so far and runs
    one resumable pass with the batch's injected failures; a final step
    with no new docs drains the retries, and `read_resumed` must equal
    golden for every ingested doc."""

    def __init__(self, spark, d: Path, scratch: Path):
        self.spark = spark
        self.scratch = scratch
        self.batches = sorted((d / "batches").iterdir())
        self.fail_docs = frozenset(
            pq.read_table(d / "fail_docs.parquet").column("doc_id").to_pylist())
        self.golden = pq.read_table(d / "golden.parquet")
        self.results = []
        self.store = None

    def new_window(self) -> None:
        """Fresh store whose first (untimed) steps ingest the base batch
        and WARM_STEPS step batches, so every window replays the same steps
        against the same growth."""
        if self.store is not None:
            shutil.rmtree(self.store, ignore_errors=True)
        self.store = self.scratch / f"store{len(self.results)}"
        (self.store / "inputs.parquet").mkdir(parents=True)
        self.next_batch = 0
        self.ingested: list[str] = []
        self.step_files: list[int] = []
        self._append_batch()
        self._step(NO_TRACE, frozenset())
        # per-step fixed costs keep falling over the first steps (JIT,
        # codegen cache): the first WARM_STEPS steps are untimed, and the
        # window runs its steps after its suites
        for _ in range(WARM_STEPS):
            self.step(NO_TRACE)
        self.step_files.clear()

    def _append_batch(self) -> frozenset[str]:
        src = self.batches[self.next_batch]
        shutil.copyfile(src, self.store / "inputs.parquet" / src.name)
        self.next_batch += 1
        keys = pq.read_table(src, columns=["doc_id"]).column("doc_id").to_pylist()
        self.ingested.extend(keys)
        return frozenset(keys)

    def _dirs(self):
        return self.store / "out", self.store / "checkpoint"

    def read(self):
        from pdf_parse_bench_spark.sources import read_fixture
        return read_fixture(self.spark, self.store, "inputs")

    def _step(self, tr, fail: frozenset[str]) -> None:
        from pdf_parse_bench_spark.operators.extract import compute_boilerplate
        from pdf_parse_bench_spark.operators.resume import run_resumable

        out_dir, ckpt = self._dirs()
        with tr.span("sources.read_fixture"):
            md = self.read()
        with tr.span("extract.compute_boilerplate"):
            self.boilerplate = frozenset(
                r.line for r in compute_boilerplate(md).collect())
        with tr.span("resume.run_resumable"):
            run_resumable(md, str(out_dir), str(ckpt), self.boilerplate, fail)

    def _files(self) -> int:
        return sum(len(files) for d in self._dirs() if d.exists()
                   for _, _, files in os.walk(d))

    def step(self, tr) -> float:
        """Append the next batch and ingest it; the step's wall time."""
        if self.next_batch >= len(self.batches):
            raise RuntimeError("ingest batches exhausted: raise "
                               "gen.INGEST_MAX_STEPS")
        new = self._append_batch()
        before = self._files()
        t0 = time.perf_counter()
        with tr.span("ingest_step"):
            self._step(tr, self.fail_docs & new)
        dt = time.perf_counter() - t0
        self.step_files.append(self._files() - before)
        return dt

    def finish(self, tr) -> float:
        """Drain the retries and deliver the store; the wall time of both."""
        from pdf_parse_bench_spark.operators.resume import read_resumed

        out_dir, ckpt = self._dirs()
        t0 = time.perf_counter()
        with tr.span("ingest_drain"):
            self._step(tr, frozenset())
            t1 = time.perf_counter()
            with tr.span("resume.read_resumed"):
                tbl = read_resumed(self.spark, str(out_dir), str(ckpt)).toArrow()
        t2 = time.perf_counter()
        self.read_s = t2 - t1
        self.results.append((tbl, list(self.ingested)))
        return t2 - t0

    def check(self, label: str) -> tuple[int, int]:
        import pyarrow.compute as pc

        attempted = failed = 0
        for i, (tbl, keys) in enumerate(self.results):
            golden = self.golden.filter(pc.is_in(
                self.golden.column("doc_id"), value_set=pa.array(keys)))
            a, f = check.check_spans(tbl, golden, f"{label} store {i}")
            attempted += a
            failed += f
        return attempted, failed

    def layer_metrics(self, tr: Tracer) -> dict[str, float]:
        from pdf_parse_bench_spark.kernels.markdown import parse_markdown

        out = {"resume.pending_s": _median(
                   [duration(s) for s in tr.named("resume.pending")]),
               "resume.run_s": _median(
                   [duration(s) for s in tr.named("resume.run_resumable")]),
               "resume.files_per_step": _median(self.step_files),
               "resume.read_s": self.read_s}
        out_dir, ckpt = self._dirs()
        written = sum(f.stat().st_size for d in (out_dir, ckpt)
                      for f in d.rglob("*") if f.is_file())
        out["resume.bytes_written_per_doc"] = written / len(self.ingested)
        lineage = pq.read_table(ckpt).to_pandas()
        errored = set(lineage.loc[lineage.status == "error", "doc_id"])
        recovered = errored & set(lineage.loc[lineage.status == "ok", "doc_id"])
        injected = self.fail_docs & set(self.ingested)
        out["resume.retried_docs_frac"] = (
            len(recovered) / len(injected) if injected else 0.0)
        mds = pq.read_table(self.store / "inputs.parquet").column(
            "markdown").to_pylist()
        t0 = time.process_time()
        for md in mds:
            parse_markdown(md, self.boilerplate)
        out["kernels.markdown_docs_per_s_1core"] = (
            len(mds) / (time.process_time() - t0))
        return out


class _Curate:
    """The ten corpus operators (queries() entries) over the seeded
    documents/embeddings tables; one suite runs all ten."""

    def __init__(self, spark, d: Path):
        import __spark_entry__ as entry

        self.spark = spark
        self.dir = d
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.outputs: list[dict] = []

    def run(self, op: str):
        return self.queries[op](self.spark, str(self.dir)).toPandas()

    def suite(self, tr) -> float:
        """All ten operators, one after the other; the suite's wall."""
        results = {}
        t0 = time.perf_counter()
        with tr.span("suite"):
            for op, module in CORPUS_OPS:
                with tr.span(f"{module}.{op}"):
                    results[op] = self.run(op)
        self.outputs.append(results)
        return time.perf_counter() - t0

    def oracle(self) -> dict:
        """oracle_sql() results on DuckDB views over the seeded files,
        cached beside the inputs under a hash of the SQL."""
        import hashlib
        import pickle

        import duckdb

        sql = {op: self.oracle_sql[op] for op, _ in CORPUS_OPS}
        key = hashlib.sha1(repr(sorted(sql.items())).encode()).hexdigest()[:12]
        path = self.dir / f"oracle-{key}.pkl"
        if path.exists():  # written by this class, below
            return pickle.loads(path.read_bytes())
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.dir / (t + '.parquet')}'")
            result = {op: con.execute(q).fetchdf() for op, q in sql.items()}
        finally:
            con.close()
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_bytes(pickle.dumps(result))
        tmp.rename(path)
        return result

    def check(self, label: str) -> tuple[int, int]:
        oracle = self.oracle()
        attempted = failed = 0
        for i, results in enumerate(self.outputs):
            for op, _module in CORPUS_OPS:
                attempted += 1
                if not check.compare_rows(results[op], oracle[op],
                                          f"{label} suite {i} {op}"):
                    failed += 1
        return attempted, failed

    def layer_metrics(self, tr: Tracer) -> dict[str, float]:
        out = {}
        for op, module in CORPUS_OPS:
            spans = tr.named(f"{module}.{op}")
            out[f"{module}.{op}_s"] = _median([duration(s) for s in spans])
            out[f"{module}.{op}_shuffle_bytes"] = _median(
                [tr.shuffle_bytes(s) for s in spans])
            out[f"{module}.{op}_jobs"] = _median([len(tr.jobs(s)) for s in spans])
        return out


class IngestCurate(Workload):
    """Calls whose cost is mostly fixed per call (planning, spread probes,
    small jobs and appends). The window runs the ten corpus operators as a
    suite, then ingests batches into the resumable store, one step per
    batch, then drains and reads the store."""

    name = "ingest_curate"
    # the untraced window's suite is the process's first, the traced one's
    # is not; the ingest steps of both windows follow the same warm-up
    overhead_basis = "step_s_p50"

    def __init__(self, spark, inputs, scratch):
        super().__init__(spark, inputs, scratch)
        self.ingest = _Ingest(spark, inputs / "ingest", scratch)
        self.curate = _Curate(spark, inputs / "ops")

    def warmup(self) -> None:
        """The ingest warm-up steps beside the operators' DuckDB oracle.
        The operators get no warm-up: a corpus job calls each of them once,
        and the first suite of a process took the same time (within 2%) in
        every process, while a suite after a warm-up suite still varied by
        ~10% from one suite to the next."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self.curate.oracle)
            self.ingest.new_window()
            oracle.result()

    def new_window(self) -> None:
        self.ingest.new_window()

    def window(self, tr, seconds: float) -> Window:
        """Operator suites until half of `seconds` has passed, at least
        one; then ingest steps until `seconds` have passed and at least
        MIN_INGEST_STEPS have run; then the drain and read of the store.
        (Steps run after the suites: right after the warm-up, step times
        were still falling.)"""
        w = Window()
        t0 = time.perf_counter()
        while not w.walls or time.perf_counter() < t0 + seconds / 2:
            w.walls.append(self.curate.suite(tr))
        while (len(w.steps) < MIN_INGEST_STEPS
               or time.perf_counter() < t0 + seconds):
            w.steps.append(self.ingest.step(tr))
        w.docs = gen.INGEST_BATCH_DOCS * len(w.steps)
        w.docs_s = sum(w.steps) + self.ingest.finish(tr)
        return w

    def check(self) -> tuple[int, int]:
        a1, f1 = self.ingest.check(f"{self.name} ingest")
        a2, f2 = self.curate.check(f"{self.name} ops")
        return a1 + a2, f1 + f2

    def start_trace(self, tracer: Tracer) -> None:
        from pdf_parse_bench_spark.operators import resume

        super().start_trace(tracer)
        tracer.patch(resume, "pending", "resume.pending")

    def layer_metrics(self) -> dict[str, float]:
        from pdf_parse_bench_spark.sources import read_table

        out = super().layer_metrics()
        out.update(self.ingest.layer_metrics(self.tracer))
        out.update(self.curate.layer_metrics(self.tracer))
        out.update(self.scan_metrics(
            self.ingest.read,
            *(lambda t=t: read_table(self.spark, str(self.curate.dir), t)
              for t in ("documents", "embeddings"))))
        return out


WORKLOADS = {w.name: w for w in (BulkExtract, IngestCurate)}
