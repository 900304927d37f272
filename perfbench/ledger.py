"""The traced run: per-layer numbers measured from outside the program.

Pipeline self times are differences between nested cut points, each a
prefix of the pipeline written to the ``noop`` sink, and the full ``run()``:

    scan -> +classify -> +exchange -> +extract -> +assemble -> run()

so they add up to the traced ``run()`` wall unless a difference is negative
(clipped to 0). The reconciliation compares their sum with the ``run()``
walls measured with tracing off, and fails if any unclipped difference is
negative. Each extractor is timed alone over a pre-materialised table of
the spans it would receive. The resume layer is ``run(resume=True)`` over
the root the traced ``run()`` just committed, less a plain ``run()`` of
exactly the documents it reprocesses (the FAILED ones) into an empty root.

Stage numbers come from Spark's own REST status store, so this run enables
the UI; the benchmark records a span around every call into the program and
keeps the spans in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

from workloads import disk_usage, more, timed

CUTS = ("scan", "classify", "exchange", "extract", "assemble")


class Tracer:
    """Spans (name, start, end, parent) sharing one trace id."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"trace_id": self.trace_id, "span_id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


class StageStore:
    """Completed stages and jobs from the UI's REST API, attributed to a
    call by id: Spark numbers stages and jobs in submission order."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the traced run needs spark.ui.enabled=true")
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.bus = sc._jsc.sc().listenerBus()
        self.stage_mark = self.job_mark = -1
        self.since()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def since(self) -> tuple[list[dict], list[dict]]:
        """Stages and jobs completed since the previous call."""
        # the status store is fed by the asynchronous listener bus
        self.bus.waitUntilEmpty(30_000)
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] > self.stage_mark]
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self.job_mark]
        self.stage_mark = max([self.stage_mark] + [s["stageId"] for s in stages])
        self.job_mark = max([self.job_mark] + [j["jobId"] for j in jobs])
        return stages, jobs

    def task_skew(self, stage: dict) -> float:
        """max / median task executorRunTime of one stage."""
        ts = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                       "/taskSummary?quantiles=0.5,1.0")
        p50, mx = ts["executorRunTime"]
        return mx / max(p50, 1e-9)


def _sum(stages: list[dict], key: str) -> float:
    return float(sum(s.get(key, 0) for s in stages))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cut_points(docs, n: int) -> dict:
    """The nested pipeline prefixes. ``classify`` and ``exchange`` restate
    the first steps of ``pipeline.span_level_extract`` from its public
    parts, so the benchmark can stop the plan where the program does not."""
    from pyspark.sql import functions as F

    from cies_ocr_java_spark.operators.classify import sniff_kind, span_invalid
    from cies_ocr_java_spark.plans import pipeline as pl

    classified = pl.flatten_spans(docs).withColumn(
        "ekind", sniff_kind(F.col("kind"), F.col("text"), F.col("media_ref"))
    ).withColumn(
        "invalid",
        F.col("kind").isNull() & F.col("text").isNull() & F.col("media_ref").isNull()
        | span_invalid(F.col("ekind"), F.col("text"), F.col("media_ref")),
    )
    return {
        "scan": docs,
        "classify": classified,
        "exchange": classified.repartition(n, F.col("doc_id"), F.col("offset")),
        "extract": pl.span_level_extract(docs, repartition_to=n),
        "assemble": pl.extract_spans(docs, repartition_to=n),
    }


def route_counts(docs, classified) -> dict[str, int]:
    """Per-route span counts. text/html/media/invalid come from the
    classifier; pdf_ocr and the failures from span_level_extract's output;
    pdf_layer is the rest of the output's non-OCR text spans. So the routes
    sum to the classified span count only if the output has one row per
    input span with matching media and failure counts."""
    from pyspark.sql import functions as F

    from cies_ocr_java_spark.plans import pipeline as pl

    by_kind = {(r["ekind"], r["invalid"]): r["count"]
               for r in classified.groupBy("ekind", "invalid").count().collect()}
    ok = lambda k: by_kind.get((k, False), 0)  # noqa: E731
    out = pl.span_level_extract(docs).agg(
        F.sum(F.col("used_ocr").cast("long")).alias("ocr"),
        F.sum(F.col("failed").cast("long")).alias("failed"),
        F.sum((~F.col("failed") & ~F.col("used_ocr")
               & (F.col("out_kind") == "text")).cast("long")).alias("layer_text"),
    ).collect()[0]
    invalid = sum(c for (_, inv), c in by_kind.items() if inv)
    return {
        "route.text": ok("text"),
        "route.html": ok("html"),
        "route.pdf_layer": (out["layer_text"] or 0) - ok("text") - ok("html"),
        "route.pdf_ocr": out["ocr"] or 0,
        "route.media": ok("media"),
        "route.invalid": invalid,
        "route.malformed": (out["failed"] or 0) - invalid,
        "classify.spans": sum(by_kind.values()),
    }


def extractor_tables(spark, classified, root: str, n: int) -> dict[str, tuple[str, int]]:
    """Write, untimed, the spans each extractor receives in the pipeline:
    layer -> (parquet dir, payload bytes). OCR gets the PDF spans whose
    text layer is insufficient."""
    from pyspark.sql import functions as F

    from cies_ocr_java_spark.operators.pdf_extract import pdf_layer_cols, text_sufficient

    ok = classified.where(~F.col("invalid"))
    pdf = ok.where(F.col("ekind") == "pdf")
    cols = pdf_layer_cols(F.col("text"))
    ocr = pdf.where(~cols["pdf_malformed"]
                    & ~text_sufficient(cols["pdf_text"], cols["page_count"]))
    tables = {"pdf_extract": pdf, "ocr_mock": ocr,
              "html_extract": ok.where(F.col("ekind") == "html"),
              "text": ok.where(F.col("ekind") == "text")}
    out = {}
    for layer, df in tables.items():
        path = os.path.join(root, layer)
        df.select("text").repartition(n).write.mode("overwrite").parquet(path)
        size = spark.read.parquet(path).agg(F.sum(F.length("text"))).collect()[0][0]
        out[layer] = (path, int(size or 0))
    return out


def extractor_frame(spark, layer: str, path: str):
    from pyspark.sql import functions as F

    from cies_ocr_java_spark.functions.text import normalize_ws
    from cies_ocr_java_spark.operators.html_extract import html_main_text_col
    from cies_ocr_java_spark.operators.ocr_mock import ocr_text_col
    from cies_ocr_java_spark.operators.pdf_extract import pdf_layer_cols

    t = spark.read.parquet(path)
    if layer == "pdf_extract":
        return t.select(*[c.alias(k) for k, c in pdf_layer_cols(F.col("text")).items()])
    fn = {"ocr_mock": ocr_text_col, "html_extract": html_main_text_col,
          "text": normalize_ws}[layer]
    return t.select(fn(F.col("text")).alias("out"))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class PipelineLedger:
    """Cut points, extractors and the full run() over one docs frame."""

    def __init__(self, spark, docs, work: str, tracer: Tracer, store: StageStore):
        self.spark, self.docs, self.work = spark, docs, work
        self.tracer, self.store = tracer, store
        self.cores = spark.sparkContext.defaultParallelism
        self.n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.cuts = cut_points(docs, self.n)
        self.out = os.path.join(work, "ledger-out")
        self.rerun_out = os.path.join(work, "ledger-rerun")
        self.failed_path = os.path.join(work, "ledger-failed-docs")
        self.failed_docs = None
        with tracer.span("ledger.prepare"):
            self.routes = route_counts(docs, self.cuts["classify"])
            self.tables = extractor_tables(
                spark, self.cuts["classify"], os.path.join(work, "kinds"), self.n)
        store.since()
        self.rounds: list[dict] = []
        self.diffs: dict[str, float] = {}  # unclipped layer self times

    def round(self) -> None:
        from cies_ocr_java_spark.plans import pipeline as pl

        r = {}
        for name, df in self.cuts.items():
            with self.tracer.span(f"cut.{name}"):
                r[name], _ = timed(noop, df)
            r[f"{name}.stages"], _ = self.store.since()
        shutil.rmtree(self.out, ignore_errors=True)
        with self.tracer.span("run"):
            r["run"], m = timed(pl.run, self.spark, self.docs, self.out, resume=False)
        r["run.stages"], r["run.jobs"] = self.store.since()
        r["commit.bytes"], r["commit.files"] = disk_usage(self.out)
        self.resume_round(r)
        for layer, (path, _) in self.tables.items():
            with self.tracer.span(f"extractor.{layer}"):
                r[layer], _ = timed(noop, extractor_frame(self.spark, layer, path))
            self.store.since()
        self.rounds.append(r)

    def resume_round(self, r: dict) -> None:
        from cies_ocr_java_spark.plans import pipeline as pl
        from cies_ocr_java_spark.sources.snapshots import SnapshotTable

        if self.failed_docs is None:
            self.failed_docs = reprocessed_docs(
                self.spark, self.docs, self.out, self.failed_path)
        with self.tracer.span("resume"):
            r["resume"], m = timed(pl.run, self.spark, self.docs, self.out, resume=True)
        r["resume.docs"] = m["docs_processed"]
        with self.tracer.span("snapshots.read"):
            r["snapshots.read"], _ = timed(noop, SnapshotTable(
                os.path.join(self.out, "extracted_spans")).read(self.spark))
        shutil.rmtree(self.rerun_out, ignore_errors=True)
        with self.tracer.span("run.reprocessed"):
            r["rerun"], _ = timed(pl.run, self.spark, self.failed_docs,
                                  self.rerun_out, resume=False)
        self.store.since()

    def med(self, key: str, fn=lambda v: v) -> float:
        return _median([fn(r[key]) for r in self.rounds])

    def metrics(self) -> dict[str, float]:
        walls = {c: self.med(c) for c in (*CUTS, "run")}
        prev, out = 0.0, {}
        for c, layer in zip((*CUTS, "run"), (*CUTS, "commit")):
            self.diffs[layer] = walls[c] - prev
            out[f"{layer}.self_s"] = max(self.diffs[layer], 0.0)
            prev = walls[c]
        out["scan.tasks"] = self.med("scan.stages", lambda s: _sum(s, "numCompleteTasks"))
        # the stage store's inputBytes counts only parquet footers here
        out["scan.input_mb"] = sum(
            os.path.getsize(urlparse(f).path) for f in self.docs.inputFiles()) / 1e6
        shuffle = {c: self.med(f"{c}.stages", lambda s: _sum(s, "shuffleWriteBytes")) / 1e6
                   for c in ("exchange", "extract", "assemble")}
        out["exchange.shuffle_write_mb"] = shuffle["exchange"]
        out["assemble.shuffle_write_mb"] = max(shuffle["assemble"] - shuffle["extract"], 0.0)
        heavy = max(self.rounds[-1]["extract.stages"],
                    key=lambda s: s.get("executorRunTime", 0))
        out["exchange.task_skew"] = self.store.task_skew(heavy)
        out["commit.bytes_written"] = self.med("commit.bytes")
        out["commit.files_written"] = self.med("commit.files")
        out["run.jobs"] = self.med("run.jobs", len)
        out["run.executor_busy_frac"] = _median([
            _sum(r["run.stages"], "executorRunTime") / 1e3 / (r["run"] * self.cores)
            for r in self.rounds])
        for layer, (_, size) in self.tables.items():
            out[f"{layer}.self_s"] = self.med(layer)
            out[f"{layer}.mb_per_s"] = size / 1e6 / max(out[f"{layer}.self_s"], 1e-9)
        out.update(self.routes)
        used = self.routes["route.pdf_layer"] + self.routes["route.pdf_ocr"]
        out["pdf_extract.layer_used_frac"] = self.routes["route.pdf_layer"] / max(used, 1)
        out["resume.self_s"] = self.med("resume") - self.med("rerun")
        out["resume.docs_reprocessed"] = self.med("resume.docs")
        out["resume.docs_skipped"] = self.docs.count() - out["resume.docs_reprocessed"]
        out["snapshots.read_s"] = self.med("snapshots.read")
        return out


def reprocessed_docs(spark, docs, root: str, path: str):
    """The documents run(resume=True) reprocesses over ``root``: those not
    SUCCEEDED in its doc_state, written out so a plain run() can take them."""
    from pyspark.sql import functions as F

    from cies_ocr_java_spark import schema as S
    from cies_ocr_java_spark.sources.snapshots import SnapshotTable

    done = (SnapshotTable(os.path.join(root, "doc_state")).read(spark)
            .where(F.col("status") == S.STATUS_SUCCEEDED).select("doc_id").distinct())
    docs.join(done, "doc_id", "left_anti").write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def trace_pipeline(wl, spark, work: str, seconds: float, tracer, store) -> dict:
    """Ledger rounds over mixed_run's corpus for about ``seconds``."""
    ledger = PipelineLedger(spark, wl.docs, work, tracer, store)
    t0 = time.perf_counter()
    while more(t0, len(ledger.rounds), 1, seconds):
        with tracer.span("round", round=len(ledger.rounds)):
            ledger.round()
    return {"metrics": ledger.metrics(), "call_walls": [r["run"] for r in ledger.rounds],
            "layer_diffs": ledger.diffs}


def reconcile(layer_diffs: dict[str, float], untraced_walls: list[float]) -> dict:
    """The layer self times against the run() walls measured with tracing
    off: ok when no difference is negative and their sum is within 10% of
    the untraced median."""
    total = sum(max(d, 0.0) for d in layer_diffs.values())
    base = statistics.median(untraced_walls)
    negative = sorted(k for k, d in layer_diffs.items() if d < 0)
    rel = total / base - 1
    return {"layer_diffs": layer_diffs, "layer_sum_s": total, "untraced_run_s": base,
            "rel_gap": rel, "negative": negative,
            "ok": not negative and abs(rel) <= 0.10}


def trace_registry(wl, spark, seconds: float, tracer) -> dict:
    """Per-query walls over registry passes, and the empty-job floor."""
    from spec import REGISTRY_NAMES

    per: dict[str, list[float]] = {n: [] for n in wl.names}
    passes = []
    t0 = time.perf_counter()
    while more(t0, len(passes), 1, seconds):
        with tracer.span("pass", round=len(passes)):
            for d in wl.build_dirs:
                shutil.rmtree(d, ignore_errors=True)
            total = 0.0
            for name in wl.names:
                with tracer.span(f"query.{name}"):
                    w = wl.query(name)
                per[name].append(w)
                total += w
        passes.append(total)
    floors = []
    for _ in range(5):
        with tracer.span("job_floor"):
            w, _ = timed(noop, spark.range(0))
        floors.append(w)
    out = {f"registry.{n}.wall_s": _median(ws) for n, ws in per.items()}
    for group in ("dedup", "similarity"):
        out[f"registry.{group}.wall_s"] = sum(
            out[f"registry.{n}.wall_s"] for n, g in REGISTRY_NAMES.items() if g == group)
    out["registry.job_floor_s"] = _median(floors)
    return {"metrics": out, "call_walls": passes}

