"""Per-layer tracing for the benchmark's traced run.

Three sources, none of which edits the package:

* spans recorded by the benchmark around calls into each layer's public
  functions (``Tracer``), kept in memory and written to the ledger;
* Spark's own event log (uncompressed JSON lines): job, stage and task
  metrics plus the SQL metrics that ride on task accumulables (scan,
  shuffle, Python worker boot/init/run time and bytes);
* single-core rooflines: public kernels timed in the driver process on a
  seeded sample, without Spark.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent) and counts, in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, jobs: str | None = None):
        """``jobs`` names a count that accumulates the Spark jobs
        submitted inside this span (attributed from the event log)."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "jobs_count": jobs, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    def layer_metrics(self) -> dict[str, float]:
        out = dict(self.counts)
        for s in self.spans:
            if s["name"].endswith("_s"):
                out[s["name"]] = out.get(s["name"], 0.0) + s["seconds"]
        return out


# ---- Spark event log -------------------------------------------------------

# The per-layer metrics every workload's traced run prints, with units.
# Plan-stage spans and counts apply to one plan each and go to the ledger
# file only.
PER_LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.scan_s": "s",
    "spark.scan_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.python_boot_s": "s",
    "spark.python_init_s": "s",
    "spark.python_total_s": "s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
    "html_extract.docs_per_s_1core": "1/s",
    "html_extract.parse_s": "s",
    "html_extract.prune_s": "s",
    "html_extract.order_s": "s",
    "html_extract.serialize_s": "s",
    "pdf_extract.pages_per_s_1core": "1/s",
    "eval_harness.match_page_pages_per_s_1core": "1/s",
    "editdist.levenshtein_pairs_per_s_1core": "1/s",
    "teds.tables_per_s_1core": "1/s",
    "trace.overhead_s": "s",
}
ENGINE_METRICS = tuple(k for k in PER_LAYER_UNITS if k.startswith("spark."))

_SQL_METRICS = {
    "time to start Python workers": "spark.python_boot_s",
    "time to initialize Python workers": "spark.python_init_s",
    "time to run Python workers": "spark.python_total_s",
    "data sent to Python workers": "spark.python_bytes_sent",
    "data returned from Python workers": "spark.python_bytes_received",
    "scan time": "spark.scan_s",
}


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def jobs_in(events: list[dict], start: float, end: float) -> list[dict]:
    """JobStart events submitted inside [start, end] (epoch seconds).
    The driver runs one job chain at a time, so a time window attributes
    every job, including those that a plan submits from its own threads."""
    return [e for e in events if e["Event"] == "SparkListenerJobStart"
            and start * 1000 <= e["Submission Time"] <= end * 1000 + 1]


def engine_metrics(events: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Engine ledger over the jobs of ``windows``, per window (median
    over windows of each window's total)."""
    timing = _metric_types(events)
    per_window = [_window_metrics(events, jobs_in(events, a, b), timing)
                  for a, b in windows]
    return {k: statistics.median(w[k] for w in per_window) for k in ENGINE_METRICS}


def _metric_types(events: list[dict]) -> dict[str, str]:
    types: dict[str, str] = {}

    def walk(node):
        for m in node.get("metrics", ()):
            types[m["name"]] = m["metricType"]
        for c in node.get("children", ()):
            walk(c)

    for e in events:
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    return types


def _window_metrics(events: list[dict], jobs: list[dict], types: dict) -> dict:
    stage_ids = {s for j in jobs for s in j["Stage IDs"]}
    ran = {e["Stage Info"]["Stage ID"] for e in events
           if e["Event"] == "SparkListenerStageCompleted"
           and e["Stage Info"]["Stage ID"] in stage_ids}
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"
             and e["Stage ID"] in stage_ids]
    m = dict.fromkeys(ENGINE_METRICS, 0.0)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(ran)
    m["spark.tasks"] = len(tasks)
    run_by_stage: dict[int, list[int]] = {}
    for t in tasks:
        tm = t.get("Task Metrics") or {}
        run_by_stage.setdefault(t["Stage ID"], []).append(tm.get("Executor Run Time", 0))
        m["spark.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["spark.jvm_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["spark.scan_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["spark.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        for acc in t["Task Info"].get("Accumulables", ()):
            key = _SQL_METRICS.get(acc.get("Name"))
            if key:
                v = float(acc.get("Update") or 0)
                kind = types.get(acc["Name"])
                m[key] += v / 1e3 if kind == "timing" else v / 1e9 if kind == "nsTiming" else v
    if run_by_stage:
        heavy = max(run_by_stage.values(), key=sum)
        m["spark.task_skew"] = max(heavy) / max(statistics.median(heavy), 1)
    return m


# ---- single-core rooflines ---------------------------------------------------

def _rate(fn, items: list, min_seconds: float = 0.4) -> float:
    """Items per second of ``fn(item)`` over repeated passes."""
    n, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= min_seconds:
            return n / dt


def rooflines(seed: int) -> dict[str, float]:
    from deepseek_ocr_omnidocbench_spark.functions.editdist import levenshtein
    from deepseek_ocr_omnidocbench_spark.operators import html_extract as H
    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import match_page
    from deepseek_ocr_omnidocbench_spark.operators.pdf_extract import extract_pdf_pages
    from deepseek_ocr_omnidocbench_spark.operators.teds import teds_score
    from deepseek_ocr_omnidocbench_spark.sources.annotations import generate_eval_fixtures
    from deepseek_ocr_omnidocbench_spark.sources.pages import generate_pages

    pages = generate_pages(100, seed)
    pdfs = [p["html"] for p in pages if p["html"].startswith(b"%PDF")]
    htmls = [p["html"].decode("utf-8", errors="replace") for p in pages
             if not p["html"].startswith(b"%PDF")]
    phase = dict.fromkeys(("parse", "prune", "order", "total"), 0.0)
    for h in htmls:
        t0 = time.perf_counter()
        root = H.parse_html(h)
        t1 = time.perf_counter()
        H.prune(root)
        t2 = time.perf_counter()
        H.order_children(root)
        t3 = time.perf_counter()
        H.extract_markdown(h)
        t4 = time.perf_counter()
        phase["parse"] += t1 - t0
        phase["prune"] += t2 - t1
        phase["order"] += t3 - t2
        phase["total"] += t4 - t3
    per_1k = 1000.0 / len(htmls)
    out = {
        "html_extract.docs_per_s_1core": len(htmls) / phase["total"],
        "html_extract.parse_s": phase["parse"] * per_1k,
        "html_extract.prune_s": phase["prune"] * per_1k,
        "html_extract.order_s": phase["order"] * per_1k,
        "html_extract.serialize_s": max(
            phase["total"] - phase["parse"] - phase["prune"] - phase["order"], 0.0) * per_1k,
    }
    n_pdf_pages = sum(len(extract_pdf_pages(b) or ()) for b in pdfs)
    out["pdf_extract.pages_per_s_1core"] = _rate(extract_pdf_pages, pdfs) * n_pdf_pages / len(pdfs)

    gt, _, preds = generate_eval_fixtures(20, seed)
    by_page: dict[str, list[dict]] = {}
    for r in gt:
        by_page.setdefault(r["img_id"], []).append(r)
    page_args = [(by_page.get(p["img_id"], []), p["md"], p["img_id"]) for p in preds]
    out["eval_harness.match_page_pages_per_s_1core"] = _rate(
        lambda a: match_page(*a), page_args)
    records = [r for a in page_args for r in match_page(*a)]
    text_pairs = [(r.get("norm_gt") or "", r.get("norm_pred") or "") for r in records
                  if r.get("element_class") == "text_block"]
    out["editdist.levenshtein_pairs_per_s_1core"] = _rate(
        lambda ab: levenshtein(*ab), text_pairs)
    table_pairs = [(r.get("pred") or "", r.get("gt") or "") for r in records
                   if r.get("element_class") == "table_html"]
    out["teds.tables_per_s_1core"] = _rate(lambda pg: teds_score(*pg), table_pairs)
    return out
