"""The benchmark workloads.

Each workload owns its seeded input size, the timed job (whose first
result ends each set-up), the output check, and the traced stepping
through its plan's public stage functions.  Timed jobs and steps call
only public functions of the package.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.inputs import ensure


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _force(df: DataFrame, col: str) -> None:
    """Evaluate ``col`` for every row: count() alone lets Catalyst prune
    projected expressions."""
    df.agg(F.max(F.length(F.col(col).cast("string")))).collect()


class ExtractHtml:
    """extract_pages over the seeded pages mix, noop sink."""

    name = "extract_html"
    size = 500  # pages; a multiple of the 100-row category cycle

    def __init__(self, root: str, seed: int, cores: int):
        self.cores = cores
        self.path = os.path.join(ensure(root, self.name, seed, self.size),
                                 "pages.parquet")

    def _pages(self, spark: SparkSession, first: int | None = None) -> DataFrame:
        """The pages table, or only its ``first`` urls in url order."""
        pages = spark.read.parquet(self.path)
        if first is None:
            return pages
        urls = [r[0] for r in pages.select("url").orderBy("url").limit(first).collect()]
        return pages.where(F.col("url").isin(urls))

    def _out(self, spark: SparkSession) -> DataFrame:
        from deepseek_ocr_omnidocbench_spark.operators.html_extract import (
            extract_pages)

        return extract_pages(self._pages(spark), salt_buckets=self.cores)

    def job(self, spark: SparkSession) -> None:
        _noop(self._out(spark))

    def check(self, spark: SparkSession) -> tuple[int, int]:
        """md must equal the generated ground-truth text byte for byte,
        once per url, for every category."""
        pages = spark.read.parquet(self.path).select("url", "text")
        out = self._out(spark).select("url", "md")
        per_url = out.groupBy("url").agg(F.count(F.lit(1)).alias("n_out"),
                                         F.first("md").alias("md"))
        bad = (pages.join(per_url, "url", "full_outer")
               .where(F.col("text").isNull() | F.col("md").isNull()
                      | (F.col("md") != F.col("text"))
                      | (F.col("n_out") != 1))
               .count())
        return self.size, bad

    def step(self, spark: SparkSession, tracer, work_dir: str) -> tuple[int, int]:
        """Steps the checkpointed crawl pipeline, which has no timed
        workload of its own (its per-job cost does not fit the run
        budget), over the first STEP_PAGES pages: one span per
        StageCheckpoint stage of run_pipeline (n_buckets = cores), then
        its column layers on the materialized page_md.  Checks the output
        against run_pipeline_inline and the lineage doc counts against
        the output rows.  -> (pages checked, failures)."""
        from deepseek_ocr_omnidocbench_spark.operators.assemble import (
            assemble_documents)
        from deepseek_ocr_omnidocbench_spark.operators.filters import (
            page_quality_keep)
        from deepseek_ocr_omnidocbench_spark.operators.textstats import (
            lang_id_col, quality_cols)
        from deepseek_ocr_omnidocbench_spark.plans import extract_pipeline as P
        from deepseek_ocr_omnidocbench_spark.sources.lineage import StageCheckpoint

        root = os.path.join(work_dir, "checkpoint")
        shutil.rmtree(root, ignore_errors=True)
        pages = self._pages(spark, STEP_PAGES)
        ck = StageCheckpoint(spark, root, n_buckets=self.cores)
        with tracer.span("extract_pipeline.stage_filter_s", jobs="lineage.jobs"):
            filtered = ck.run_stage("filtered", pages, P.stage_filter)
        with tracer.span("extract_pipeline.stage_page_md_s", jobs="lineage.jobs"):
            page_md = ck.run_stage("page_md", filtered, P.stage_page_md,
                                   failure_col="md")
        with tracer.span("extract_pipeline.stage_documents_s", jobs="lineage.jobs"):
            docs = ck.run_stage("documents", page_md, P.stage_documents)
        tracer.count("lineage.bytes_written", _tree_bytes(root))

        # read_stage adds the bucket partition column; compare the rest
        inline = P.run_pipeline_inline(pages)
        got = docs.select(*inline.columns)
        n_docs = got.count()
        bad_urls = (got.exceptAll(inline).union(inline.exceptAll(got))
                    .select("url").distinct().count())
        lineage_docs = (ck.lineage().where(F.col("stage") == "documents")
                        .agg(F.sum("doc_count")).collect()[0][0])
        failed = bad_urls + (lineage_docs != n_docs)
        tracer.count("extract_pipeline.check_failed_urls", failed)

        page_md = page_md.drop("bucket").cache()
        page_md.count()
        with tracer.span("assemble.assemble_documents_s"):
            assembled = assemble_documents(page_md).cache()
            assembled.count()
        md = F.col("markdown")
        with tracer.span("textstats.quality_cols_s"):
            _force(assembled.select(quality_cols(md)["quality_score"].alias("q")), "q")
        with tracer.span("textstats.lang_id_col_s"):
            _force(assembled.select(lang_id_col(md).alias("l")), "l")
        with tracer.span("filters.page_quality_keep_s"):
            _force(assembled.select(page_quality_keep(md).alias("k")), "k")
        assembled.unpersist()
        page_md.unpersist()
        return STEP_PAGES, failed


STEP_PAGES = 40


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


class OmnidocEval:
    """plans.evaluate.evaluate over seeded OmniDocBench-style fixtures."""

    name = "omnidoc_eval"
    size = 12  # ground-truth pages

    def __init__(self, root: str, seed: int, cores: int):
        self.root, self.seed = root, seed
        self.dir = ensure(root, self.name, seed, self.size)
        self.last_report: dict | None = None

    def _frames(self, spark: SparkSession):
        read = lambda n: spark.read.parquet(os.path.join(self.dir, n + ".parquet"))  # noqa: E731
        return read("gt"), read("preds"), read("page_attrs")

    def job(self, spark: SparkSession) -> None:
        from deepseek_ocr_omnidocbench_spark.plans.evaluate import evaluate

        gt, preds, page_attrs = self._frames(spark)
        self.last_report = evaluate(gt, preds, page_attrs)

    def check(self, spark: SparkSession) -> tuple[int, int]:
        """Every page's match records equal a driver-side match_page
        recomputation, and every scored edit distance equals a
        driver-side levenshtein over the same effective strings."""
        from deepseek_ocr_omnidocbench_spark.functions.editdist import levenshtein
        from deepseek_ocr_omnidocbench_spark.operators.eval_harness import (
            MATCH_SCHEMA, _to_row, match_elements, match_page)
        from deepseek_ocr_omnidocbench_spark.operators.metrics_report import (
            arbitrate_tables, score_samples)

        gt, preds, _ = self._frames(spark)
        matches = match_elements(gt, preds).cache()
        got = matches.toPandas()
        gt_pd, pred_pd = gt.toPandas(), preds.toPandas()
        cols = [f.name for f in MATCH_SCHEMA.fields]
        failed = set()
        for img_id, md in zip(pred_pd["img_id"], pred_pd["md"]):
            rows = gt_pd[gt_pd["img_id"] == img_id].to_dict("records")
            want = [_to_row(r) for r in match_page(rows, md, img_id)]
            have = got[got["img_id"] == img_id][cols].to_dict("records")
            if _canon(want) != _canon(have):
                failed.add(img_id)

        scored = score_samples(arbitrate_tables(matches), with_teds=False)
        for r in scored.select("img_id", "gt", "pred", "norm_gt", "norm_pred",
                               "edit_num", "upper_len").collect():
            g = r["norm_gt"] or r["gt"] or ""
            p = r["norm_pred"] or r["pred"] or ""
            if (r["edit_num"] != levenshtein(g, p)
                    or r["upper_len"] != max(len(g), len(p))):
                failed.add(r["img_id"])
        matches.unpersist()
        report = self.last_report
        if not report or report.get("overall") is None:
            failed.add("<report>")
        return self.size, len(failed)

    def step(self, spark: SparkSession, tracer, work_dir: str) -> tuple[int, int]:
        """evaluate() split at its materialized boundaries; then the
        curation plan, which has no timed workload of its own (its
        per-job cost does not fit the run budget) and is stepped here to
        keep both traced runs inside the per-run time limit.
        -> (curate documents checked, failures)."""
        from deepseek_ocr_omnidocbench_spark.operators.eval_harness import (
            match_elements)
        from deepseek_ocr_omnidocbench_spark.operators import metrics_report as M

        gt, preds, page_attrs = self._frames(spark)
        with tracer.span("eval_harness.match_elements_s"):
            matches = match_elements(gt, preds).cache()
            matches.count()
        with tracer.span("metrics_report.arbitrate_tables_s"):
            unified = M.arbitrate_tables(matches).cache()
            unified.count()
        with tracer.span("metrics_report.score_samples_s"):
            scored = M.score_samples(unified, teds_partitions=8).repartition(8).cache()
            scored.count()
        reports = (M.edit_dist_report(scored), M.teds_report(scored),
                   M.attribute_report(scored),
                   M.page_split_report(scored, page_attrs),
                   M.text_metric_report(scored))
        with tracer.span("metrics_report.reports_s"):
            with ThreadPoolExecutor(max_workers=len(reports)) as pool:
                for fut in [pool.submit(r.collect) for r in reports]:
                    fut.result()
        for df in (scored, unified, matches):
            df.unpersist()

        curate = CurateCorpus(self.root, self.seed)
        curate.step(spark, tracer, work_dir)
        checked = curate.check(spark)
        tracer.count("curate.check_failed_docs", checked[1])
        return checked


def _canon(records: list[dict]) -> list[str]:
    """Order-free, NaN-safe comparable form of match records."""
    def norm(v):
        if hasattr(v, "tolist"):
            v = v.tolist()
        if isinstance(v, float) and v != v:
            return None
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v)  # pandas widens nullable int columns to float
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return sorted((k, norm(x)) for k, x in v.items())
        return v

    return sorted(repr(sorted((k, norm(v)) for k, v in r.items())) for r in records)


class CurateCorpus:
    """plans.curate.run_curation_inline over seeded documents with
    planted near-duplicate clusters; pure JVM work, no Python UDF.
    Stepped and checked inside the omnidoc_eval traced run."""

    name = "curate_corpus"
    size = 400  # documents

    def __init__(self, root: str, seed: int):
        self.dir = ensure(root, self.name, seed, self.size)

    def _docs(self, spark: SparkSession) -> DataFrame:
        # same url/markdown/lang_pred mapping as the curate_pipeline query
        return spark.read.parquet(os.path.join(self.dir, "documents.parquet")).select(
            "doc_id",
            F.concat(F.lit("https://ex.org/"), F.col("source"), F.lit("/"),
                     F.col("doc_id")).alias("url"),
            F.col("text").alias("markdown"),
            F.col("lang").alias("lang_pred"))

    def _out(self, spark: SparkSession) -> DataFrame:
        from deepseek_ocr_omnidocbench_spark.plans.curate import run_curation_inline

        return run_curation_inline(self._docs(spark), budget=2048)

    def check(self, spark: SparkSession) -> tuple[int, int]:
        """Output rows equal the DuckDB curate_pipeline oracle's, per
        document; a document counts as failed when its row differs or
        appears on one side only."""
        cols = ["doc_id", "grp", "n_tokens", "start_offset", "bin"]

        def by_doc(df: pd.DataFrame) -> dict:
            # DuckDB and Spark return different integer dtypes
            return {int(r.doc_id): (r.grp, int(r.n_tokens), int(r.start_offset), int(r.bin))
                    for r in df[cols].itertuples(index=False)}

        have = by_doc(self._out(spark).toPandas())
        want = by_doc(pd.read_parquet(os.path.join(self.dir, "oracle.parquet")))
        bad = sum(1 for k in have.keys() | want.keys() if have.get(k) != want.get(k))
        return self.size, bad

    def step(self, spark: SparkSession, tracer, work_dir: str) -> None:
        """run_curation_inline's four stages, plus the dedup layer's
        counts on the url-unique frame."""
        from deepseek_ocr_omnidocbench_spark.operators.dedup import (
            dedup_clusters, lsh_candidate_pairs, minhash_band_buckets)
        from deepseek_ocr_omnidocbench_spark.plans import curate as C

        docs = self._docs(spark)
        with tracer.span("curate.stage_gated_s"):
            gated = C.stage_gated(docs).cache()
            gated.count()
        with tracer.span("curate.stage_url_unique_s"):
            uniq = C.stage_url_unique(gated).localCheckpoint(eager=True)

        cand = lsh_candidate_pairs(uniq, text_col="markdown").cache()
        n_cand = cand.count()
        verified = cand.where(F.col("jaccard") >= 0.5)
        n_ver = verified.count()
        tracer.count("dedup.candidate_pairs", n_cand)
        tracer.count("dedup.verified_pairs", n_ver)
        tracer.count("dedup.pair_yield", n_ver / n_cand if n_cand else 0.0)
        biggest = (minhash_band_buckets(uniq, text_col="markdown")
                   .groupBy("band", "bucket").count()
                   .agg(F.max("count")).collect()[0][0])
        tracer.count("dedup.largest_band_bucket", int(biggest or 0))
        with tracer.span("dedup.dedup_clusters_s", jobs="dedup.cc_jobs"):
            dedup_clusters(uniq, verified)
        cand.unpersist()

        with tracer.span("curate.stage_survivors_s"):
            surv = C.stage_survivors(uniq).cache()
            surv.count()
        with tracer.span("curate.stage_packed_s"):
            _force(C.stage_packed(surv), "bin")
        surv.unpersist()
        gated.unpersist()


WORKLOADS = {w.name: w for w in (ExtractHtml, OmnidocEval)}
