"""Process-level kill-and-resume: SIGKILL a running checkpointed
pipeline, restart it, and verify completion without recomputing
committed buckets — the north rule's "killed job resumes from the last
committed snapshot" as an actual kill, not a simulated one."""

import json
import os
import signal
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import sys, time, os
sys.path.insert(0, __REPO_ROOT__)
from deepseek_ocr_omnidocbench_spark.session import get_spark
from deepseek_ocr_omnidocbench_spark.sources.lineage import StageCheckpoint
from deepseek_ocr_omnidocbench_spark.sources.pages import (
    PAGES_ARROW_SCHEMA, generate_pages)
import pyarrow as pa
from pyspark.sql import functions as F

root = sys.argv[1]
delay = float(sys.argv[2])

spark = get_spark(app_name="kill-resume", cores=4, shuffle_partitions=4)
rows = generate_pages(80, seed=13)
pdf = pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA).to_pandas()
pages = spark.createDataFrame(pdf)
ck = StageCheckpoint(spark, root, n_buckets=8)

def transform(df):
    time.sleep(delay)  # stretch per-bucket time so the kill lands mid-run
    return df.select("url", F.length("html").alias("n_chars"))

out = ck.run_stage("slow", pages, transform)
print("DONE", out.count(), flush=True)
"""


def test_sigkill_then_resume(tmp_path):
    root = str(tmp_path / "ck")
    runner = tmp_path / "runner.py"
    runner.write_text(RUNNER.replace("__REPO_ROOT__", repr(ROOT)))

    # first attempt: kill while buckets are still being committed
    p = subprocess.Popen([sys.executable, str(runner), root, "1.0"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
    lineage_dir = os.path.join(root, "lineage")
    deadline = time.time() + 180
    while time.time() < deadline:
        n = len(os.listdir(lineage_dir)) if os.path.isdir(lineage_dir) else 0
        if 2 <= n <= 6:
            break
        if p.poll() is not None:
            break
        time.sleep(0.5)
    assert p.poll() is None, "job finished before the kill landed"
    p.kill()
    p.wait()

    committed_before = set()
    for f in os.listdir(lineage_dir):
        with open(os.path.join(lineage_dir, f)) as fh:
            for line in fh:
                committed_before.add(json.loads(line)["partition_id"])
    assert 0 < len(committed_before) < 8, committed_before

    # restart: must complete, recomputing only the missing buckets
    out = subprocess.run([sys.executable, str(runner), root, "0.0"],
                         capture_output=True, text=True, timeout=600)
    assert "DONE 80" in out.stdout, out.stdout[-500:] + out.stderr[-500:]

    committed_after = {}
    for f in sorted(os.listdir(lineage_dir)):
        with open(os.path.join(lineage_dir, f)) as fh:
            for line in fh:
                r = json.loads(line)
                committed_after.setdefault(r["partition_id"], []).append(r)
    assert set(committed_after) == set(range(8))
    # no bucket committed twice: the restart skipped session 1's work
    assert all(len(v) == 1 for v in committed_after.values()), {
        k: len(v) for k, v in committed_after.items()}
    assert sum(v[0]["doc_count"] for v in committed_after.values()) == 80
