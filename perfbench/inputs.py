"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and is cached
under ``<checkout>/.perfbench_cache/<workload>-s<seed>-n<size>/``, so a
repeated seed skips generation.  Generation runs in a child process
(``python3 perfbench/inputs.py <workload> <seed> <size> <dir>``) so the
driver's own peak RSS never includes it.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys

# Curate documents: an English vocabulary (stop words included, so the
# lang-id and Gopher gates keep most English rows) plus small foreign
# vocabularies that the lang gate drops.
_EN_WORDS = (
    "the and of to in is that for with as on data system table query "
    "spark cluster batch stream worker driver partition shuffle value "
    "result record column index window merge filter scan metric report "
    "model training corpus document page text extraction quality signal "
    "language sample noise budget layout parser engine storage network "
    "memory latency throughput schedule planner executor commit resume"
).split()
_FOREIGN = {
    "de": "der die das und ist nicht mit ein eine zu den daten tabelle".split(),
    "es": "el los las una es por con para del como su datos tabla".split(),
    "fr": "le les des et est pour avec dans du sur au donnees table".split(),
}
_LANG_MIX = ("en",) * 7 + ("de", "es", "fr")
_SOURCES = 5
# Share of English rows that are planted near-duplicates of an earlier
# English row.  A copy re-cases and re-punctuates a few words: its bytes
# (and md5) differ, but its normalized word trigrams are the original's,
# so Jaccard is 1 and both the production LSH (16 hashes / 4 bands, xxhash)
# and the oracle's (8 / 4, md5) surely pair them.  Any lower Jaccard makes
# the two LSH variants disagree on some seeds and the exact output check
# fail for a reason that is not a defect.
DUP_SHARE = 0.15


def _near_copy(rng: random.Random, words: list[str]) -> str:
    out = list(words)
    for _ in range(3):
        i = rng.randrange(len(out))
        out[i] = out[i].capitalize() + rng.choice((",", ".", ";", ""))
    return " ".join(out)


def curate_documents(n: int, seed: int) -> list[dict]:
    """Rows with the documents.parquet schema (doc_id, text, lang,
    source, n_chars); about DUP_SHARE of the English rows are planted
    near-duplicates of an earlier English row."""
    rng = random.Random("curate:%d" % seed)
    texts: list[tuple[str, str]] = []
    originals: list[list[str]] = []
    while len(texts) < n:
        lang = rng.choice(_LANG_MIX)
        if lang == "en" and originals and rng.random() < DUP_SHARE:
            texts.append(("en", _near_copy(rng, rng.choice(originals))))
            continue
        vocab = _EN_WORDS if lang == "en" else _FOREIGN[lang] + _EN_WORDS[6:20]
        words = [rng.choice(vocab) for _ in range(rng.randint(45, 75))]
        if lang == "en":
            originals.append(words)
        texts.append((lang, " ".join(words)))
    return [{"doc_id": i, "text": t, "lang": lang,
             "source": "src%d" % (i % _SOURCES), "n_chars": len(t)}
            for i, (lang, t) in enumerate(texts)]


def _write_curate(out_dir: str, n: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    table = pa.Table.from_pylist(curate_documents(n, seed), schema=schema)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, row_group_size=max(1, n // 8))
    curate_oracle(path).to_parquet(os.path.join(out_dir, "oracle.parquet"))


def curate_oracle(documents_path: str):
    """The repo's DuckDB ``oracle_sql()["curate_pipeline"]`` over the
    generated table, as a pandas frame.  Every non-recursive CTE is
    marked MATERIALIZED: DuckDB otherwise inlines each CTE at every
    reference, and the composition re-runs its regex-heavy gate chain
    many times (17 s instead of 1.7 s for 100 documents, same rows)."""
    import re

    import duckdb

    import __spark_entry__

    sql = re.sub(r"\b(\w+) as \(", r"\1 as materialized (",
                 __spark_entry__.oracle_sql()["curate_pipeline"])
    con = duckdb.connect()
    try:
        con.execute("create view documents as select * from read_parquet('%s')"
                    % documents_path)
        return con.execute(sql).df()
    finally:
        con.close()


def _write_eval(out_dir: str, n: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from deepseek_ocr_omnidocbench_spark.plans.evaluate import (
        GT_SCHEMA, PAGE_ATTR_SCHEMA, PRED_SCHEMA)
    from deepseek_ocr_omnidocbench_spark.sources.annotations import (
        generate_eval_fixtures)

    gt, page_attrs, preds = generate_eval_fixtures(n, seed)
    for name, rows, schema in (("gt", gt, GT_SCHEMA),
                               ("page_attrs", page_attrs, PAGE_ATTR_SCHEMA),
                               ("preds", preds, PRED_SCHEMA)):
        # Spark schemas name the arrow types; map entries go in as pairs
        arrow = to_arrow_schema(schema)
        cols = {f.name: [_arrow_value(r.get(f.name)) for r in rows] for f in schema}
        pq.write_table(pa.Table.from_pydict(cols, schema=arrow),
                       os.path.join(out_dir, name + ".parquet"))


def _arrow_value(v):
    return list(v.items()) if isinstance(v, dict) else v


def _write_pages(out_dir: str, n: int, seed: int) -> None:
    from deepseek_ocr_omnidocbench_spark.sources.pages import write_pages

    write_pages(os.path.join(out_dir, "pages.parquet"), n, seed)


WRITERS = {"extract_html": _write_pages, "omnidoc_eval": _write_eval,
           "curate_corpus": _write_curate}


def ensure(root: str, workload: str, seed: int, size: int) -> str:
    """Directory holding the inputs for (workload, seed, size); built on
    first use in a child process, published by an atomic rename."""
    out = os.path.join(root, ".perfbench_cache",
                       "%s-s%d-n%d" % (workload, seed, size))
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ, PYTHONPATH=root)
    subprocess.run([sys.executable, os.path.abspath(__file__), workload,
                    str(seed), str(size), tmp], check=True, env=env,
                   stdout=subprocess.DEVNULL)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    wl, sd, sz, dest = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    WRITERS[wl](dest, sz, sd)
