"""Seeded, cached input corpora for the workloads.

Each corpus is a directory of Parquet files in the job's input shape
``(url, warc_ts, html, text, lang)`` plus a ``manifest.json``. It is a
pure function of ``(workload, seed)`` and is cached under
``<cache>/<workload>-s<seed>-v<N>``; only the newest few corpora per
workload are kept.

- ``html_bulk``: ``make_document_row(scale=12)`` rows, the production mix
  (~90% HTML of ~20 KB, ~10% one- or two-page PDFs) in many files, so the
  scan splits alone give the UDF stage its parallelism. The rows come from
  a pool generated once per checkout from ``POOL_SEED``: the seed draws
  ``HTML_BULK_DOCS`` of them, HTML and PDFs in the pool's proportions, and
  shuffles them across the files. Drawing takes about a second;
  generating 1,600 rows takes about 5 s, which every run would pay.
- ``incremental_pdf``: a re-crawl batch against a prebuilt table of
  ``BASE_SNAPSHOTS`` committed snapshots. ``BATCH_OLD_DOCS`` urls of the
  batch are already committed (same payloads); the new ones are 8-16 page
  PDFs from ``pdfgen``. The batch sits in two large files, and the job
  runs with an explicit repartition. The table is generated from
  ``BASE_SEED`` and built once per checkout; the seed picks which
  committed urls are re-crawled and generates the new PDFs.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extractor_spark.fixtures.synth import make_document_row

from perfbench.pdfgen import make_report_pdf

VERSION = 5
KEEP_PER_WORKLOAD = 4

HTML_BULK_DOCS = 1600
HTML_BULK_SCALE = 12
HTML_BULK_FILES = 16
POOL_SEED = 0
POOL_DOCS = 2 * HTML_BULK_DOCS

BASE_SEED = 0
BASE_SNAPSHOTS = 8
BASE_DOCS_PER_SNAPSHOT = 1000
BATCH_OLD_DOCS = 1000
BATCH_NEW_PDFS = 32
BATCH_FILES = 2

WARMUP_DOCS = 32

_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _row(doc_id: int, seed: int, scale: int = 1) -> tuple[dict, int]:
    """One input row and its PDF page count (0 for HTML)."""
    r = make_document_row(doc_id, seed, scale=scale)
    r["warc_ts"] = r["warc_ts"].replace(tzinfo=None)
    pages = len(_PAGE_RE.findall(r["html"])) if r["html"].startswith(b"%PDF-") else 0
    return r, pages


def _write_files(rows: list[dict], out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    for f in range(n_files):
        chunk = rows[f * per : (f + 1) * per]
        if chunk:
            table = pa.Table.from_pylist(chunk, schema=SCHEMA)
            pq.write_table(table, os.path.join(out_dir, f"part-{f:04d}.parquet"))


def _gen_html_pool(path: str, seed: int) -> dict:
    os.makedirs(path)
    rows = [_row(i, seed, HTML_BULK_SCALE)[0] for i in range(POOL_DOCS)]
    pq.write_table(pa.Table.from_pylist(rows, schema=SCHEMA), os.path.join(path, "pool.parquet"))
    return {"docs": len(rows)}


def _gen_html_bulk(path: str, seed: int) -> dict:
    pool_dir, _ = prepare(os.path.dirname(path), "html_pool", POOL_SEED)
    pool = pq.read_table(os.path.join(pool_dir, "pool.parquet"))
    is_pdf = [p.startswith(b"%PDF-") for p in pool.column("html").to_pylist()]
    rng = random.Random(seed)
    ids = []
    for want_pdf in (False, True):
        stratum = [i for i, pdf in enumerate(is_pdf) if pdf == want_pdf]
        ids += rng.sample(stratum, len(stratum) * HTML_BULK_DOCS // POOL_DOCS)
    rng.shuffle(ids)
    rows = pool.take(ids).to_pylist()
    pages = sum(len(_PAGE_RE.findall(r["html"])) for r in rows if r["html"].startswith(b"%PDF-"))
    _write_files(rows, os.path.join(path, "input"), HTML_BULK_FILES)
    return {"docs": len(rows), "pdf_pages": pages}


def _gen_incremental_base(path: str, seed: int) -> dict:
    for k in range(BASE_SNAPSHOTS):
        lo = k * BASE_DOCS_PER_SNAPSHOT
        rows = [_row(i, seed)[0] for i in range(lo, lo + BASE_DOCS_PER_SNAPSHOT)]
        _write_files(rows, os.path.join(path, "base_src", str(k)), 1)
    return {"docs": BASE_SNAPSHOTS * BASE_DOCS_PER_SNAPSHOT, "snapshots": BASE_SNAPSHOTS}


def _gen_incremental_pdf(path: str, seed: int) -> dict:
    n_base = BASE_SNAPSHOTS * BASE_DOCS_PER_SNAPSHOT
    old_ids = random.Random(seed).sample(range(n_base), BATCH_OLD_DOCS)
    rows, pages, layouts = [], 0, {}
    for doc_id in old_ids:
        r, p = _row(doc_id, BASE_SEED)
        rows.append(r)
        pages += p
    # 8-16 pages each; the same page total for every seed
    page_counts = [8 + j % 9 for j in range(BATCH_NEW_PDFS)]
    random.Random(seed + 2).shuffle(page_counts)
    for j, n_pages in enumerate(page_counts):
        doc_id = n_base + j  # a path the table lacks
        r = make_document_row(doc_id, seed)  # url, host skew, warc_ts, lang
        payload, layout = make_report_pdf(doc_id, seed, n_pages)
        r.update(warc_ts=r["warc_ts"].replace(tzinfo=None), html=payload, text="")
        r["url"] = r["url"].replace("/articles/", "/reports/")
        rows.append(r)
        pages += n_pages
        layouts[layout] = layouts.get(layout, 0) + 1
    random.Random(seed + 1).shuffle(rows)
    _write_files(rows, os.path.join(path, "input"), BATCH_FILES)
    return {
        "docs": len(rows),
        "pdf_pages": pages,
        "already_committed": BATCH_OLD_DOCS,
        "new_pdf_layouts": layouts,
    }


def _gen_warmup(path: str, seed: int) -> dict:
    _write_files([_row(i, seed)[0] for i in range(WARMUP_DOCS)], os.path.join(path, "input"), 4)
    return {"docs": WARMUP_DOCS}


_GENERATORS = {
    "html_bulk": _gen_html_bulk,
    "html_pool": _gen_html_pool,
    "incremental_pdf": _gen_incremental_pdf,
    "incremental_base": _gen_incremental_base,
    "warmup": _gen_warmup,
}

# the job's explicit UDF-stage partition count, as a multiple of the cores
# (None: the job runs the UDF on the scan splits)
PARTITIONS_PER_CORE = {"html_bulk": None, "incremental_pdf": 4}


def _evict(cache_root: str, workload: str, keep: str) -> None:
    prefix = f"{workload}-s"
    entries = [
        os.path.join(cache_root, n)
        for n in os.listdir(cache_root)
        if n.startswith(prefix) and os.path.join(cache_root, n) != keep
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_PER_WORKLOAD - 1 :]:
        shutil.rmtree(old, ignore_errors=True)


def prepare(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return ``(corpus_dir, manifest)``, generating the corpus if absent."""
    os.makedirs(cache_root, exist_ok=True)
    path = os.path.join(cache_root, f"{workload}-s{seed}-v{VERSION}")
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        manifest = _GENERATORS[workload](tmp, seed)
        manifest.update(workload=workload, seed=seed)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
        _evict(cache_root, workload, path)
    os.utime(path)
    with open(manifest_path) as fh:
        return path, json.load(fh)


def base_table(spark, cache_root: str) -> str:
    """The ``incremental_pdf`` workload's prebuilt table: one ``run_extraction_job``
    per base slice, so every snapshot carries real rows and lineage."""
    from pdf_extractor_spark.pipeline import run_extraction_job

    corpus_dir, _ = prepare(cache_root, "incremental_base", BASE_SEED)
    path = os.path.join(corpus_dir, "base_table")
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    src = os.path.join(corpus_dir, "base_src")
    for k in sorted(os.listdir(src), key=int):
        run_extraction_job(spark, spark.read.parquet(os.path.join(src, k)), tmp)
    os.replace(tmp, path)
    return path
