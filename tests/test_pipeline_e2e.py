"""End-to-end golden gate (SURVEY.md §5): the Spark pipeline must reproduce
the single-process pure-function extraction BYTE-IDENTICALLY per url, at
multiple parallelism/partitioning levels, with working resume + lineage."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from pdf_extractor_spark.extract.udfs import extract_one
from pdf_extractor_spark.fixtures.synth import synth_corpus
from pdf_extractor_spark.pipeline import extract_documents, run_extraction_job
from pdf_extractor_spark.sources import catalog

N_DOCS = 120

INPUT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


@pytest.fixture(scope="module")
def corpus():
    return synth_corpus(N_DOCS)


@pytest.fixture(scope="module")
def goldens(corpus):
    """Golden = the pure function run single-process, outside Spark."""
    out = {}
    for row in corpus:
        text, spans, n_blocks, kind, ok, err = extract_one(row["html"])
        out[row["url"]] = (text, n_blocks, kind, ok)
    return out


def _input_df(spark, corpus, n_partitions):
    rows = [
        (r["url"], r["warc_ts"].replace(tzinfo=None), r["html"], r["text"], r["lang"])
        for r in corpus
    ]
    return spark.createDataFrame(rows, INPUT_SCHEMA).repartition(n_partitions)


@pytest.mark.parametrize("n_partitions", [1, 4, 13])
def test_byte_identical_vs_golden_at_any_partitioning(spark, corpus, goldens, n_partitions):
    """Golden at every partitioning: the input's own splits and the UDF
    stage's url repartition (``extract_documents(n_partitions=)``)."""
    df = _input_df(spark, corpus, n_partitions)
    for udf_partitions in (None, n_partitions):
        result = (
            extract_documents(df, n_partitions=udf_partitions)
            .select("url", "text", "n_blocks", "kind", "ok")
            .collect()
        )
        assert len(result) == N_DOCS
        for row in result:
            g_text, g_blocks, g_kind, g_ok = goldens[row["url"]]
            assert row["text"] == g_text, f"text mismatch for {row['url']}"
            assert row["n_blocks"] == g_blocks
            assert row["kind"] == g_kind
            assert row["ok"] == g_ok


def test_error_rows_not_failures(spark):
    rows = [("u1", None, b"", "", "en"), ("u2", None, None, "", "en")]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = extract_documents(df).select("url", "ok", "error").collect()
    assert all(not r["ok"] for r in out)
    assert all(r["error"] for r in out)


def test_resumable_job_with_lineage(spark, corpus, goldens, tmp_path):
    table = str(tmp_path / "extracted")
    df_all = _input_df(spark, corpus, 4)

    # first run: only the first half is "available"
    first = df_all.filter(F.xxhash64("url") % 2 == 0)
    n_first = first.count()
    m1 = run_extraction_job(spark, first, table, n_partitions=4)
    assert m1["rows"] == n_first

    # second run over the FULL input resumes: processes only the remainder
    m2 = run_extraction_job(spark, df_all, table, n_partitions=4)
    assert m2["rows"] == N_DOCS - n_first
    assert m2["snapshot"] > m1["snapshot"]

    done = catalog.read_committed(spark, table)
    rows = done.select("url", "text").collect()
    assert len(rows) == N_DOCS
    for row in rows:
        assert row["text"] == goldens[row["url"]][0]

    # third run: nothing left to do, no new rows
    m3 = run_extraction_job(spark, df_all, table, n_partitions=4)
    assert m3["rows"] == 0

    # lineage: per-partition doc counts must sum to the processed totals
    lineage = catalog.read_committed(spark, str(tmp_path / "extracted/_lineage"))
    agg = lineage.groupBy("checkpoint_marker").agg(F.sum("doc_count").alias("docs")).collect()
    by_marker = {r["checkpoint_marker"]: r["docs"] for r in agg}
    assert by_marker[m1["marker"]] == n_first
    assert by_marker[m2["marker"]] == N_DOCS - n_first
    assert lineage.filter(F.col("bytes_in") <= 0).count() == 0


def _jobs_per_group(spark, groups) -> dict:
    """Spark jobs launched under each job group. The status listener lags
    the actions' return, but it handles events in order: once a sentinel
    job run after them is visible and finished, every earlier job is too."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup("sentinel", "sentinel")
    spark.range(1).collect()
    st = sc.statusTracker()
    deadline = time.monotonic() + 10.0
    while True:
        done = [st.getJobInfo(j) for j in st.getJobIdsForGroup("sentinel")]
        if done and all(j is not None and j.status == "SUCCEEDED" for j in done):
            return {g: len(st.getJobIdsForGroup(g)) for g in groups}
        assert time.monotonic() < deadline, "status listener did not catch up"
        time.sleep(0.05)


def test_noop_resume_launches_no_extra_jobs_for_partitioning(spark, corpus, tmp_path):
    """A no-op resume costs the same Spark jobs with or without the UDF-stage
    repartition: partitioning adds an exchange to the plan, never a
    pre-extraction action (such as a host-frequency pass) over the input."""
    table = str(tmp_path / "t")
    df = _input_df(spark, corpus[:40], 4)
    assert run_extraction_job(spark, df, table)["rows"] == 40
    sc = spark.sparkContext
    groups = {4: "noop-resume-4", None: "noop-resume-none"}
    try:
        for n_partitions, group in groups.items():
            sc.setJobGroup(group, group)
            m = run_extraction_job(spark, df, table, n_partitions=n_partitions)
            assert m["rows"] == 0
        jobs = _jobs_per_group(spark, groups.values())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs["noop-resume-4"] == jobs["noop-resume-none"] > 0, jobs


def test_uncommitted_snapshot_invisible(spark, corpus, tmp_path):
    """A killed job's snapshot (no marker) must be invisible to readers."""
    import os

    table = str(tmp_path / "t")
    df = _input_df(spark, corpus[:10], 2).select("url", "lang")
    n = catalog.commit_snapshot(df, table)
    # simulate a crash: snapshot dir written but marker missing
    df.write.mode("overwrite").parquet(os.path.join(table, f"snap_{n + 1}"))
    visible = catalog.read_committed(spark, table)
    assert visible.count() == 10
    rem = catalog.remaining(spark, _input_df(spark, corpus[:20], 2), table)
    assert rem.count() == 10


def test_context_threads_into_udf_closure(spark):
    """M4 — a per-run ExtractContext deterministically changes what the
    distributed UDF keeps (reference src/extractor.py:161-183 context-
    prefixed map). A 15-char paragraph is boilerplate under the default
    min_content_chars=25 but content under a permissive context; the
    distributed result must equal the pure function under the SAME context."""
    from pdf_extractor_spark.extract.udfs import ExtractContext

    page = (
        b"<html><body><nav><a href='/'>Home</a></nav>"
        b"<p>Fifteen chars!!</p>"
        b"<p>This paragraph is comfortably longer than twenty-five characters.</p>"
        b"</body></html>"
    )
    df = spark.createDataFrame([("u1", page)], "url string, html binary")

    loose = ExtractContext(min_content_chars=10)
    got_default = extract_documents(df).select("text").first()["text"]
    got_loose = (
        extract_documents(df, context=loose).select("text").first()["text"]
    )
    assert "Fifteen chars!!" not in got_default
    assert got_loose.startswith("Fifteen chars!!")
    # distributed == pure function under the same context (golden protocol)
    assert got_loose == extract_one(page, loose)[0]
    assert got_default == extract_one(page)[0]


def test_compact_preserves_last_wins_history(spark, tmp_path):
    """compact()/delete_where must not flatten the _snapshot history: a
    repaired url must still read ok=true after routine compaction
    (re-stamping every row with one new snapshot id made read_latest
    break the tie arbitrarily)."""
    from pdf_extractor_spark.pipeline import read_latest

    table = str(tmp_path / "t")
    catalog.commit_snapshot(
        spark.createDataFrame([("u1", False)], "url string, ok boolean"), table
    )
    catalog.commit_snapshot(
        spark.createDataFrame([("u1", True)], "url string, ok boolean"), table
    )
    assert read_latest(spark, table).collect()[0]["ok"] is True
    catalog.compact(spark, table)
    rows = read_latest(spark, table).collect()
    assert len(rows) == 1 and rows[0]["ok"] is True
    # one live snapshot remains
    assert len(catalog._committed_ids(table)) == 1


def test_snapshot_invisible_until_live_manifest_swap(spark, tmp_path):
    """The crash window of delete/compact: a snapshot dir + marker written
    but NOT yet in the _live manifest must stay invisible (the manifest
    rename is the single atomic visibility flip)."""
    import os

    table = str(tmp_path / "t")
    df = spark.createDataFrame([("u1", 1)], "url string, v int")
    catalog.commit_snapshot(df, table)  # creates _live = [1]
    # simulate: new consolidated snapshot written, marker written, crash
    # BEFORE the _live swap
    spark.createDataFrame([("u1", 1), ("u2", 2)], "url string, v int").write.mode(
        "overwrite"
    ).parquet(os.path.join(table, "snap_2"))
    with open(os.path.join(table, "_committed_2"), "w") as fh:
        fh.write("2")
    visible = catalog.read_committed(spark, table)
    assert visible.count() == 1  # old state intact, new snapshot unseen
    assert catalog._committed_ids(table) == [1]


def test_rerun_failed_converges_after_earlier_repair(spark, corpus, tmp_path):
    """A url repaired in an earlier snapshot must not be re-extracted in
    later rounds: the failed set comes from the LATEST state per url, not
    the union of all snapshots (which retains the stale ok=false row)."""
    from pdf_extractor_spark.pipeline import rerun_failed

    table = str(tmp_path / "t")
    catalog.commit_snapshot(
        spark.createDataFrame(
            [("https://h/x", False, "")], "url string, ok boolean, text string"
        ),
        table,
    )
    catalog.commit_snapshot(
        spark.createDataFrame(
            [("https://h/x", True, "fixed")], "url string, ok boolean, text string"
        ),
        table,
    )
    inp = _input_df(spark, corpus[:4], 2)
    metrics = rerun_failed(spark, inp, table, max_rounds=3)
    assert metrics == []  # nothing failed in the LATEST state -> no rounds
