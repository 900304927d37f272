"""run()'s fixed driver cost (plans/pipeline.py, "Driver cost"): the
extraction Columns are built once per JVM and reused by every later call,
and a resume=False run launches no job after the staged write except the
doc_state write — the staged files are read back with a known schema, so
no schema-inference job runs."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from cies_ocr_java_spark.operators import assemble
from cies_ocr_java_spark.plans import pipeline
from cies_ocr_java_spark.sources.snapshots import SnapshotTable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A warm extract_spans build is its DataFrame operations only; a cold one
# is 3,000-4,000 py4j round trips.
WARM_BUILD_ROUND_TRIPS = 300


def test_run_launches_one_job_after_the_staged_write(
    spark, corpus_dir, tmp_path, monkeypatch
):
    sc = spark.sparkContext
    group = "driver-cost-run"
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").where(
        F.col("doc_id") < "doc-000040"
    )

    def jobs() -> list[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    marks = {}
    real_adopt, real_commit = SnapshotTable.adopt_dir, SnapshotTable.commit

    def adopt_dir(self, *args, **kwargs):
        marks["staged"] = jobs()
        return real_adopt(self, *args, **kwargs)

    def commit(self, *args, **kwargs):
        marks.setdefault("before_commits", jobs())
        return real_commit(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "adopt_dir", adopt_dir)
    monkeypatch.setattr(SnapshotTable, "commit", commit)
    sc.setJobGroup(group, "run(resume=False) job shape")
    try:
        m = pipeline.run(spark, docs, str(tmp_path / "out"), resume=False)
        after = jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["docs_processed"] == 40
    # salt-shuffle map stage, assembly-shuffle map stage, the write
    assert len(marks["staged"]) == 3
    # reading the staged dirs back for doc_state launches nothing
    assert marks["before_commits"] == marks["staged"]
    # the doc_state write is the one job after the staged write
    assert after[:3] == marks["staged"] and len(after) == 4


def test_warm_extract_spans_reuses_cached_expressions(spark, corpus_dir, monkeypatch):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    first = pipeline.extract_spans(docs)
    exprs = pipeline._span_exprs("DETECTION", False, False)
    assembly = assemble._assembly_exprs()

    client = spark.sparkContext._gateway._gateway_client
    real_send = client.send_command
    calls = [0]

    def counting_send(*args, **kwargs):
        calls[0] += 1
        return real_send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)
    second = pipeline.extract_spans(docs)
    monkeypatch.undo()

    assert calls[0] <= WARM_BUILD_ROUND_TRIPS, calls[0]
    assert pipeline._span_exprs("DETECTION", False, False) is exprs
    assert assemble._assembly_exprs() is assembly
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, second.collect()))


# Child process: stopping the shared test session would break every later
# test, so the stop-and-restart half runs in its own JVM.
_RESTART_SCRIPT = r"""
import sys

from cies_ocr_java_spark.plans import pipeline
from cies_ocr_java_spark.session import get_spark
from tools import oracle
from tools.make_fixtures import generate

corpus = sys.argv[1]
# (ocr_mode, use_pdf_udf, use_html_udf): alternate the mode and every switch
VARIANTS = [
    ("DETECTION", False, False),
    ("ANALYSIS", True, False),
    ("DETECTION", False, True),
    ("ANALYSIS", False, False),
]
docs_py = generate(160, seed=42)
golden = {
    mode: {d["doc_id"]: oracle.extract_document(d["doc_id"], d["spans"], ocr_mode=mode)
           for d in docs_py}
    for mode in ("DETECTION", "ANALYSIS")
}


def check(spark):
    docs = spark.read.parquet(f"{corpus}/documents.parquet")
    for mode, pdf_udf, html_udf in VARIANTS:
        out = pipeline.extract_spans(
            docs, ocr_mode=mode, use_pdf_udf=pdf_udf, use_html_udf=html_udf)
        rows = {r["doc_id"]: r for r in out.collect()}
        assert set(rows) == set(golden[mode]), mode
        for doc_id, want in golden[mode].items():
            r = rows[doc_id]
            assert r["failed"] == (want["status"] == "FAILED"), (mode, doc_id)
            if want["status"] == "FAILED":
                continue
            got = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
            exp = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in want["spans"]]
            assert got == exp and r["text"] == want["text"], (mode, pdf_udf, html_udf, doc_id)
            assert r["used_ocr"] == want["used_ocr"], (mode, doc_id)
    return {v: pipeline._span_exprs(*v) for v in VARIANTS}


spark = get_spark(master="local[2]", shuffle_partitions=4)
before = check(spark)
spark.stop()
spark = get_spark(master="local[2]", shuffle_partitions=4)
after = check(spark)
assert all(after[v] is before[v] for v in VARIANTS)
assert len({id(e) for e in before.values()}) == len(VARIANTS)
spark.stop()
print("ok")
"""


def test_cached_expressions_stay_golden_across_modes_and_sessions(corpus_dir):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    for k in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        env.pop(k, None)
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, corpus_dir],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().endswith("ok")
