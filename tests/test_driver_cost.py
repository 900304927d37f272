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


# --- schema-known reads and per-JVM similarity Columns ----------------------

def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched), via a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"driver-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_second_t_read_launches_no_job_and_a_rewrite_reinfers(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cies_ocr_java_spark.plans.queries import _t

    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), str(path))
    first, n_first = _count_jobs(spark, lambda: _t(spark, str(tmp_path), "documents"))
    second, n_second = _count_jobs(spark, lambda: _t(spark, str(tmp_path), "documents"))
    assert n_first >= 1 and n_second == 0
    assert second.schema == first.schema and _rows(second) == _rows(first)

    pq.write_table(pa.table({"doc_id": [3], "text": ["c"], "lang": ["en"]}), str(path))
    third, n_third = _count_jobs(spark, lambda: _t(spark, str(tmp_path), "documents"))
    assert n_third >= 1
    assert third.columns == ["doc_id", "text", "lang"]
    assert [tuple(r) for r in third.collect()] == [(3, "c", "en")]


def _assert_schema_known(spark, tbl):
    """tbl.read launches no job and matches an inferring read."""
    import json

    log = json.load(open(os.path.join(tbl.root, "snapshot-log.json")))
    cur = next(s for s in log["snapshots"] if s["snapshot_id"] == log["current"])
    assert cur["schema"] is not None
    got, n_jobs = _count_jobs(spark, lambda: tbl.read(spark))
    assert n_jobs == 0
    inferred = spark.read.parquet(
        *[os.path.join(tbl.data_root, d) for d in cur["data_dirs"]])
    assert got.schema == inferred.schema
    assert _rows(got) == _rows(inferred)
    return got


def test_snapshot_reads_take_the_stored_schema(spark, tmp_path):
    from cies_ocr_java_spark import schema as S

    df = spark.createDataFrame(
        [("d1", [("text", "alpha", None, 0)], "alpha", None, 0, False),
         ("d2", [("media", None, "m://1", 0)], "", "boom", 1, True)],
        S.EXTRACTED_SPANS_STAGED)

    committed = SnapshotTable(str(tmp_path / "committed"))
    committed.commit(df)
    committed.commit(df.where(F.col("doc_id") == "d2"), mode="append")
    _assert_schema_known(spark, committed)

    rows = SnapshotTable(str(tmp_path / "rows"))
    rows.commit_rows([("r1", 1, 2, 3, 4, 0, 0.5, 2)], S.METRICS)
    assert _assert_schema_known(spark, rows).schema.names == S.METRICS.names

    adopted = SnapshotTable(str(tmp_path / "adopted"))
    staged = os.path.join(adopted.data_root, "_tmp-stage")
    df.write.parquet(staged)
    adopted.adopt_dir(staged, schema=S.EXTRACTED_SPANS_STAGED)
    _assert_schema_known(spark, adopted)

    committed.delete_where(spark, F.col("doc_id") == "d1")
    assert _rows(_assert_schema_known(spark, committed).select("doc_id")) == [
        "Row(doc_id='d2')"] * 2
    committed.compact(spark, target_files=1)
    _assert_schema_known(spark, committed)

    # commits differing only in nullability share one stored schema
    nullability = SnapshotTable(str(tmp_path / "nullability"))
    nullability.commit(spark.range(2).select(F.lit("a").alias("s")))
    nullability.commit(spark.range(1).select(F.lit(None).cast("string").alias("s")))
    _assert_schema_known(spark, nullability)


def test_partitioned_legacy_and_mixed_schema_tables_still_infer(spark, tmp_path):
    import json

    df = spark.range(4).select(F.col("id"), (F.col("id") % 2).alias("part"))

    partitioned = SnapshotTable(str(tmp_path / "partitioned"))
    partitioned.commit(df, partition_by=["part"])
    assert partitioned.history()[-1].schema is None
    got, n_jobs = _count_jobs(spark, lambda: partitioned.read(spark))
    assert n_jobs >= 1 and got.columns == ["id", "part"]

    legacy = SnapshotTable(str(tmp_path / "legacy"))
    legacy.commit(df)
    log_path = os.path.join(legacy.root, "snapshot-log.json")
    log = json.load(open(log_path))
    for s in log["snapshots"]:
        del s["schema"]
    json.dump(log, open(log_path, "w"))
    got, n_jobs = _count_jobs(spark, lambda: legacy.read(spark))
    assert n_jobs >= 1 and sorted(r["id"] for r in got.collect()) == [0, 1, 2, 3]

    mixed = SnapshotTable(str(tmp_path / "mixed"))
    mixed.commit(df)
    mixed.commit(df.withColumn("extra", F.lit("x")), mode="append")
    got, n_jobs = _count_jobs(spark, lambda: mixed.read(spark))
    assert n_jobs >= 1
    merged = mixed.read(spark, merge_schema=True)
    assert merged.columns == ["id", "part", "extra"] and merged.count() == 8


def test_warm_ann_lsh_bucketed_build_reuses_cached_columns(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cies_ocr_java_spark.operators import similarity
    from cies_ocr_java_spark.plans.queries import QUERIES

    rng = __import__("random").Random(7)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(60), pa.int64()),
        "embedding": pa.array(
            [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(60)],
            pa.list_(pa.float32())),
    }), str(tmp_path / "embeddings.parquet"))
    query = QUERIES["ann_lsh_bucketed"]
    first = query(spark, str(tmp_path))
    exprs = similarity._lsh_topk_exprs(10, 4, "vec_id", "embedding")

    client = spark.sparkContext._gateway._gateway_client
    real_send = client.send_command
    calls = [0]

    def counting_send(*args, **kwargs):
        calls[0] += 1
        return real_send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)
    second = query(spark, str(tmp_path))
    monkeypatch.undo()

    assert similarity._lsh_topk_exprs(10, 4, "vec_id", "embedding") is exprs
    # a cold build is ~1,800 round trips; the warm one is its DataFrame calls
    assert calls[0] <= WARM_BUILD_ROUND_TRIPS, calls[0]
    assert _rows(second) == _rows(first) and first.count() > 0
