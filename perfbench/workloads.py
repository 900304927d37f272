"""The workloads. Each one opens its inputs on a session, warms up, runs
timed operations and checks every operation's output outside the timed
section.

An operation is one ``run()`` call for mixed_run and one registry query for
registry_dedup. A run's ``run_wall_s`` is the median of its ``run()`` calls
for mixed_run, and for registry_dedup the sum over the names of each name's
median over the run's passes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from spec import REGISTRY_NAMES

# Sentinels of the canonical span string: raw fields joined with
# \x01/\x02/\x03, which the grammar never emits. Hashing JSON instead would
# flag false mismatches, because Jackson and Python escape unicode and
# control characters differently.
_NULL, _FIELD, _SPAN = "\x02", "\x01", "\x03"

# Untimed run() calls of set-up. The first is cold; on a 4-vCPU host, after
# three, the timed calls over 3000 documents fell from 1.40 to 1.15 s over
# eight calls, a tail that the median of a run's calls absorbs.
WARM_CALLS = 4
# Untimed registry passes of set-up. The first pass is cold (17-19 s on a
# loaded 4-vCPU host), the next ones 5.2-6.2, 4.2-5.2, 4.1-4.9 and then
# 3.7-4.7 s; the per-name medians of the measured passes absorb the rest of
# the warm-up.
WARM_PASSES = 4


def disk_usage(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def golden_hashes(corpus_dir: str) -> dict[str, str]:
    """doc_id -> md5 of the canonical span string of ``expected_spans``."""
    tbl = pq.read_table(os.path.join(corpus_dir, "expected_spans.parquet"),
                        columns=["doc_id", "spans"])
    out = {}
    for doc_id, spans in zip(tbl.column("doc_id").to_pylist(),
                             tbl.column("spans").to_pylist()):
        canon = _SPAN.join(
            _FIELD.join([
                _NULL if s["kind"] is None else s["kind"],
                _NULL if s["text"] is None else s["text"],
                _NULL if s["media_ref"] is None else s["media_ref"],
                str(int(s["order"])),
            ])
            for s in spans
        )
        out[doc_id] = hashlib.md5(canon.encode("utf-8")).hexdigest()
    return out


def check_spans(spark, out_root: str, golden: dict[str, str]) -> str | None:
    """Span-sequence equality of the committed ``extracted_spans`` against
    the goldens; returns a reason on mismatch, None when equal. Only
    (doc_id, md5) crosses to the driver."""
    from pyspark.sql import functions as F

    from cies_ocr_java_spark.sources.snapshots import SnapshotTable

    got = SnapshotTable(os.path.join(out_root, "extracted_spans")).read(spark)
    canon = F.array_join(
        F.transform("spans", lambda s: F.concat_ws(
            _FIELD,
            F.coalesce(s["kind"], F.lit(_NULL)),
            F.coalesce(s["text"], F.lit(_NULL)),
            F.coalesce(s["media_ref"], F.lit(_NULL)),
            s["order"].cast("string"),
        )),
        _SPAN,
    )
    rows = got.select("doc_id", F.md5(canon).alias("h")).collect()
    got_map = {r.doc_id: r.h for r in rows}
    if len(got_map) != len(rows):
        return f"{len(rows) - len(got_map)} duplicate documents committed"
    wrong = sum(1 for d, h in golden.items() if got_map.get(d) != h)
    extra = len(set(got_map) - set(golden))
    if wrong or extra:
        return f"{wrong} of {len(golden)} documents differ, {extra} unexpected"
    return None


@dataclass
class Op:
    """One timed operation: its wall, the samples it contributes to the
    end-to-end metrics, and the reason it failed (None when it passed)."""
    wall: float
    samples: dict = field(default_factory=dict)
    error: str | None = None


def more(t0: float, done: int, n_min: int, seconds: float) -> bool:
    """Whether to start another unit of a loop begun at ``t0`` that should
    last about ``seconds``: yes below ``n_min`` units, else only if a unit
    of the mean length so far still ends in time."""
    if done < n_min:
        return True
    now = time.perf_counter()
    return now + (now - t0) / done <= t0 + seconds


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


class MixedRun:
    """run(resume=False) over the whole corpus into a fresh output root;
    one op is one run(), checked against the goldens."""

    name = "mixed_run"

    def __init__(self, work: str, corpus_dir: str, manifest: dict):
        self.corpus_dir = corpus_dir
        self.manifest = manifest
        self.golden = golden_hashes(corpus_dir)
        self.out = os.path.join(work, "out")
        self.spark = self.docs = None

    def open(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(os.path.join(self.corpus_dir, "documents.parquet"))

    def call(self) -> dict:
        from cies_ocr_java_spark.plans import pipeline

        return pipeline.run(self.spark, self.docs, self.out, resume=False)

    def op(self) -> Op:
        """Empty the output root (untimed), call (timed), check (untimed)."""
        shutil.rmtree(self.out, ignore_errors=True)
        try:
            wall, m = timed(self.call)
        except Exception as e:  # a raising run() is a failed operation
            return Op(0.0, error=f"{type(e).__name__}: {str(e)[:300]}")
        n, payload = self.manifest["docs"], self.manifest["payload_bytes"]
        out_bytes, _ = disk_usage(self.out)
        op = Op(wall, {
            "run_wall_s": wall,
            "docs_per_s": n / wall,
            "input_mb_per_s": payload / 1e6 / wall,
            "output_bytes_per_input_byte": out_bytes / payload,
        })
        if m["docs_processed"] != n:
            op.error = f"docs_processed {m['docs_processed']} != {n}"
        else:
            op.error = check_spans(self.spark, self.out, self.golden)
        return op

    def warm(self, n: int = WARM_CALLS) -> list[Op]:
        return [self.op() for _ in range(n)]


class RegistryDedup:
    """The REGISTRY_NAMES queries through the noop sink. Each query is timed
    from the ``QUERIES[name](spark, sf)`` call to the end of the write, since
    several queries do eager work while building their plan. The build-once
    caches are emptied before every pass, so the builders measure a build."""

    name = "registry_dedup"

    def __init__(self, work: str, corpus_dir: str, manifest: dict):
        from cies_ocr_java_spark.plans.queries import QUERIES

        self.sf = corpus_dir
        self.manifest = manifest
        self.names = [n for n in QUERIES if n in REGISTRY_NAMES]
        missing = set(REGISTRY_NAMES) - set(self.names)
        if missing:
            raise KeyError(f"registry names not registered: {sorted(missing)}")
        self.build_dirs = [os.environ["CIES_NEARDUP_CACHE_DIR"],
                           os.environ["CIES_SHINGLE_CACHE_DIR"]]
        self.spark = None

    def open(self, spark) -> None:
        self.spark = spark

    def query(self, name: str) -> float:
        from cies_ocr_java_spark.plans.queries import QUERIES

        t0 = time.perf_counter()
        QUERIES[name](self.spark, self.sf).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        # operators persist internal tables; drop them between queries
        self.spark.catalog.clearCache()
        return wall

    def run_pass(self) -> list[Op]:
        """One pass over the names, build-once caches emptied first."""
        for d in self.build_dirs:
            shutil.rmtree(d, ignore_errors=True)
        ops = []
        for name in self.names:
            try:
                wall = self.query(name)
                ops.append(Op(wall, {"name": name}))
            except Exception as e:
                ops.append(Op(0.0, {"name": name},
                              f"{name}: {type(e).__name__}: {str(e)[:300]}"))
        return ops

    def warm(self, n: int = WARM_PASSES) -> list[Op]:
        return [op for _ in range(n) for op in self.run_pass()]

    def query_walls(self, passes: list[list[Op]]) -> dict[str, list[float]]:
        return {name: [p[i].wall for p in passes] for i, name in enumerate(self.names)}

    def samples(self, passes: list[list[Op]]) -> dict:
        """One sample of each metric from all measured passes: the wall is
        the sum over the names of each name's median wall, so a stall in
        one query of one pass does not move it."""
        import statistics

        wall = sum(statistics.median(w) for w in self.query_walls(passes).values())
        n, payload = self.manifest["docs"], self.manifest["payload_bytes"]
        built = sum(disk_usage(d)[0] for d in self.build_dirs)
        return {
            "run_wall_s": wall,
            "docs_per_s": n / wall,
            "input_mb_per_s": payload / 1e6 / wall,
            "output_bytes_per_input_byte": built / payload,
        }

    def check(self, ops: list[Op]) -> None:
        """Oracle-exact equality of every name, checked once; a name that
        disagrees with its oracle fails each of its calls among ``ops``."""
        import duckdb

        from cies_ocr_java_spark.plans.queries import ORACLES, QUERIES
        from tools.check_queries import compare

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf, t + '.parquet')}')")
        bad = {}
        for name in self.names:
            try:
                ok, msg = compare(name, QUERIES[name](self.spark, self.sf), con,
                                  ORACLES.get(name))
            except Exception as e:
                ok, msg = False, f"{type(e).__name__}: {str(e)[:300]}"
            self.spark.catalog.clearCache()
            if not ok:
                bad[name] = msg
        con.close()
        for o in ops:
            o.error = o.error or bad.get(o.samples.get("name"))
