"""What the benchmark measures: its workloads, its metrics with the
end-to-end metric each per-layer number should move, and the frozen list
of registry queries. ``BENCHMARK.json`` at the repository root mirrors
this file; ``test_smoke.py`` keeps the two in step."""

from __future__ import annotations

# How long one run measures, in seconds: 7-16 run() calls or 4-11 registry
# passes after set-up on a 4-vCPU host, where set-up, checks and shutdown
# take another 20-50 s, depending on the neighbours' load.
RUN_SECONDS = 20

WORKLOADS = {
    "mixed_run": (
        "the north-star job: run() over the FIXTURES.md class mix, where "
        "PDF/HTML extraction and the staged commit dominate and scanned PDFs "
        "drive the OCR fallback"
    ),
    "registry_dedup": (
        "the dedup/retrieval registry stack over committed sf0.1 data, "
        "build-once tables rebuilt every pass; bypasses run(), so pipeline "
        "changes should not move it"
    ),
}

# Registry queries of registry_dedup (run in registry order, so the
# shingle-table build precedes neardup_pairs_build, which consumes it),
# each mapped to the operator module it calls. Together they cover both
# build-once tables, exact dedup, and bucketed and fixed-bits sign-LSH
# similarity. The whole 59-name dedup/similarity family takes ~90 s per
# warm pass even at 500 documents on a 4-vCPU host, which no single
# benchmark run can afford; these five take 2-4 s over the committed input.
REGISTRY_NAMES = {
    "shingle_table_build": "dedup",
    "dedup_exact": "dedup",
    "neardup_pairs_build": "dedup",
    "ann_lsh_bucketed": "similarity",
    "dedup_embedding_cosine": "similarity",
}

# name -> (unit, better, bound). bound: the share of the parent's median
# by which the metric may worsen before a change counts as a regression.
# The timings share a 4-vCPU host with other tenants, whose load has moved
# the same run's walls by a third, so their bounds are the largest
# allowed. setup_s is one cold start per invocation. The output ratio is
# fixed by each seed's corpus, but steps with the number of files the
# commit writes (2 or 3 for 3000 documents), so seeds spread it by 0.06-0.18
# (IQR / median).
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "run_wall_s": ("s", "lower", 0.25),
    "docs_per_s": ("docs/s", "higher", 0.25),
    "input_mb_per_s": ("MB/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
    "output_bytes_per_input_byte": ("ratio", "lower", 0.25),
    "ops_ok_frac": ("ratio", "higher", 0.1),
}

_PIPE = "mixed_run"
_EXTRACT = "run_wall_s, docs_per_s, input_mb_per_s on mixed_run; not on registry_dedup"
# run(resume=True) is measured only here, in mixed_run's traced run
_RESUME = "no end-to-end workload: run(resume=True) over a committed root"

# name -> (unit, better, the end-to-end metric and workload it should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s on all workloads"),
    "scan.self_s": ("s", "lower", f"run_wall_s on {_PIPE} (small share)"),
    "scan.tasks": ("count", "higher", f"run_wall_s on {_PIPE} (small share)"),
    "scan.input_mb": ("MB", "lower", f"run_wall_s on {_PIPE} (small share)"),
    "classify.self_s": ("s", "lower", "run_wall_s on mixed_run"),
    "classify.spans": ("count", "higher", "docs_per_s on mixed_run (work count)"),
    "exchange.self_s": ("s", "lower", "run_wall_s on mixed_run"),
    "exchange.shuffle_write_mb": ("MB", "lower", "run_wall_s on mixed_run"),
    "exchange.task_skew": ("ratio", "lower", "run_wall_s on mixed_run (giant-doc tail)"),
    "extract.self_s": ("s", "lower", _EXTRACT),
    "pdf_extract.self_s": ("s", "lower", _EXTRACT),
    "pdf_extract.mb_per_s": ("MB/s", "higher", _EXTRACT),
    "ocr_mock.self_s": ("s", "lower", _EXTRACT),
    "ocr_mock.mb_per_s": ("MB/s", "higher", _EXTRACT),
    "html_extract.self_s": ("s", "lower", _EXTRACT),
    "html_extract.mb_per_s": ("MB/s", "higher", _EXTRACT),
    "text.self_s": ("s", "lower", _EXTRACT),
    "text.mb_per_s": ("MB/s", "higher", _EXTRACT),
    "route.text": ("count", "higher", "none: repeats exactly per seed"),
    "route.html": ("count", "higher", "none: repeats exactly per seed"),
    "route.pdf_layer": ("count", "higher", "none: repeats exactly per seed"),
    "route.pdf_ocr": ("count", "lower", "none: repeats exactly per seed"),
    "route.media": ("count", "higher", "none: repeats exactly per seed"),
    "route.invalid": ("count", "lower", "none: repeats exactly per seed"),
    "route.malformed": ("count", "lower", "none: repeats exactly per seed"),
    "pdf_extract.layer_used_frac": ("ratio", "higher", "docs_per_s on mixed_run"),
    "assemble.self_s": ("s", "lower", "run_wall_s on mixed_run"),
    "assemble.shuffle_write_mb": ("MB", "lower", "run_wall_s on mixed_run"),
    "commit.self_s": ("s", "lower", f"run_wall_s, output_bytes_per_input_byte on {_PIPE}"),
    "commit.bytes_written": ("bytes", "lower", f"output_bytes_per_input_byte on {_PIPE}"),
    "commit.files_written": ("count", "lower", f"run_wall_s on {_PIPE}"),
    "run.jobs": ("count", "lower", f"run_wall_s on {_PIPE}"),
    "run.executor_busy_frac": ("ratio", "higher", "docs_per_s on mixed_run"),
    "resume.self_s": ("s", "lower", f"{_RESUME}; not mixed_run"),
    "resume.docs_skipped": ("count", "higher", _RESUME),
    "resume.docs_reprocessed": ("count", "lower", _RESUME),
    "snapshots.read_s": ("s", "lower", _RESUME),
    **{
        f"registry.{n}.wall_s": ("s", "lower", "run_wall_s on registry_dedup only")
        for n in REGISTRY_NAMES
    },
    "registry.dedup.wall_s": ("s", "lower", "run_wall_s on registry_dedup only"),
    "registry.similarity.wall_s": ("s", "lower", "run_wall_s on registry_dedup only"),
    "registry.job_floor_s": ("s", "lower", "run_wall_s on registry_dedup (the per-query floor)"),
    "trace.overhead_frac": ("ratio", "lower", "none: traced / untraced wall of the workload's call, minus 1"),
}


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document this spec defines."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd}
            for n, (u, b, bd) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b, _) in PER_LAYER.items()
        ],
    }
