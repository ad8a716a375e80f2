"""Physical-plan regression tests: the plan shapes DESIGN.md promises.

These guard the scale properties that correctness tests can't see —
broadcast choice, column pruning into the scan, single-pass anti-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages_parquet(spark, pages_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_pq") / "pages")
    pages_df.write.parquet(d)
    return spark.read.parquet(d)


def test_fetch_join_broadcasts_wave_and_prunes_scan(pages_parquet):
    wave = pages_parquet.select("url").limit(10)
    plan = (
        pages_parquet.select("url", "html")
        .join(F.broadcast(wave), "url", "inner")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_scan_reads_only_needed_columns(pages_parquet):
    plan = (
        pages_parquet.select("url", "html")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ReadSchema: struct<url:string,html:binary>" in plan
    assert "text" not in plan.split("ReadSchema", 1)[1].split("\n")[0]


def test_parse_udf_is_arrow_evaluated(pages_parquet):
    from barkingowl_spark.functions.extract import parse_pages_udf

    plan = (
        pages_parquet.select(
            parse_pages_udf(F.col("url"), F.col("html")).alias("p")
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan  # vectorized, not BatchEvalPython
    assert "BatchEvalPython" not in plan


def test_bloom_anti_join_is_single_pass(spark, pages_parquet):
    """The bloom path must not duplicate the candidate lineage (no union
    of two filtered branches) — one join operator total."""
    from barkingowl_spark.operators.dedup import IncrementalBloom, anti_join_new

    cands = pages_parquet.select(
        F.lit("s").alias("seed_url"),
        F.xxhash64("url").alias("url_hash"),
        "url",
    )
    seen = cands.limit(20).select("seed_url", "url_hash")
    bloom = IncrementalBloom(8)
    bloom.add_keys(seen)
    plan = (
        anti_join_new(cands, seen, bloom.snapshot(), 8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Join LeftAnti") + plan.count("LeftAnti, BuildRight") >= 1
    assert "Union" not in plan


def test_dot_topk_stays_jvm_side(spark):
    """Similarity scoring must be codegen exprs, never a Python UDF."""
    from barkingowl_spark.operators.similarity import dot_topk

    df = spark.createDataFrame(
        [(i, [float(i), 1.0], 0) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    plan = dot_topk(df, 2, 3)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_empty_archive_runs_no_tasks(spark, tmp_path):
    """Before the first wave commits an archive delta, the archive is
    an empty frame with the frontier schema and no partitions: the
    wave that reads it launches no task for it."""
    from barkingowl_spark.schemas import FRONTIER_SCHEMA
    from barkingowl_spark.sources.tableio import ParquetDirsIO

    empty = ParquetDirsIO(str(tmp_path)).read_archive(spark, 0)
    assert empty.schema == FRONTIER_SCHEMA
    assert empty.rdd.getNumPartitions() == 0
    assert empty.count() == 0


def test_tableio_interface_parity():
    """IcebergIO (untestable in the sandbox: no Iceberg jar, no network)
    must expose exactly the public seam ParquetDirsIO implements, with
    matching method signatures, so flipping
    CrawlConfig.iceberg_table_prefix cannot hit a missing call site."""
    import inspect

    from barkingowl_spark.sources.tableio import IcebergIO, ParquetDirsIO

    public = [
        n for n in dir(ParquetDirsIO)
        if not n.startswith("_")
        and callable(getattr(ParquetDirsIO, n))
    ]
    assert public  # seam non-empty
    for name in public:
        assert hasattr(IcebergIO, name), f"IcebergIO missing {name}"
        p_params = list(
            inspect.signature(getattr(ParquetDirsIO, name)).parameters
        )
        i_params = list(
            inspect.signature(getattr(IcebergIO, name)).parameters
        )
        assert p_params == i_params, (
            f"{name}: {i_params} != {p_params}"
        )
