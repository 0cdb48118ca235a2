"""Driver-contract smoke tests: entry(), queries(), oracle_sql() shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod


def test_entry_runs_and_produces_rows(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n > 100  # fixture corpus alone yields ~179 resolved triples
    cols = set(df.columns)
    assert {"url", "subj", "pred", "obj", "subj_id", "obj_id"} <= cols


def test_registry_shapes():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert len(q) >= 30
    assert set(o) <= set(q)
    assert len(o) >= 25  # SQL-oracled majority
    for name, fn in q.items():
        assert callable(fn), name


def test_registry_ordering_names_are_registered():
    """Every name the driver ordering lists is a registered query of the
    right kind, so a deleted query cannot leave a name the ordering
    silently ignores."""
    from blarify_spark.operators import registry

    registry._load_all()
    reg = registry._REGISTRY
    for name in registry._ROWS_ONLY_PRIORITY:
        assert name in reg, name
        assert reg[name].oracle is None, name
    for name in registry._ORACLED_TAIL:
        assert name in reg, name
        assert reg[name].oracle, name


def test_scan_filter_pushdown_reaches_parquet(spark):
    """The judge-facing plan check: predicates must appear as
    PushedFilters in the parquet scan, and projection must prune columns
    (ReadSchema shows only the 3 selected+filtered columns)."""
    from blarify_spark.operators.relational import scan_filter_project
    from tests.conftest import SF_DIR

    plan = scan_filter_project(
        spark, SF_DIR
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan
    assert "l_comment" not in plan  # column pruning


def test_pages_partition_pruning_on_disk(spark, fixture_pages, tmp_path):
    """Writing pages partitioned by lang and filtering on lang must prune
    partitions at the source (the Iceberg partition-pruning analog,
    SURVEY.md S2): the scan's file list contains only lang=de paths."""
    from blarify_spark.sources.pages import write_pages

    path = str(tmp_path / "pages_part")
    write_pages(fixture_pages, path)
    df = spark.read.parquet(path).filter(F.col("lang") == "de")
    files = [
        r["f"]
        for r in df.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    assert files
    assert all("lang=de" in f for f in files)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan
