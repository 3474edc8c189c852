import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fixtures")


@pytest.fixture(scope="session")
def spark():
    from elasticsearch_eslib_spark.config import get_spark

    spark = get_spark("eslib-spark-tests", master="local[4]",
                      shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def pages_parquet():
    """Materialized 1000-doc pages fixture (FIXTURES.md pages_unit)."""
    from elasticsearch_eslib_spark.fixtures import write_pages_parquet

    return write_pages_parquet(os.path.join(FIXTURE_DIR, "pages_unit"), 1000)


@pytest.fixture(scope="session")
def built_index(spark, pages_parquet, tmp_path_factory):
    """Index built once over the pages_unit fixture; shared by query tests."""
    from elasticsearch_eslib_spark.plans.build_index import build_index

    index_dir = str(tmp_path_factory.mktemp("index_unit"))
    metrics = build_index(spark, pages_parquet, index_dir)
    return index_dir, metrics


@pytest.fixture(scope="session")
def oracle_index(pages_parquet):
    """Pure-Python oracle index over the same corpus, doc_id == engine's
    (dense 1-based in url order)."""
    import pandas as pd

    from elasticsearch_eslib_spark.functions.analyze import analyze_text
    from elasticsearch_eslib_spark.oracle import build_index as oracle_build

    pdf = pd.read_parquet(pages_parquet, columns=["url", "text", "lang"])
    pdf = pdf.sort_values("url").reset_index(drop=True)
    docs = [(i + 1, analyze_text(t, lg))
            for i, (t, lg) in enumerate(zip(pdf["text"], pdf["lang"]))]
    return oracle_build(docs)


@pytest.fixture(scope="session")
def lifecycle_indexes(spark, tmp_path_factory):
    """One index per writer, each dir left as that writer committed it:
    "build" (200 docs), "append" (that build plus two appended epochs of
    60 docs), "compact_epochs" (the appended index with both epochs merged
    in place) and "compact_index" (the appended index force-merged into a
    new dir)."""
    import shutil

    from elasticsearch_eslib_spark.fixtures import gen_pages_range
    from elasticsearch_eslib_spark.plans.append_index import append_index
    from elasticsearch_eslib_spark.plans.build_index import build_index
    from elasticsearch_eslib_spark.plans.compact_index import (
        compact_epochs, compact_index,
    )

    root = tmp_path_factory.mktemp("lifecycle")
    pages = []
    for lo, hi in ((0, 200), (200, 260), (260, 320)):
        pages.append(str(root / f"pages_{lo}"))
        spark.createDataFrame(gen_pages_range(lo, hi)).write.parquet(
            pages[-1])
    dirs = {w: str(root / w) for w in ("build", "append", "compact_epochs",
                                       "compact_index")}
    build_index(spark, pages[0], dirs["build"])
    shutil.copytree(dirs["build"], dirs["append"])
    for p in pages[1:]:
        append_index(spark, p, dirs["append"])
    shutil.copytree(dirs["append"], dirs["compact_epochs"])
    compact_epochs(spark, dirs["compact_epochs"], from_epoch=1)
    compact_index(spark, dirs["append"], dirs["compact_index"])
    return dirs
