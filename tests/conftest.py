import pytest

from search_engine_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    return get_spark(
        app_name="search-engine-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        driver_memory="8g",
    )


@pytest.fixture
def cluster_placement(monkeypatch):
    """No driver placement budget for the test's duration: every block
    runner input then takes the cluster placement (a block-sorted
    ``mapInPandas`` over the pruned scans)."""
    from search_engine_spark import engine

    monkeypatch.setattr(engine, "_DRIVER_ROWS", -1)


@pytest.fixture(scope="session")
def documents_df(spark):
    """The sf0.001 documents table (tiny, read once per session)."""
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="session")
def golden_engine(spark, tmp_path_factory):
    """Engine over the reference's 5-doc golden corpus, built once."""
    from search_engine_spark.engine import TranscriptSearchEngine
    from search_engine_spark.fixtures import golden_transcripts

    index_dir = str(tmp_path_factory.mktemp("golden") / "index")
    return TranscriptSearchEngine.build(spark, golden_transcripts(spark), index_dir)
