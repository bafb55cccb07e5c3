import pytest

from extractor_spark.spark.synth import FIXTURE_DIR

# Tests that read the reference HTML fixture files skip through this one
# marker when the files are not there.
needs_fixture_files = pytest.mark.skipif(
    not FIXTURE_DIR.is_dir(),
    reason=f"reference HTML fixtures absent: {FIXTURE_DIR}",
)


@pytest.fixture(scope="session")
def spark():
    from extractor_spark.spark.session import get_spark

    spark = get_spark("extractor-spark-tests", cpus=8, shuffle_partitions=8)
    yield spark
    # caller contract for lazy-returning queries with persisted
    # intermediates (LSH signatures): release before stopping, and prove
    # nothing stays pinned in executor memory.
    from extractor_spark.spark.queries import release_query_caches

    release_query_caches()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0, (
        "persisted RDDs leaked past release_query_caches()"
    )
    spark.stop()


@pytest.fixture(autouse=True)
def _fresh_view_registration():
    """Tests overwrite the registry's view names (documents, events, ...)
    with engineered frames; each test's first registry query registers the
    parquet views again."""
    from extractor_spark.spark.queries import _VIEW_REG_STATE

    _VIEW_REG_STATE.clear()
