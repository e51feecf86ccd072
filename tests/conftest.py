import pytest

from translink.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(master="local[4]", shuffle_partitions=8,
                      app_name="translink-tests")
    yield spark


@pytest.fixture(scope="session")
def tiny(spark):
    """Tiny deterministic fixture: transcripts + labels + golden clusters."""
    from translink import fixtures

    data = fixtures.generate("tiny", seed=42)
    return {
        "transcripts": fixtures.to_spark(spark, data["transcripts"]).cache(),
        "labeled_pairs": spark.createDataFrame(data["labeled_pairs"]).cache(),
        "expected_clusters": spark.createDataFrame(data["expected_clusters"]).cache(),
        "pandas": data,
    }


@pytest.fixture
def no_shingle_kernel(monkeypatch):
    """Make the standalone shingle kernel raise: pair scoring must read the
    shingle hashes the signature kernel stored, not re-shingle pair sides."""
    import translink.signatures

    def _raise(*args, **kwargs):
        raise AssertionError("pair scoring must read the stored shingle hashes")

    monkeypatch.setattr(translink.signatures, "make_shingle_udf", _raise)
