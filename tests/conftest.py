import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from paddleocr_spark.session import get_spark

    s = get_spark("paddleocr_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def media_store(spark, tmp_path_factory):
    """``media_store(docs, seed, partitions=None)`` writes the media of
    ``docs`` once to a fresh store directory and returns its path: the
    media consumers read the store by path only."""
    from paddleocr_spark.corpus import synthesize_media

    def write(docs, seed, partitions=None):
        path = str(tmp_path_factory.mktemp("media_store"))
        (synthesize_media(spark, docs, seed=seed, partitions=partitions)
         .write.mode("overwrite").parquet(path))
        return path

    return write
