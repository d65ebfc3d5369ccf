import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timeseriestokenizer_spark.session import get_spark, release_held  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tts-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _release_operator_caches():
    """Each test starts with no operator-held cache: a test that measures
    persistent RDDs against a baseline sees only its own."""
    yield
    release_held()


@pytest.fixture(scope="session")
def transcripts(spark):
    from timeseriestokenizer_spark.datagen import transcripts_df

    df = transcripts_df(spark, C=40, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def transcripts_pdf():
    from timeseriestokenizer_spark.datagen import make_transcripts_pdf

    return make_transcripts_pdf(C=40, seed=42)


def _family_rows(prefix, state):
    """A tier-store family's state as sorted, comparable rows: HLL by its
    estimate (the sketch bytes depend on the merge order), every other
    family by all of its columns (theta sketches by their bytes)."""
    from pyspark.sql import functions as F

    if prefix == "hll":
        state = state.select("bucket_ts", F.hll_sketch_estimate("key_hll").alias("est"))
    return sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in state.select(*sorted(state.columns)).collect()
    )


@pytest.fixture
def family_rows():
    return _family_rows
