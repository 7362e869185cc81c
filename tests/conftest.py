from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light


@pytest.fixture(scope="session")
def spark():
    from d6tstack_spark.session import get_spark

    s = get_spark(app_name="d6tstack_spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory):
    from d6tstack_spark.datagen import write_transcripts

    out = tmp_path_factory.mktemp("transcripts")
    return write_transcripts(str(out), sf=0.001)


@pytest.fixture()
def no_persisted_rdds(spark):
    """Fail the test if it leaves behind a persisted RDD that was not
    there before it: a DataFrame cached and never unpersisted pins
    executor memory and disk for the rest of the session. Compared
    against the set before the test, so a leak elsewhere in the session
    is not blamed on this test."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    yield
    leaked = persisted() - before
    if leaked:
        pytest.fail(f"test left persisted RDDs behind: {sorted(leaked)}")


@pytest.fixture()
def local_encode_rows(spark, monkeypatch):
    """Count the rows that ``encode_table(mode="local")`` encoders receive:
    wraps ``operators.encode._make_local_encoder`` so every encode task
    adds its input rows to a Spark accumulator. Returns the accumulator;
    read ``.value`` on the driver after the action."""
    import d6tstack_spark.operators.encode as enc

    acc = spark.sparkContext.accumulator(0)
    make = enc._make_local_encoder

    def counting(*args, **kwargs):
        encode_fn = make(*args, **kwargs)

        def counted_fn(batches):
            def counted():
                for b in batches:
                    acc.add(b.num_rows)
                    yield b

            return encode_fn(counted())

        return counted_fn

    monkeypatch.setattr(enc, "_make_local_encoder", counting)
    return acc
