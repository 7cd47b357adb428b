import pytest


@pytest.fixture(scope="session")
def spark():
    from kgpipe.session import get_spark

    spark = get_spark(app_name="kgpipe-tests", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def small_corpus():
    from kgpipe.corpus import generate_corpus

    return generate_corpus(n_hanzi=20, n_words=30, n_idioms=20, seed=42)


@pytest.fixture()
def parse_log(spark, monkeypatch):
    """Route the pipeline's hot-path parse UDFs, and any character parse
    UDF built at run time, through wrappers that record every page path
    fed to them. Returns a callable giving the paths parsed so far as a
    Counter (one entry per UDF row)."""
    from collections import Counter

    from pyspark.accumulators import AddingAccumulatorParam
    from pyspark.sql import functions as F

    from kgpipe import pipeline
    from kgpipe.parse import udfs

    seen = spark.sparkContext.accumulator([], AddingAccumulatorParam([]))

    def counted(real):
        parse = real.func

        @F.pandas_udf(real.returnType)
        def udf(content, url):
            seen.add(list(url))
            return parse(content, url)

        return udf

    for name in ("parse_chengyu_pruned_udf", "parse_ciyu_pruned_udf", "parse_hanzi_pruned_udf"):
        monkeypatch.setattr(pipeline, name, counted(getattr(pipeline, name)))
    make_hanzi = udfs.make_parse_hanzi_udf
    monkeypatch.setattr(udfs, "make_parse_hanzi_udf", lambda sections: counted(make_hanzi(sections)))
    return lambda: Counter(seen.value)
