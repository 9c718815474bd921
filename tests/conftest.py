from __future__ import annotations

import pytest

from metadata_enhanced_pretrain_datapipeline_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "real_models: integration tests that run the real model/codec "
        "runtimes (sentence-transformers, fasttext, Pillow); they skip "
        "automatically when the library is absent and activate the moment "
        "it is importable — run them alone with `pytest -m real_models`.",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def docs(spark):
    """Deterministic 40-doc corpus with known PII, duplicates, languages."""
    rows = []
    for i in range(40):
        text = f"the quick doc {i} " + ("spark filter join " * (i % 5 + 1)).strip()
        if i % 4 == 0:
            text += f" mail bob{i}@example.org and 10.1.{i}.9"
        if i % 10 == 9:
            text = "identical duplicate body"
        rows.append((i, text, ["en", "de", "fr"][i % 3], f"src{i % 4}"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


@pytest.fixture(scope="session")
def round_robin(spark):
    """``round_robin(rows, n, schema)``: a DataFrame whose row j sits in
    partition j % n — an explicit layout, unlike ``createDataFrame``'s
    slicing or ``repartition(n)``'s hash-sorted round robin."""
    def layout(rows, n, schema="id_a long, id_b long"):
        rdd = (spark.sparkContext.parallelize(list(enumerate(rows)), n)
               .partitionBy(n, lambda j: j % n).values())
        return spark.createDataFrame(rdd, schema)
    return layout
