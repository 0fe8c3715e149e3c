"""Gold-split fixture freshness: the committed fixtures/gazetteer/
splits, which the gold-split queries and their DuckDB oracles read,
must equal the filtered splits read from the reference JSON."""

import os

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIX = os.path.join(REPO, "fixtures", "gazetteer")


@pytest.mark.parametrize("dataset", ["custom", "conll04"])
@pytest.mark.parametrize("split", ["train", "test"])
def test_fixture_matches_live_split(spark, dataset, split):
    """The frozen oracle inputs must equal the filtered split read from
    the reference JSON — otherwise the gazetteer oracles silently verify
    stale data. load_reference_split never falls back to the fixtures,
    so where the reference is absent this fails with FileNotFoundError
    instead of comparing the fixtures with themselves."""
    from causalre_spark import gold_eval as G

    path = os.path.join(FIX, f"{dataset}_{split}.parquet")
    assert os.path.exists(path), "run tools/freeze_gazetteer.py"
    live = G.load_reference_split(spark, dataset, split)
    froz = spark.read.parquet(path)
    key = [F.col("doc_id")]
    digest = lambda df: (  # noqa: E731
        df.select(
            F.md5(F.to_json(F.struct("doc_id", "tokens", "spans",
                                     "relations"))).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10)
                   .cast("long")).alias("s"), F.count("*").alias("n"))
        .collect()[0])
    assert digest(live) == digest(froz)
