import pyspark.sql.functions as F
import pytest

from docopenie_spark.operators import textstats


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog. It is a fine day for the park, and the team is happy to be out in the sun with friends."),
            (2, "el la de que los el la de que los"),
            (3, "xxxx"),
        ],
        "doc_id bigint, text string",
    )


def test_profile_columns_and_values(docs):
    rows = {r.doc_id: r for r in textstats.profile(docs, "doc_id", "text").collect()}
    r1 = rows[1]
    assert r1.n_tokens == 30
    assert r1.n_pieces > r1.n_tokens  # punctuation counted separately
    assert r1.lang_pred == "en"
    assert 0.0 < r1.stopword_ratio < 1.0
    assert r1.quality >= 0.5
    assert rows[2].lang_pred == "es"
    assert rows[3].lang_pred == "und"
    assert rows[3].quality < 0.5


def test_fingerprint_ws_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "a  b\tc"), (2, "a b c"), (3, "a b d")], "doc_id bigint, text string"
    )
    fps = {r.doc_id: r.fp for r in df.select("doc_id", textstats.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]
