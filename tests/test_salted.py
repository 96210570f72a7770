"""The hot-entity pre-pass that routes the flagship block finds the
fixture's planted hot conversation (~10% of all rows). Salted-vs-plain
equality of the chunk-and-carry block itself is in tests/test_fused.py.
"""

from amazon_security_lake_transformation_library_spark.operators import salted


def test_hot_entity_detection(spark, transcripts_df):
    hot = salted.hot_entities(transcripts_df, threshold_rows=50).toPandas()
    # the generator plants conv_00000000 as the ~10%-of-rows hot conversation
    assert "conv_00000000" in set(hot["conv_id"])
