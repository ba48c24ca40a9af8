"""Id normalization (P5) vs the reference's documented semantics."""

from e2e_el_spark.functions import normalize_entity_id_expr


def test_normalize_entity_ids(spark):
    df = spark.createDataFrame(
        [("UMLS:C123",), ("MESH:D1+D2",), ("E1|E2",), ("plain",)], "entity_id string"
    )
    got = [r.entity_id for r in df.select(normalize_entity_id_expr("entity_id").alias("entity_id")).collect()]
    assert got == ["C123", "D1", "E1", "plain"]
