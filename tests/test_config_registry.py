import pytest

from nifi_daffodil_spark.config import EngineConfig, SchemaRegistry, default_registry


def test_engine_config_validation():
    with pytest.raises(ValueError):
        EngineConfig(validation_mode="bogus")
    c = EngineConfig(external_variables={"byteOrder": "LE"})
    assert hash(c) == hash(EngineConfig(external_variables={"byteOrder": "LE"}))
    assert hash(c) != hash(EngineConfig(external_variables={"byteOrder": "BE"}))


def test_registry_value_semantics():
    """Cache-key value-equality analog (TestDaffodilProcessor.java:345-367)."""
    reg = default_registry()
    assert "event_v1" in reg
    with pytest.raises(KeyError):
        reg.get("missing-schema")  # schema-missing hard failure (:48-58)
    r2 = SchemaRegistry()
    r2.register("x", reg.get("event_v1"))
    assert r2.get("x") == reg.get("event_v1")


def test_iceberg_sink_is_gated(spark):
    from nifi_daffodil_spark.sinks.iceberg import IcebergMergeSink, IcebergUnavailableError, iceberg_available

    assert not iceberg_available(spark)  # no runtime jars in this container
    with pytest.raises(IcebergUnavailableError):
        IcebergMergeSink(spark, "lake.db.t")
