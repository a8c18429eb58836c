"""Engine configuration — the reference's property/external-variable surface.

Mirrors (SURVEY.md §2.a):
  * validation_mode     <- DaffodilParse "Validation Mode" off/limited/full
                           (AbstractDaffodilProcessor.java:142-153)
  * external variables  <- dynamic properties bound per record
                           (AbstractDaffodilProcessor.java:359-371); here a
                           plain dict folded into the plan as literals
  * schema registry     <- compiled-schema LoadingCache keyed by config
                           value-equality (AbstractDaffodilProcessor.java:209,
                           336-346); here a driver-side dict of StructTypes
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

VALIDATION_MODES = ("off", "limited", "full")


@dataclass(frozen=True)
class EngineConfig:
    """Value-equality config object (= the reference's CompilationParams)."""

    validation_mode: str = "full"
    max_text_len: int = 65536  # maxLength facet analog (csv.dfdl.xsd:59-62)
    n_buckets: int = 32  # target-table bucket(conv_id) partition count
    external_variables: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.validation_mode not in VALIDATION_MODES:
            raise ValueError(
                f"validation_mode must be one of {VALIDATION_MODES}, "
                f"got {self.validation_mode!r}"
            )

    def __hash__(self) -> int:  # frozen dataclass with a dict field
        return hash(
            (
                self.validation_mode,
                self.max_text_len,
                self.n_buckets,
                tuple(sorted(self.external_variables.items())),
            )
        )


class SchemaRegistry:
    """Driver-side registry of declared StructTypes keyed by (schema_id).

    The reference caches compiled DataProcessors in a bounded Guava cache
    (AbstractDaffodilProcessor.java:374-396); Spark analyzes a plan once per
    query, so "compilation" is free — the registry only resolves ids to
    StructTypes and fails fast on unknown ids (schema-missing test analog,
    TestDaffodilProcessor.java:48-58).
    """

    def __init__(self) -> None:
        self._schemas: dict[str, T.StructType] = {}

    def register(self, schema_id: str, schema: T.StructType) -> None:
        self._schemas[schema_id] = schema

    def get(self, schema_id: str) -> T.StructType:
        if schema_id not in self._schemas:
            raise KeyError(f"unknown schema id: {schema_id!r}")
        return self._schemas[schema_id]

    def __contains__(self, schema_id: str) -> bool:
        return schema_id in self._schemas


def default_registry() -> SchemaRegistry:
    from nifi_daffodil_spark import schemas as S

    reg = SchemaRegistry()
    reg.register("event_v0", S.EVENT_SCHEMA_V0)
    reg.register("event_v1", S.EVENT_SCHEMA_V1)
    reg.register("event_envelope", S.EVENT_ENVELOPE_SCHEMA)
    reg.register("payload", S.PAYLOAD_SCHEMA)
    reg.register("transcript", S.TRANSCRIPT_SCHEMA)
    return reg
