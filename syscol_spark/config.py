"""Engine configuration, mirroring the data-plane and endpoint fields of the
reference's config struct (config.go:42-58) so a syscol user can carry those
settings over unchanged. The reference's per-task Cpus/Mem sizing has no
counterpart: the executor size is the Spark session's, not the collector's.

Reference defaults: ReportingInterval=1s (config.go:35);
transform ∈ {none, avro} (metrics_reporter.go:28-31);
CanStart gate requires producer properties + topic, plus schema-registry URL
in avro mode (config.go:60-65).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

TRANSFORM_NONE = "none"  # JSON envelope (metrics_reporter.go:29)
TRANSFORM_AVRO = "avro"  # Confluent-framed Avro (metrics_reporter.go:31)


@dataclass
class CollectorConfig:
    # data plane
    producer_properties: str = ""  # path to .properties (kafka passthrough)
    topic: str = ""
    transform: str = TRANSFORM_NONE
    schema_registry_url: str = ""
    reporting_interval_secs: float = 1.0  # S2 trigger cadence
    namespace: str = ""
    # collection endpoints: the hosts whose /metrics/snapshot we poll
    hosts: list[str] = field(default_factory=list)
    port: int = 5051

    def can_start(self) -> tuple[bool, str]:
        """Start gate, same rules as reference CanStart (config.go:60-65)."""
        if not self.producer_properties:
            return False, "producer properties not set"
        if not self.topic:
            return False, "topic not set"
        if self.transform == TRANSFORM_AVRO and not self.schema_registry_url:
            return False, "schema.registry.url required for avro transform"
        if self.transform not in (TRANSFORM_NONE, TRANSFORM_AVRO):
            return False, f"unknown transform {self.transform!r}"
        return True, ""

    def to_json(self) -> str:
        """Reference serializes config into TaskInfo.Data as JSON
        (scheduler.go:213-217); we keep the same round-trip contract."""
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> CollectorConfig:
        return cls(**json.loads(s))


def parse_producer_properties(path: str) -> dict[str, str]:
    """Parse a Kafka .properties file (reference: ProducerConfigFromFile,
    siesta-producer/kafka_producer.go:161-217). Keys are passed through to
    the Spark Kafka sink as ``kafka.<key>`` options."""
    props: dict[str, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith(("#", "!")):
                continue
            if "=" in line:
                k, _, v = line.partition("=")
                props[k.strip()] = v.strip()
    return props
