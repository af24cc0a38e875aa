"""Kafka end-to-end round trip — gated on a real broker.

Everything Kafka in this repo is contract-tested against
transaction-honoring mocks (tests/test_kafka_contract.py,
test_kafka_eos.py, test_kafka_eos_partition.py); this module is the one
test that exercises the actual network path: produce → Structured
Streaming Kafka source → agent transform → transactional EOS sink →
read-committed consumer assert. The sandbox ships no broker, no Kafka
client library, and no spark-sql-kafka jar, so the test self-skips
unless the environment provides all three.

One-command recipe (any machine with Docker + network)::

    docker run -d --name=redpanda -p 9092:9092 \\
      redpandadata/redpanda:latest redpanda start --overprovisioned \\
      --smp 1 --memory 1G --node-id 0 --check=false \\
      --kafka-addr PLAINTEXT://0.0.0.0:9092 \\
      --advertise-kafka-addr PLAINTEXT://localhost:9092
    pip install confluent-kafka
    KAFKA_BOOTSTRAP=localhost:9092 python -m pytest \\
      tests/test_kafka_integration.py -v

(Apache Kafka in KRaft mode works identically:
``docker run -d -p 9092:9092 apache/kafka:3.7.0``.)

The Spark session fetches ``spark-sql-kafka-0-10`` from Maven on first
run via ``spark.jars.packages`` — network required once.
"""

import os
import uuid

import pytest

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")

try:
    import confluent_kafka  # noqa: F401

    HAVE_CLIENT = True
except ImportError:
    HAVE_CLIENT = False

pytestmark = [
    pytest.mark.kafka,
    pytest.mark.skipif(
        not BOOTSTRAP,
        reason="set KAFKA_BOOTSTRAP=<host:port> (see module docstring "
        "for the one-command docker recipe)",
    ),
    pytest.mark.skipif(
        BOOTSTRAP and not HAVE_CLIENT,
        reason="pip install confluent-kafka",
    ),
]


@pytest.fixture(scope="module")
def kafka_spark():
    """A session with the Kafka source/sink package on the classpath.
    Separate from the repo-wide fixture: ``spark.jars.packages`` must be
    set before the JVM starts."""
    from pyspark.sql import SparkSession

    scala = "2.13"
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("kafka-e2e")
        .config(
            "spark.jars.packages",
            f"org.apache.spark:spark-sql-kafka-0-10_{scala}:4.1.2",
        )
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield spark


def _producer(transactional_id=None):
    conf = {"bootstrap.servers": BOOTSTRAP}
    if transactional_id:
        conf.update(
            {"transactional.id": transactional_id, "enable.idempotence": True}
        )
    return confluent_kafka.Producer(conf)


def _read_committed(topic, timeout=20.0):
    c = confluent_kafka.Consumer(
        {
            "bootstrap.servers": BOOTSTRAP,
            "group.id": f"verify-{uuid.uuid4().hex}",
            "auto.offset.reset": "earliest",
            "isolation.level": "read_committed",
            "enable.auto.commit": False,
        }
    )
    c.subscribe([topic])
    out, idle = [], 0.0
    while idle < timeout:
        msg = c.poll(1.0)
        if msg is None or msg.error():
            idle += 1.0
            continue
        idle = 0.0
        out.append(
            (
                msg.key().decode() if msg.key() else None,
                msg.value().decode(),
            )
        )
    c.close()
    return out


class ConfluentTransport:
    """The repo's TransactionalTransport protocol over confluent-kafka —
    the mapping the mock tests pin, executed for real."""

    def __init__(self, transactional_id):
        self.p = _producer(transactional_id)

    def init_transactions(self):
        self.p.init_transactions()

    def begin_transaction(self):
        self.p.begin_transaction()

    def send(self, topic, key, value):
        self.p.produce(topic, key=key, value=value)

    def commit_transaction(self):
        self.p.flush(10)
        self.p.commit_transaction()

    def abort_transaction(self):
        self.p.abort_transaction()

    def last_committed(self, control_topic, transactional_id):
        bids = [
            int(v)
            for k, v in _read_committed(control_topic, timeout=5.0)
            if k == transactional_id
        ]
        return max(bids) if bids else None


def test_kafka_round_trip_exactly_once(kafka_spark, tmp_path):
    """source topic → Spark Kafka stream → uppercase transform → EOS
    transactional sink → read-committed view holds each row once."""
    from pyspark.sql import functions as F

    from faust_spark.streaming.kafka_eos import (
        kafka_transactional_batch_sink,
    )
    from faust_spark.streaming.runner import transactional_foreach_batch

    run = uuid.uuid4().hex[:8]
    src, dst = f"e2e-src-{run}", f"e2e-dst-{run}"
    p = _producer()
    for i in range(50):
        p.produce(src, key=f"k{i}", value=f"event-{i}")
    p.flush(10)

    stream = (
        kafka_spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", src)
        .option("startingOffsets", "earliest")
        .load()
        .select(
            F.col("key").cast("string").alias("key"),
            F.upper(F.col("value").cast("string")).alias("value"),
        )
    )
    ckpt = str(tmp_path / "ckpt")
    sink = kafka_transactional_batch_sink(
        dst, ConfluentTransport, f"e2e-{run}", key_col="key", checkpoint=ckpt
    )
    transactional_foreach_batch(stream, sink, ckpt, timeout_sec=120.0)
    rows = _read_committed(dst)
    keys = [k for k, _ in rows]
    assert sorted(keys) == sorted(f"k{i}" for i in range(50))
    assert all(v.startswith("EVENT-") for _, v in rows)
