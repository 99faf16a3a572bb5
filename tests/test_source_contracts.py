"""Plan-contract tests for the Kafka/socket source and sink wrappers
(SURVEY.md §2.1 S1/S3/S5, §2.2 kafka sink) — the reference parity
points are HotItems.java:50-58 (consumer: topic ``hotitems``, latest
offsets), HotPages.java:48 (socket yaxin01:8888) and
KafkaProducerUtil.java:27-47 (producer feed of raw CSV lines).

No broker or socket peer exists in the sandbox, and the spark-sql-kafka
connector jar is not in this distribution, so these tests pin the
option CONTRACT instead of moving data:

- the kafka option names/values come from pure helper functions the
  wrappers consume — a drifted option name ("topics", "offsets",
  missing ``kafka.`` prefix) fails here before it could reach a
  cluster;
- the socket source resolves against the built-in provider, so its
  analyzed plan is asserted directly (a typo'd host/port option would
  abort ``load()`` — TextSocketSourceProvider validates them);
- the producer payload (CSV value lines) is asserted on a batch frame;
- when a kafka connector IS on the classpath, the kafka consumer's
  analyzed plan is additionally asserted end-to-end.
"""

import pytest

from flink_kafka_spark.schemas import APACHE_LOG, USER_BEHAVIOR
from flink_kafka_spark.streaming.sources import (
    csv_feed_values,
    kafka_producer_options,
    kafka_source,
    kafka_source_options,
    socket_source,
)


def test_kafka_consumer_option_contract():
    # exact documented spark-sql-kafka option names; HotItems.java:50-58
    # parity: topic "hotitems", auto.offset.reset=latest
    assert kafka_source_options("hotitems") == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "hotitems",
        "startingOffsets": "latest",
    }
    assert kafka_source_options("t", "broker1:9092,broker2:9092", "earliest") == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "t",
        "startingOffsets": "earliest",
    }


def test_kafka_producer_option_contract():
    # KafkaProducerUtil.java:27-47 parity: bootstrap.servers + topic
    assert kafka_producer_options("hotitems") == {
        "kafka.bootstrap.servers": "localhost:9092",
        "topic": "hotitems",
    }


def test_kafka_sink_uses_producer_contract(spark):
    # the streaming kafka sink and the batch feed must share one option
    # helper — divergence between them is exactly the drift this file
    # exists to catch
    import inspect

    from flink_kafka_spark.streaming import sinks, sources

    assert "kafka_producer_options" in inspect.getsource(sinks.kafka_sink)
    assert "kafka_producer_options" in inspect.getsource(sources.kafka_feed)
    assert "kafka_source_options" in inspect.getsource(sources.kafka_source)


def test_producer_payload_is_reference_csv_lines(spark):
    # the value column must be the same comma-joined line format the
    # reference producer sends (raw UserBehavior.csv lines)
    df = spark.createDataFrame(
        [(543462, 1715, 1464116, "pv", 1511658000)],
        "user_id long, item_id long, category_id int, behavior string, ts long",
    )
    assert [r.value for r in csv_feed_values(df).collect()] == [
        "543462,1715,1464116,pv,1511658000"
    ]


def test_socket_source_plan_contract(spark):
    # HotPages.java:48: socketTextStream("yaxin01", 8888); the analyzed
    # plan must carry the host/port options and the CSV projection
    df = socket_source(spark, "yaxin01", 8888, APACHE_LOG)
    assert df.isStreaming
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "host=yaxin01" in plan
    assert "port=8888" in plan
    assert df.columns == [f.name for f in APACHE_LOG.fields]


def test_socket_source_end_to_end(spark):
    """S3 EXECUTED, not just plan-pinned:
    a localhost TCP server feeds CSV lines through the real built-in
    socket provider, the stream parses them with the positional schema
    and lands them in a memory sink. No external peer needed — the
    server lives in a test thread on an ephemeral port."""
    import socket
    import threading
    import time

    from flink_kafka_spark.schemas import USER_BEHAVIOR

    t0 = 1_511_658_000
    lines = [
        f"543462,1715,1464116,pv,{t0}",
        f"662867,2244074,1575622,pv,{t0 + 1}",
    ]
    done = threading.Event()
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve():
        # accept in a loop: if Spark's socket source reconnects after a
        # transient reset, a one-shot accept would leave it hanging
        # until the 60s deadline — serve every connection
        # until the test signals done, keeping each open for reads
        conns = []
        server.settimeout(0.5)
        try:
            while not done.is_set():
                try:
                    conn, _ = server.accept()
                except TimeoutError:
                    continue
                try:
                    conn.sendall(("\n".join(lines) + "\n").encode())
                except OSError:
                    conn.close()
                    continue
                conns.append(conn)  # keep open while Spark reads
        finally:
            for c in conns:
                c.close()
            server.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    q = (
        socket_source(spark, "127.0.0.1", port, USER_BEHAVIOR)
        .writeStream.format("memory")
        .queryName("socket_e2e")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM socket_e2e").first().c >= len(lines):
                break
            time.sleep(0.5)
        got = sorted(
            set(
                map(
                    tuple,
                    spark.sql(
                        "SELECT user_id, item_id, category_id, behavior,"
                        " unix_seconds(ts) AS ts_s FROM socket_e2e"
                    ).collect(),
                )
            )
        )
    finally:
        done.set()
        q.stop()
    # set(): the accept loop re-serves every line to each connection,
    # so a source reconnect legitimately redelivers both rows — the
    # retry the loop exists for must not fail the strict equality
    assert got == [
        (543462, 1715, 1464116, "pv", t0),
        (662867, 2244074, 1575622, "pv", t0 + 1),
    ]


def test_kafka_source_plan_contract_when_connector_present(spark):
    # full end-to-end plan assertion — runs wherever spark-sql-kafka is
    # deployed; in this sandbox the provider is absent and the failure
    # itself proves the options went through the documented format
    try:
        df = kafka_source(spark, "hotitems", USER_BEHAVIOR)
    except Exception as e:  # AnalysisException: Failed to find data source
        assert "kafka" in str(e).lower()
        pytest.skip("spark-sql-kafka connector not on classpath")
    assert df.isStreaming
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "subscribe=hotitems" in plan
    assert "startingOffsets=latest" in plan
    assert df.columns == [f.name for f in USER_BEHAVIOR.fields]
