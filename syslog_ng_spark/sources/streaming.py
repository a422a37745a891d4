"""Streaming sources.

Reference: modules/afsocket (tcp/udp/syslog drivers) — continuous
ingestion. Spark analogs:
- socket_lines: TCP listener (dev/test; not replayable)
- file_stream: directory-watching ingestion (replayable, exactly-once
  with checkpoints — the production path; syslog relays land files or
  Kafka topics)
- rate_source: deterministic load generator (tests/bench)
- kafka_lines: gated — the kafka connector jar isn't in this container,
  but this is the intended 100 TB ingestion front door.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from syslog_ng_spark.sources.files import recursive_reader


def socket_lines(spark: SparkSession, host: str = "localhost", port: int = 5140) -> DataFrame:
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .withColumnRenamed("value", "raw")
    )


class UdpBridge:
    """udp()/udp6() daemon-mode source adapter (modules/afsocket
    afsocket-source datagram mode). Spark has no datagram source, so a
    driver-side listener thread receives datagrams — one datagram =
    one message, lib/logproto/logproto-dgram-server.c semantics,
    trailing newline trimmed — and relays them over a loopback TCP
    server that Spark's socket source connects to. Each relayed line
    is '<peer-ip> <payload>' so the per-datagram sender survives into
    the frame (the saddr the reference's hostname mangling uses).
    Datagrams arriving before the socket source connects are buffered
    (bounded deque — UDP is lossy by contract anyway). Dev/test-scale
    like socket_lines itself: production intake is files/kafka via a
    relay (docs/MIGRATION.md)."""

    _MAXBUF = 65536  # datagrams buffered before the reader connects

    def __init__(self, bind_host: str = "127.0.0.1", bind_port: int = 0):
        import collections
        import socket
        import threading

        self._udp = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._udp.bind((bind_host, bind_port))
        self.bind_host, self.bind_port = self._udp.getsockname()[:2]
        self._tcp = socket.create_server(("127.0.0.1", 0))
        self.relay_port = self._tcp.getsockname()[1]
        self._lock = threading.Lock()
        self._pending = collections.deque(maxlen=self._MAXBUF)
        self._clients: list = []
        self.closed = False
        threading.Thread(target=self._recv_loop, daemon=True).start()
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def _recv_loop(self):
        while not self.closed:
            try:
                data, addr = self._udp.recvfrom(65536)
            except OSError:
                return  # socket closed
            payload = data.decode("utf-8", errors="replace").rstrip("\r\n")
            # one datagram = ONE message: interior newlines would split
            # it in the line relay, so they become spaces (documented)
            line = (addr[0] + " " + payload.replace("\n", " ") + "\n").encode()
            with self._lock:
                if not self._clients:
                    self._pending.append(line)
                    continue
                dead = []
                for c in self._clients:
                    try:
                        c.sendall(line)
                    except OSError:
                        dead.append(c)
                for c in dead:
                    self._clients.remove(c)

    def _accept_loop(self):
        while not self.closed:
            try:
                conn, _ = self._tcp.accept()
            except OSError:
                return
            with self._lock:
                while self._pending:
                    try:
                        conn.sendall(self._pending.popleft())
                    except OSError:
                        break
                self._clients.append(conn)

    def close(self):
        self.closed = True
        for s in (self._udp, self._tcp, *self._clients):
            try:
                s.close()
            except OSError:
                pass


def udp_datagram_lines(
    spark: SparkSession, bind_host: str = "127.0.0.1", bind_port: int = 514,
) -> tuple[DataFrame, UdpBridge]:
    """udp() source: datagrams → streaming frame with `raw` (the
    datagram payload) and `peer` (the sender address, per datagram).
    Returns (frame, bridge) — close() the bridge to release the
    ports."""
    from pyspark.sql import functions as F

    bridge = UdpBridge(bind_host, bind_port)
    df = socket_lines(spark, "127.0.0.1", bridge.relay_port)
    peer = F.substring_index(F.col("raw"), " ", 1)
    payload = F.expr("substring(raw, length(substring_index(raw, ' ', 1)) + 2)")
    return df.select(peer.alias("peer"), payload.alias("raw")), bridge


# InMemoryFileIndex lists more root paths than this with a distributed
# Spark job (Spark's default: 32)
LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def lists_locally(spark: SparkSession, path: str) -> bool:
    """Whether `path` qualifies to the local file system (`file:`
    scheme, or no scheme under a local default file system)."""
    hadoop_fs = spark.sparkContext._jvm.org.apache.hadoop.fs
    scheme = hadoop_fs.Path(path).toUri().getScheme()
    if scheme is None:
        scheme = hadoop_fs.FileSystem.getDefaultUri(
            spark.sparkContext._jsc.hadoopConfiguration()).getScheme()
    return scheme == "file"


def list_on_driver(session: SparkSession) -> None:
    """Make every file stream created on `session` list its paths on
    the driver, however many files its glob matches."""
    session.conf.set(LISTING_THRESHOLD, str(2**31 - 1))


# which CheckpointFileManager a streaming query writes its offset and
# commit logs with (Spark's default: FileContextBasedCheckpointFileManager)
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
                         "FileSystemBasedCheckpointFileManager")


def checkpoint_on_file_system(session: SparkSession) -> None:
    """Make every query started on `session` write its checkpoint
    through Hadoop's FileSystem API. On a local checkpoint without
    libhadoop, the default FileContext manager forks a `readlink`
    process per file-status call, dozens per trigger (SCALE.md
    Addendum 23); the FileSystem manager keeps the checksummed `.crc`
    files, the checkpoint layout and the atomic rename, without those
    forks."""
    session.conf.set(CHECKPOINT_MANAGER, FS_CHECKPOINT_MANAGER)


def file_stream(
    spark: SparkSession, path: str, fmt: str = "text", schema: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Checkpointed directory tail — the daemon's wildcard-file().

    Listing: at every trigger FileStreamSource expands the glob and
    lists each match as a root path of its own. Past
    `LISTING_THRESHOLD` roots (32 by default) that listing is a Spark
    job, which on a cluster lists the executors' disks rather than
    the daemon host's, and on a single host costs more per trigger
    than the batch it feeds (SCALE.md Addendum 22). The source reads
    the threshold from `spark`, the session the stream is created on,
    at every trigger: run_conf_stream creates its streams on a session
    of their own and raises it there (`list_on_driver`) when a source
    is local (`lists_locally`), so the listing stays on the driver,
    one pass per trigger. Files are selected the same either way.

    recursive=True is wildcard-file(recursive(yes)), as in batch mode
    (`files.recursive_reader`).

    Rotation semantics (vs modules/affile/file-reader.c, which detects
    a same-name recreate by inode change and reopens at offset 0):
    Spark's FileStreamSource tracks seen files by PATH in the
    checkpointed file log, so a same-path recreate is treated as
    already-processed and its new content is SKIPPED. Rotate by
    rolling to NEW names (logrotate `dateext`; any roller that moves
    the old file out of the glob and opens a fresh name) — then the
    checkpoint gives exactly-once per file with zero loss/duplication
    across rolls. Both behaviors are pinned executable in
    tests/test_file_rotation.py."""
    reader = spark.readStream.format(fmt)
    if schema:
        reader = reader.schema(schema)
    if recursive:
        reader, path = recursive_reader(reader, path)
    df = reader.load(path)
    return df.withColumnRenamed("value", "raw") if fmt == "text" else df


def rate_source(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def kafka_package_coordinate() -> str:
    """Maven coordinate of the Kafka connector matching the running
    Spark — what `spark.jars.packages` needs. Spark publishes the
    connector per release, so derive BOTH coordinates instead of
    hardcoding ones that rot: the artifact version from
    pyspark.__version__ and the Scala suffix from the major line
    (4.x distributions are Scala 2.13; 3.x default builds are 2.12)."""
    import pyspark

    major = int(pyspark.__version__.split(".", 1)[0])
    scala = "2.13" if major >= 4 else "2.12"
    return f"org.apache.spark:spark-sql-kafka-0-10_{scala}:{pyspark.__version__}"


def kafka_lines(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """kafka() source (reference: modules/kafka, scl/kafka) — the
    intended 100 TB ingestion front door. Needs the connector on the
    classpath; this container has no jar and no network, so the stub
    fails loudly with the exact one-config-line activation path."""
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
            .selectExpr("CAST(value AS STRING) AS raw", "timestamp AS ts")
        )
    except Exception as exc:  # pragma: no cover - connector not bundled
        coord = kafka_package_coordinate()
        raise NotImplementedError(
            "kafka connector jar not available in this environment. "
            "To activate, start the session with the connector on the "
            "classpath — one config line:\n"
            f'  SparkSession.builder.config("spark.jars.packages", "{coord}")\n'
            f"or: spark-submit --packages {coord}\n"
            "(no other code change needed; kafka_lines then streams "
            "value/timestamp as raw/ts)."
        ) from exc


def framed_socket_lines(
    spark: SparkSession, host: str = "localhost", port: int = 5140
) -> DataFrame:
    """TCP source with RFC6587 framing: octet-counted and
    newline-framed messages may MIX on one connection, classified per
    frame like the reference's auto-detecting syslog() source
    (lib/logproto/logproto-framed-server.c). Frames spanning
    micro-batches reassemble via per-connection decoder state.
    Output: conn, frame_no, message."""
    from syslog_ng_spark.sources.framing import framed_lines_stream

    return framed_lines_stream(socket_lines(spark, host, port), line_col="raw")
