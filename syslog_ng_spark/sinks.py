"""Destinations.

Reference: modules/affile file() destinations with template'd paths,
modules/afsql, kafka/http writers. Spark mapping: template'd file path
macros (e.g. /logs/$HOST/$YEAR$MONTH) become ``partitionBy`` columns —
the same fan-out, but columnar, splittable and predicate-prunable. The
reference's binary 'logstore' compression is replaced by
parquet+zstd.
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, partition_by: Sequence[str] = (), mode: str = "overwrite") -> None:
    w = df.write.mode(mode).option("compression", "zstd")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_text(df: DataFrame, path: str, column: str = "raw", mode: str = "overwrite") -> None:
    df.select(column).write.mode(mode).text(path)


def append_text_on_driver(df: DataFrame, path: str, column: str = "raw") -> int:
    """Append the `column` strings of `df`, one line each, to the local
    directory `path` as one new part file written by the driver: the
    daemon's local file() destination, whose files live on the
    daemon's host. Spark's writer would pay a commit protocol per
    micro-batch (a `_temporary` directory, renames, `_SUCCESS`, and on
    a host without libhadoop one forked `chmod` per file and directory
    it creates), several times what a micro-batch's lines cost (SCALE.md
    Addendum 24). Rows arrive one partition at a time
    (`toLocalIterator`), so the driver holds at most two partitions. The
    file is written under a hidden name and renamed when complete, so a
    reader sees it whole, as with Spark's committer; a null renders as
    an empty line, as in Spark's text writer. Writes no file for an
    empty frame. Returns the number of lines written."""
    import os
    import uuid
    from urllib.parse import urlparse

    if path.startswith("file:"):
        path = urlparse(path).path
    os.makedirs(path, exist_ok=True)
    name = f"part-00000-{uuid.uuid4()}-c000.txt"
    tmp = os.path.join(path, f".{name}.tmp")
    n = 0
    try:
        with open(tmp, "w", encoding="utf-8", newline="") as f:
            for row in df.select(column).toLocalIterator(prefetchPartitions=True):
                f.write(row[0] or "")
                f.write("\n")
                n += 1
        if n:
            os.replace(tmp, os.path.join(path, name))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return n


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """sql() destination (reference: modules/afsql/afsql.c — INSERT
    per message into a templated table; here one batched JDBC write).
    Exercised end-to-end against embedded Derby (the one JDBC driver
    bundled with Spark) in tests/test_sinks.py; any other driver is a
    jar on the cluster classpath away."""
    df.write.mode(mode).format("jdbc").option("url", url).option("dbtable", table).options(
        **options
    ).save()


def read_jdbc(spark, url: str, table: str, **options) -> DataFrame:
    """sql() source counterpart (afsql reads back what it wrote in the
    reference's tests; same here)."""
    return (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
        .options(**options)
        .load()
    )


class _PartitionDelivery:
    """Driver side shared by the per-partition destinations (http,
    key-value, network, program): the templates render JVM-side, each
    partition delivers its rows and returns one stats tuple, and the
    driver sums them. A destination numbers $SEQNUM itself when its
    templates reference it and the frame carries no seqnum yet, and
    continues that counter across write() calls like the daemon's
    per-writer seq_num. Subclasses are dataclasses with `templates`
    and `seqnum_start` fields."""

    def _deliver(self, df: DataFrame, tpls: Sequence[str], send, keys: Sequence[str]) -> dict:
        from .operators.delivery import (
            ensure_seqnum_counted, release_numbering_cache)
        from .template import compile_template

        df, numbered = ensure_seqnum_counted(
            df, *tpls, templates=self.templates, start=self.seqnum_start)
        rendered = df.select(*[
            compile_template(t, df, templates=self.templates).alias(f"_t{i}")
            for i, t in enumerate(tpls)])
        stats = rendered.rdd.mapPartitionsWithIndex(send).collect()
        self.seqnum_start += numbered
        release_numbering_cache(df)
        return {k: sum(s[i] for s in stats) for i, k in enumerate(keys)}

    def write_stream(self, df: DataFrame, checkpoint: str, trigger_available_now: bool = True):
        """Streaming flavor: each micro-batch goes through the same
        write() path via foreachBatch."""
        writer = df.writeStream.foreachBatch(lambda batch_df, _id: self.write(batch_df)).option(
            "checkpointLocation", checkpoint
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


# ---------------------------------------------------------------------------
# http() destination
#
# Reference semantics (modules/http/http-worker.c, response-handler.c,
# http-loadbalancer.c):
#   * messages accumulate into a request body — ``delimiter`` between
#     entries, ``body_prefix``/``body_suffix`` around the batch — and
#     flush at batch-lines() / batch-bytes() or end of queue
#     (http-worker.c:_add_message_to_batch, _should_initiate_flush);
#   * each message is rendered through body() template, default $MESSAGE
#     (http-worker.c:272-282);
#   * the response status maps to a worker verdict
#     (http-worker.c:default_map_http_status_to_worker_status): 2xx
#     success; 4xx retry except {410,416,422,424,425,451} drop; 5xx
#     retry except 508 drop; per-code overrides via response-action()
#     (response-handler.c) choose success/retry/drop/disconnect;
#   * multiple url() targets form a load balancer — on failure the
#     worker marks the target down and fails over, giving up after
#     num_targets attempts (http-worker.c:_flush, 644-705).
#
# Spark mapping: the per-message template renders JVM-side as a Column
# (template.py codegen — the hot path never enters Python); the Python
# edge only concatenates rendered strings and does socket I/O, one
# worker per partition (the reference's workers() knob == parallelism
# of the upstream partitioning). Delivery stats come back as one tiny
# row per partition, not per message. The daemon's two retry flavors
# (LTR_ERROR = resend on same connection, LTR_NOT_CONNECTED = reconnect
# then resend) collapse into one bounded retry-with-failover loop here:
# HTTP/1.1 over urllib is connectionless per request, so the
# distinction has no observable effect.
# ---------------------------------------------------------------------------

_HTTP_DROP_4XX = frozenset({410, 416, 422, 424, 425, 451})


def default_http_action(status: int) -> str:
    """Status → verdict, mirroring http-worker.c:368-397 defaults."""
    family = status // 100
    if family == 2:
        return "success"
    if family == 4 and status in _HTTP_DROP_4XX:
        return "drop"
    if status == 508:
        return "drop"
    return "retry"


@dataclass
class HttpDestination(_PartitionDelivery):
    """http() destination: templated body, batching, response-code
    handling, multi-target failover. ``urls`` are load-balancer
    targets; ``template`` is a syslog-ng body() template (rendered
    JVM-side before the data reaches Python); ``response_actions``
    overrides the default status mapping per code, values in
    {"success","retry","drop","disconnect"} (response-handler.c).
    ``on_exhausted`` decides what happens when retries run out:
    "raise" fails the Spark task (the cluster's own task-retry becomes
    the daemon's time-reopen() loop) or "drop" counts the batch lost.
    """

    urls: Sequence[str]
    template: str = "$MESSAGE"
    method: str = "POST"
    headers: Sequence[str] = ()
    batch_lines: int = 1
    batch_bytes: int = 0
    delimiter: str = "\n"
    body_prefix: str = ""
    body_suffix: str = ""
    timeout: float = 10.0
    max_retries: int = 3
    retry_backoff: float = 0.1
    response_actions: Mapping[int, str] = field(default_factory=dict)
    on_exhausted: str = "raise"
    # the configuration's named-template registry — $(template NAME)
    # in body templates binds against it (tf-template.c)
    templates: Mapping[str, str] | None = None
    # $SEQNUM continuation point — this writer's counter survives
    # across write() calls like the daemon's per-writer seq_num
    seqnum_start: int = 1

    def __post_init__(self) -> None:
        if isinstance(self.urls, str):
            self.urls = [self.urls]
        if not self.urls:
            raise ValueError("http destination needs at least one url")
        if self.on_exhausted not in {"raise", "drop"}:
            raise ValueError("on_exhausted must be 'raise' or 'drop'")

    # -- executor-side ----------------------------------------------------
    def _post(self, url: str, body: str) -> int:
        req = urllib.request.Request(
            url,
            data=body.encode("utf-8"),
            method=self.method,
        )
        for h in self.headers:
            name, _, value = h.partition(":")
            req.add_header(name.strip(), value.strip())
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.status
        except urllib.error.HTTPError as e:  # non-2xx is still a response
            return e.code

    def _flush(self, batch: list[str], lb_state: dict) -> tuple[str, int]:
        """Send one batch; returns (verdict, requests_made). Walks the
        retry/failover loop: on a connection error or retry verdict the
        next target is tried (http-worker.c:_flush); after
        ``max_retries`` full passes over the target list the batch is
        exhausted."""
        body = self.body_prefix + self.delimiter.join(batch) + self.body_suffix
        n_urls = len(self.urls)
        requests = 0
        for attempt in range(self.max_retries * n_urls):
            url = self.urls[lb_state["target"] % n_urls]
            try:
                status = self._post(url, body)
                requests += 1
            except (urllib.error.URLError, OSError, TimeoutError):
                # target down → mark failed, fail over
                lb_state["target"] += 1
                if attempt:
                    time.sleep(self.retry_backoff * attempt)
                continue
            action = self.response_actions.get(status) or default_http_action(status)
            if action == "success":
                return "success", requests
            if action == "drop":
                return "drop", requests
            # retry / disconnect: rotate target, back off, resend
            lb_state["target"] += 1
            if attempt:
                time.sleep(self.retry_backoff * attempt)
        if self.on_exhausted == "raise":
            raise RuntimeError(
                f"http destination: batch of {len(batch)} undeliverable to "
                f"{list(self.urls)} after {self.max_retries} passes"
            )
        return "failed", requests

    def _send_partition(self, pid: int, rows):
        delivered = dropped = failed = requests = batches = 0
        # seed round-robin by partition id so concurrent partitions
        # spread over the targets instead of hammering urls[0]
        lb_state = {"target": pid}
        batch: list[str] = []
        batch_bytes = 0

        def flush():
            nonlocal delivered, dropped, failed, requests, batches, batch_bytes
            if not batch:
                return
            verdict, reqs = self._flush(batch, lb_state)
            requests += reqs
            batches += 1
            n = len(batch)
            if verdict == "success":
                delivered += n
            elif verdict == "drop":
                dropped += n
            else:
                failed += n
            batch.clear()
            batch_bytes = 0

        for row in rows:
            rendered = row[0] if row[0] is not None else ""
            batch.append(rendered)
            batch_bytes += len(rendered)
            if len(batch) >= max(self.batch_lines, 1) or (
                self.batch_bytes and batch_bytes >= self.batch_bytes
            ):
                flush()
        flush()
        yield (delivered, dropped, failed, batches, requests)

    # -- driver-side ------------------------------------------------------
    def write(self, df: DataFrame) -> dict:
        """Deliver a batch DataFrame; returns aggregate delivery stats
        (one small tuple per partition reaches the driver)."""
        return self._deliver(
            df, (self.template,), self._send_partition,
            ("delivered", "dropped", "failed", "batches", "requests"))


@dataclass
class KvStoreDestination(_PartitionDelivery):
    """Generic key-value connector destination — the representative of
    the reference's connector family (redis SET/HSET —
    modules/redis/redis.c; mongodb inserts — modules/afmongodb;
    amqp/stomp/mqtt publishes): render a key and a value per message
    (JVM-side templates), batch them, hand each batch to a
    client supplied by ``client_factory`` (built once per partition —
    the reference's one-connection-per-worker model). Swapping the
    factory for a real redis/mongo client is a dependency change, not
    engine code; none of those client libraries exist in this
    container, so tests drive a local fake store.

    ``client_factory() -> client`` where ``client.mset(pairs:
    list[tuple[str, str]]) -> None`` delivers a batch (raise to signal
    failure → Spark task retry) and optional ``client.close()``.
    """

    client_factory: object
    key_template: str = "$HOST"
    value_template: str = "$MESSAGE"
    batch_size: int = 100
    templates: Mapping[str, str] | None = None
    seqnum_start: int = 1

    def _send_partition(self, _pid: int, rows):
        client = self.client_factory()
        sent = batches = 0
        try:
            batch: list[tuple[str, str]] = []
            for row in rows:
                batch.append((row[0] or "", row[1] or ""))
                if len(batch) >= max(self.batch_size, 1):
                    client.mset(batch)
                    sent += len(batch)
                    batches += 1
                    batch = []
            if batch:
                client.mset(batch)
                sent += len(batch)
                batches += 1
        finally:
            close = getattr(client, "close", None)
            if close:
                close()
        yield (sent, batches)

    def write(self, df: DataFrame) -> dict:
        return self._deliver(
            df, (self.key_template, self.value_template), self._send_partition,
            ("sent", "batches"))


@dataclass
class TlsOptions:
    """tls() block of network()/syslog() drivers (reference:
    lib/tlscontext.h + lib/transport/transport-tls.c): the client-side
    options mapped onto the stdlib `ssl` module. ca_file/ca_dir load
    the trust store; cert_file/key_file present a client certificate
    (mutual TLS); peer_verify mirrors TLSVerifyMode —
    'required-trusted' (the reference default: CERT_REQUIRED against
    the trust store) or 'optional-untrusted' (CERT_NONE — encryption
    without authentication, the reference's explicitly-unsafe mode).
    ssl_min_version pins the floor (the TSO_NOTLSv* bit family);
    ciphers is the cipher-suite() string; sni overrides the server
    name used for SNI and hostname verification (default: the
    destination host). In the trusted modes the certificate's name is
    verified against that server name unconditionally, matching the
    reference's tls_verify_certificate_name
    (modules/afsocket/afinet-dest.c) — a trusted-CA cert for a
    DIFFERENT host is rejected. Set verify_hostname=False only to
    reproduce the daemon's ssl-options(no-verify-hostname) escape
    hatch; it is an explicit, logged-in-config opt-out, never the
    default."""

    ca_file: str | None = None
    ca_dir: str | None = None
    cert_file: str | None = None
    key_file: str | None = None
    peer_verify: str = "required-trusted"
    ssl_min_version: str = "tls1.2"
    ciphers: str | None = None
    sni: str | None = None
    verify_hostname: bool = True

    _VERIFY_MODES = ("required-trusted", "required-untrusted",
                     "optional-trusted", "optional-untrusted")

    def __post_init__(self) -> None:
        if self.peer_verify not in self._VERIFY_MODES:
            raise ValueError(
                f"peer_verify must be one of {self._VERIFY_MODES}, "
                f"got {self.peer_verify!r}"
            )
        if (self.cert_file is None) != (self.key_file is None):
            raise ValueError("cert_file and key_file must be given together")

    def server_context(self):
        """Server-side SSLContext for TLS-terminating SOURCES
        (transport(tls)/transport(proxied-tls) on network()/syslog()
        — modules/afsocket/transport-mapper-inet.c require_tls):
        cert_file/key_file are the server identity (mandatory);
        peer_verify in a *-trusted mode additionally demands and
        verifies a client certificate against ca_file/ca_dir (the
        reference's mutual-TLS source mode)."""
        import ssl

        if not self.cert_file:
            raise ValueError(
                "a TLS source needs cert_file/key_file (the server "
                "identity presented to connecting clients)")
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.minimum_version = {
            "tls1.2": ssl.TLSVersion.TLSv1_2,
            "tls1.3": ssl.TLSVersion.TLSv1_3,
        }[self.ssl_min_version]
        ctx.load_cert_chain(self.cert_file, self.key_file)
        if self.peer_verify.endswith("-trusted"):
            ctx.verify_mode = ssl.CERT_REQUIRED
            if self.ca_file or self.ca_dir:
                ctx.load_verify_locations(cafile=self.ca_file, capath=self.ca_dir)
            else:
                ctx.load_default_certs(purpose=ssl.Purpose.CLIENT_AUTH)
        else:
            ctx.verify_mode = ssl.CERT_NONE
        if self.ciphers:
            ctx.set_ciphers(self.ciphers)
        return ctx

    def client_context(self):
        """Build the SSLContext executor-side (contexts aren't
        picklable; the dataclass of plain strings is what ships)."""
        import ssl

        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
        ctx.minimum_version = {
            "tls1.2": ssl.TLSVersion.TLSv1_2,
            "tls1.3": ssl.TLSVersion.TLSv1_3,
        }[self.ssl_min_version]
        if self.peer_verify.endswith("-trusted"):
            ctx.verify_mode = ssl.CERT_REQUIRED
            # Trusted modes verify the cert name against the target
            # host (or sni override) ALWAYS — a cert signed by a
            # trusted CA for another host must not pass (CWE-297).
            ctx.check_hostname = self.verify_hostname
            if self.ca_file or self.ca_dir:
                ctx.load_verify_locations(cafile=self.ca_file, capath=self.ca_dir)
            else:
                ctx.load_default_certs()
        else:
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        if self.cert_file:
            ctx.load_cert_chain(self.cert_file, self.key_file)
        if self.ciphers:
            ctx.set_ciphers(self.ciphers)
        return ctx


@dataclass
class NetworkDestination(_PartitionDelivery):
    """network()/syslog() destination (reference: modules/afsocket
    afsocket-dest.c): a line-oriented TCP sender per partition, with
    optional RFC6587 octet-counted framing (syslog() with
    transport(tcp)) and bounded reconnect like time-reopen().

    ``targets`` is a list of (host, port); with more than one target
    this IS the reference's network-load-balancer() SCL block
    (scl/loadbalancer/gen-loadbalancer.sh): the generated config
    routes each message by ``R_MSEC % target_cnt`` — a cheap uniform
    spread — to a fixed network() destination. Here the same modulo
    runs on a per-partition row counter seeded by the partition id
    (receive-msec is meaningless in batch), which spreads exactly as
    uniformly and keeps every executor connected to every target at
    most once.

    At 100 TB the driver never touches data: the template renders
    JVM-side, each partition keeps one socket per target, and one
    stats tuple per partition comes back.
    """

    targets: Sequence[tuple[str, int]]
    template: str = "$MESSAGE"
    framing: str = "newline"  # or "octet-counted" (RFC6587)
    timeout: float = 10.0
    max_retries: int = 3
    retry_backoff: float = 0.1
    tls: TlsOptions | None = None  # transport(tls) — see TlsOptions
    templates: Mapping[str, str] | None = None
    seqnum_start: int = 1

    def __post_init__(self) -> None:
        if not self.targets:
            raise ValueError("network destination needs at least one (host, port) target")
        if self.framing not in {"newline", "octet-counted"}:
            raise ValueError("framing must be 'newline' or 'octet-counted'")

    # -- executor-side ----------------------------------------------------
    def _encode(self, line: str) -> bytes:
        data = line.encode("utf-8")
        if self.framing == "octet-counted":
            return str(len(data)).encode("ascii") + b" " + data
        return data + b"\n"

    def _send_partition(self, pid: int, rows):
        import socket as socketlib

        n = len(self.targets)
        socks: dict[int, socketlib.socket] = {}
        tls_ctx = self.tls.client_context() if self.tls else None

        def sock_for(idx: int) -> socketlib.socket:
            s = socks.get(idx)
            if s is None:
                host, port = self.targets[idx]
                s = socketlib.create_connection((host, port), timeout=self.timeout)
                if tls_ctx is not None:
                    # transport(tls): wrap AFTER connect, like the
                    # reference's transport stack layers tls over tcp
                    s = tls_ctx.wrap_socket(
                        s, server_hostname=self.tls.sni or host
                    )
                socks[idx] = s
            return s

        delivered = failed = reconnects = 0
        counter = pid  # partition-seeded: concurrent partitions start offset
        for row in rows:
            payload = self._encode(row[0] if row[0] is not None else "")
            idx = counter % n
            counter += 1
            sent = False
            # retry walks the target ring, reconnecting — the daemon's
            # LTR_NOT_CONNECTED path (afsocket reconnects then resends)
            for attempt in range(self.max_retries * n):
                try:
                    sock_for(idx).sendall(payload)
                    sent = True
                    break
                except OSError:
                    socks.pop(idx, None)  # drop the dead connection
                    reconnects += 1
                    idx = (idx + 1) % n
                    if attempt:
                        time.sleep(self.retry_backoff * attempt)
            if sent:
                delivered += 1
            else:
                failed += 1
        for s in socks.values():
            try:
                if tls_ctx is not None:
                    # graceful TLS shutdown: TLS 1.3 servers send
                    # post-handshake session tickets the send-only
                    # client never reads; close() with unread data in
                    # the kernel turns FIN into RST, which DESTROYS
                    # in-flight sent bytes (observed: 25/40 lines lost).
                    # unwrap() sends close_notify and drains pending
                    # input, so the connection ends with a clean FIN.
                    try:
                        s.unwrap()
                    except OSError:
                        pass
                s.close()
            except OSError:
                pass
        if failed:
            raise RuntimeError(
                f"network destination: {failed} messages undeliverable to "
                f"{list(self.targets)} after {self.max_retries} passes"
            )
        yield (delivered, reconnects)

    # -- driver-side ------------------------------------------------------
    def write(self, df: DataFrame) -> dict:
        return self._deliver(
            df, (self.template,), self._send_partition, ("delivered", "reconnects"))


def network_load_balancer(targets: Sequence[str], port: int = 514, **kwargs) -> NetworkDestination:
    """network-load-balancer() (reference: scl/loadbalancer/
    plugin.conf + gen-loadbalancer.sh): fan one stream out over N
    network() targets, one message to exactly one target, uniformly.
    Accepts 'host' or 'host:port' strings like the SCL's targets()."""
    parsed = []
    for t in targets:
        host, _, p = t.partition(":")
        parsed.append((host, int(p) if p else port))
    return NetworkDestination(targets=parsed, **kwargs)


@dataclass
class ProgramDestination(_PartitionDelivery):
    """program() destination (reference: modules/afprog/afprog.c):
    pipe templated lines into a child process's stdin. The daemon
    spawns the command once, writes each rendered message as a line,
    and respawns the child if it exits (time-reopen); keep-alive only
    controls reload behavior, which has no analog here.

    Spark mapping mirrors NetworkDestination's per-partition shape:
    each partition spawns ITS OWN child (the subprocess is executor-
    local state, exactly like a socket), writes its rows, closes
    stdin, and waits. A child that dies mid-partition is respawned up
    to ``max_respawns`` times and the failed line is re-written to the
    new child (afprog's suspend → respawn → resend path). The driver
    only ever sees one stats tuple per partition.

    The command runs through the shell like the reference
    (afprogram_popen execs '/bin/sh -c command'); at 100 TB that is
    one child per partition per executor, no driver involvement.
    """

    command: str
    template: str = "$MESSAGE"
    max_respawns: int = 3
    respawn_backoff: float = 0.1
    templates: Mapping[str, str] | None = None
    seqnum_start: int = 1

    def __post_init__(self) -> None:
        if not self.command or not self.command.strip():
            raise ValueError("program destination needs a non-empty command")

    # -- executor-side ----------------------------------------------------
    def _write_partition(self, pid: int, rows):
        import subprocess

        child: subprocess.Popen | None = None
        delivered = respawns = 0

        def spawn() -> subprocess.Popen:
            return subprocess.Popen(
                ["/bin/sh", "-c", self.command],
                stdin=subprocess.PIPE,
                start_new_session=True,  # own process group, like afprog
            )

        try:
            for row in rows:
                data = ((row[0] if row[0] is not None else "") + "\n").encode("utf-8")
                for attempt in range(self.max_respawns + 1):
                    if child is None:
                        child = spawn()
                    try:
                        child.stdin.write(data)
                        child.stdin.flush()
                        delivered += 1
                        break
                    except (BrokenPipeError, OSError):
                        # child died: reap, respawn, resend this line
                        try:
                            child.stdin.close()
                        except OSError:
                            pass
                        child.wait()
                        child = None
                        respawns += 1
                        if attempt >= self.max_respawns:
                            raise RuntimeError(
                                f"program destination: child {self.command!r} died "
                                f"{respawns}x; giving up (partition {pid})"
                            )
                        time.sleep(self.respawn_backoff * (attempt + 1))
        finally:
            if child is not None:
                try:
                    child.stdin.close()
                except OSError:
                    pass
                child.wait()
        yield (delivered, respawns)

    # -- driver-side ------------------------------------------------------
    def write(self, df: DataFrame) -> dict:
        return self._deliver(
            df, (self.template,), self._write_partition, ("delivered", "respawns"))


def stream_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Test sink: materialize a stream into an in-memory table."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def stream_to_parquet(df: DataFrame, path: str, checkpoint: str, output_mode: str = "append"):
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )


def elasticsearch_http(
    url: str,
    index: str,
    doc_type: str = "",
    custom_id: str = "",
    template: str = "$MESSAGE",
    batch_lines: int = 100,
    timeout: float = 10.0,
    **http_options,
) -> HttpDestination:
    """elasticsearch-http() (reference: scl/elasticsearch/
    elastic-http.conf) — a parameterization of the http() destination,
    exactly as the reference's SCL block wraps its http driver:

      body = '$(format-json --scope none --omit-empty-values
               index._index=... index._type=... index._id=...)\\n' + template
      headers('Content-Type: application/x-ndjson'), body_suffix('\\n')

    Every message becomes an _bulk action line + source doc; batches
    are NDJSON-joined. index/type/id accept template macros (rendered
    JVM-side with the rest of the body); empty type/id are omitted
    from the action like --omit-empty-values does for static ones.

    Values are JSON-escaped like the reference's $(format-json) would:
    static values via json.dumps at build time, macro-bearing values
    through the $(json-escape) template function at render time — a
    double quote or backslash in an index name or a macro-rendered _id
    must not produce malformed NDJSON that ES rejects per batch."""
    import json as _json

    def _field(name: str, value: str) -> str:
        if "$" in value:
            # quote the arg for the template lexer (it unescapes \" and
            # \\ inside quoted args; macros inside still expand), then
            # JSON-escape the RENDERED value
            quoted = '"' + value.replace("\\", "\\\\").replace('"', '\\"') + '"'
            return f'"{name}":"$(json-escape {quoted})"'
        return f'"{name}":{_json.dumps(value)}'

    fields = [_field("_index", index)]
    if doc_type:
        fields.append(_field("_type", doc_type))
    if custom_id:
        fields.append(_field("_id", custom_id))
    action = '{"index":{' + ",".join(fields) + "}}"
    return HttpDestination(
        urls=[url],
        template=action + "\n" + template,
        headers=("Content-Type: application/x-ndjson",),
        batch_lines=batch_lines,
        body_suffix="\n",
        timeout=timeout,
        **http_options,
    )


# ---------------------------------------------------------------------------
# kafka() destination (reference: modules/kafka/kafka-dest-driver.c,
# kafka-dest-worker.c). Everything EXCEPT the broker handoff is
# implemented and oracle-gated: per-message key/message template
# rendering (_format_message_and_key), templated topic resolution with
# fallback on invalid names (kafka_dest_worker_resolve_template_topic_
# name), and the topic-name validation rules
# (kafka_dd_validate_topic_name). The final .format("kafka") attach is
# the only jar-gated step (sources/streaming.py carries the
# spark.jars.packages activation path).
# ---------------------------------------------------------------------------

KAFKA_TOPIC_MAX_LEN = 249
_KAFKA_TOPIC_PATTERN = "^[-._a-zA-Z0-9]+$"


def kafka_topic_valid(name: str) -> bool:
    """kafka_dd_validate_topic_name (kafka-dest-driver.c:198): nonempty,
    not '.' or '..', <=249 chars, charset [-._a-zA-Z0-9]+."""
    import re

    return (
        0 < len(name) <= KAFKA_TOPIC_MAX_LEN
        and name not in (".", "..")
        and re.match(_KAFKA_TOPIC_PATTERN, name) is not None
    )


def _kafka_topic_valid_col(name):
    from pyspark.sql import functions as F

    return (
        (F.length(name) <= KAFKA_TOPIC_MAX_LEN)
        & name.rlike(_KAFKA_TOPIC_PATTERN)
        & ~name.isin(".", "..")
    )


def kafka_records(
    df: DataFrame,
    message: str = "$MESSAGE",
    key: str | None = None,
    topic: str = "syslog-ng",
    fallback_topic: str | None = None,
    templates: Mapping[str, str] | None = None,
) -> DataFrame:
    """Build the (topic, key, value) record columns the Kafka producer
    sends, with the reference driver's exact semantics:

    - `message`/`key` are syslog-ng templates rendered per row
      (kafka-dest-worker.c:_format_message_and_key). A key that
      renders EMPTY becomes a NULL key (worker.c:219 sends NULL when
      key->len == 0 — NULL keys round-robin partitions instead of
      hashing to one).
    - `topic` may be a template (detected like
      kafka_dd_is_topic_name_a_template: it references $fields). A
      templated topic REQUIRES fallback_topic (driver.c:481); each
      row's rendered name is validated and invalid names fall back
      (worker.c: resolve_template_topic_name). A static topic is
      validated eagerly and raises, matching construct-time failure.

    Pure column expressions — appended to any batch or streaming plan;
    kafka_sink() attaches the jar-gated format("kafka") on top.
    """
    from pyspark.sql import functions as F

    from syslog_ng_spark.template import compile_template, parse_template

    def is_template(t: str) -> bool:
        return any(p[0] != "lit" for p in parse_template(t))

    if is_template(topic):
        if fallback_topic is None:
            raise ValueError(
                "kafka: fallback_topic() required when the topic name "
                "is a template"
            )
        if not kafka_topic_valid(fallback_topic):
            raise ValueError(f"kafka: invalid fallback topic {fallback_topic!r}")
        rendered = compile_template(topic, df, templates=templates)
        topic_col = F.when(
            _kafka_topic_valid_col(rendered), rendered
        ).otherwise(F.lit(fallback_topic))
    else:
        if not kafka_topic_valid(topic):
            raise ValueError(
                f"kafka: topic name {topic!r} is illegal (must be 1-"
                f"{KAFKA_TOPIC_MAX_LEN} chars of [-._a-zA-Z0-9], not . or ..)"
            )
        topic_col = F.lit(topic)

    value_col = compile_template(message, df, templates=templates)
    cols = [topic_col.alias("topic"), value_col.alias("value")]
    if key is not None:
        k = compile_template(key, df, templates=templates)
        cols.insert(1, F.when(k != "", k).alias("key"))  # '' -> NULL key
    else:
        cols.insert(1, F.lit(None).cast("string").alias("key"))
    return df.select(*cols)


def _kafka_jar_missing(exc: Exception) -> bool:
    """True only for the connector-jar-absent failure shapes Spark
    raises (DATA_SOURCE_NOT_FOUND / lookupDataSource ClassNotFound) —
    anything else (broker unreachable, auth, checkpoint) is a real
    runtime error that must not be relabeled."""
    text = str(exc)
    return (
        "Failed to find data source: kafka" in text
        or "DATA_SOURCE_NOT_FOUND" in text
        or "ClassNotFoundException" in text
    )


def kafka_sink(
    df: DataFrame,
    brokers: str,
    message: str = "$MESSAGE",
    key: str | None = None,
    topic: str = "syslog-ng",
    fallback_topic: str | None = None,
    checkpoint: str | None = None,
    templates: Mapping[str, str] | None = None,
    **producer_options,
):
    """kafka() destination: render records (kafka_records — tested,
    oracle-gated) and hand them to the Spark Kafka writer. Batch
    frames .save(), streaming frames .start(). The ONLY environment
    dependency is the connector jar; without it this fails loudly with
    the one-line activation path."""
    records = kafka_records(df, message, key, topic, fallback_topic,
                            templates=templates)
    try:
        if records.isStreaming:
            writer = (
                records.writeStream.format("kafka")
                .option("kafka.bootstrap.servers", brokers)
            )
            if checkpoint:
                writer = writer.option("checkpointLocation", checkpoint)
            for k, v in producer_options.items():
                writer = writer.option(k, v)
            return writer.start()
        w = records.write.format("kafka").option("kafka.bootstrap.servers", brokers)
        for k, v in producer_options.items():
            w = w.option(k, v)
        return w.save()
    except Exception as exc:
        # Translate ONLY the jar-missing failure; with the jar present,
        # broker-unreachable / auth / checkpoint errors must surface
        # as themselves, not masquerade as a missing connector.
        if not _kafka_jar_missing(exc):
            raise
        from syslog_ng_spark.sources.streaming import kafka_package_coordinate

        coord = kafka_package_coordinate()
        raise NotImplementedError(
            "kafka connector jar not available in this environment. "
            "To activate, start the session with\n"
            f'  SparkSession.builder.config("spark.jars.packages", "{coord}")\n'
            f"or: spark-submit --packages {coord}\n"
            "(record construction is already done — kafka_records is "
            "oracle-gated without the jar)."
        ) from exc
