"""IRC-shaped streaming sources (reference S1: custom TCP receiver,
``IRCBot.scala:11-68``).

Structured Streaming has no Receiver API; the rebuild offers three ways
to get the receiver's ``value: string`` stream (epoch-millis prefix +
raw IRC line, ``IRCBot.scala:52-53``):

1. :func:`file_line_source` — a directory of text files; each new file
   is a micro-batch. This is the deterministic test/replay path and the
   shape used by the streaming tests (FIXTURES §A7).
2. :func:`rate_source_lines` — maps Spark's ``rate`` source to synthetic
   IRC lines (load/perf testing without a network).
3. :class:`IRCSocketDataSource` — a Spark 4 Python DataSource that
   speaks enough IRC (PASS/NICK/JOIN, PING→PONG, PRIVMSG) over a TCP
   socket for live use. Network-dependent; gated so the module imports
   cleanly without it being exercised.

A batch of raw lines also arrives via :func:`write_batch_file` so tests
can script micro-batches one file at a time.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import lit_array

RAW_SCHEMA = "value string"


def format_privmsg(epoch_ms: int, user: str, channel: str, text: str) -> str:
    """The receiver's stored wire format (``IRCBot.scala:52-53``)."""
    return (
        f"{epoch_ms}:{user}!{user}@{user}.tmi.twitch.tv "
        f"PRIVMSG #{channel} :{text}"
    )


def write_batch_file(dir_path: str, lines: list[str], batch_id: int) -> str:
    """Write one micro-batch of raw lines as a new file (atomic rename so
    the file-stream source never sees partial content)."""
    os.makedirs(dir_path, exist_ok=True)
    tmp = os.path.join(dir_path, f".batch_{batch_id:06d}.tmp")
    dst = os.path.join(dir_path, f"batch_{batch_id:06d}.txt")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, dst)
    return dst


def file_line_source(spark: SparkSession, dir_path: str) -> DataFrame:
    """Unbounded ``value: string`` stream from a directory of text files."""
    os.makedirs(dir_path, exist_ok=True)
    return spark.readStream.format("text").load(dir_path)


_RATE_WORDS = [
    "stream", "spark", "hello", "pogchamp", "clip", "hype", "raid",
    "emote", "chat", "mods", "subs", "lurk", "play",
]


def rate_source_lines(
    spark: SparkSession, rows_per_second: int = 100, channel: str = "chan"
) -> DataFrame:
    """``rate`` source → synthetic IRC lines (deterministic given the
    rate source's value counter). Message text mixes countable chat
    words (>3 chars, Zipf-ish via the two modular picks) with short
    filler the word filter drops — so the downstream word counts are
    non-trivial, as on a real channel."""
    user = F.concat(F.lit("u"), (F.col("value") % 7).cast("string"))
    words = lit_array(_RATE_WORDS)
    w1 = F.element_at(words, (F.col("value") % len(_RATE_WORDS) + 1).cast("int"))
    w2 = F.element_at(words, (F.col("value") % 5 + 1).cast("int"))
    line = F.concat(
        (F.unix_millis(F.col("timestamp"))).cast("string"),
        F.lit(":"),
        user,
        F.lit("!"),
        user,
        F.lit("@tmi PRIVMSG #"),
        F.lit(channel),
        F.lit(" :"),
        w1,
        F.lit(" "),
        w2,
        F.lit(" msg "),
        (F.col("value") % 31).cast("string"),
    )
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(line.alias("value"))
    )


# ---------------------------------------------------------------------------
# Live socket source (Spark 4 Python DataSource) — network path, optional
# ---------------------------------------------------------------------------

def format_stored_line(line: str, epoch_ms: int | None = None) -> str | None:
    """One raw IRC wire line → the stored ``value`` string, or None if the
    line is not a chat message. The server prefixes messages with ``:``
    (``:nick!nick@host PRIVMSG #chan :text``); stored WITHOUT it so the
    colon-split parser (``format_raw_messages``, SURVEY P2) sees
    ``{epoch}:{nick!...}`` with metadata at split-position 1, matching
    :func:`format_privmsg` and the reference's stored shape."""
    if "PRIVMSG" not in line:
        return None
    ms = int(time.time() * 1000) if epoch_ms is None else epoch_ms
    return f"{ms}:{line.lstrip(':')}"


try:  # pragma: no cover - network/live path, exercised only manually
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class IRCSocketDataSource(DataSource):
        """Minimal live IRC source: one reader connection on the DRIVER
        (``SimpleDataSourceStreamReader`` — a partition-style reader
        would be pickled to executors, and sockets don't pickle).
        Offsets are line sequence numbers; read lines are RETAINED until
        ``commit`` so an uncommitted batch can be replayed after a
        failure. Options: host, port, channel, nick, token.

        Mirrors the reference receiver's behavior — auth handshake,
        PING→PONG keepalive, PRIVMSG lines stored with an epoch-millis
        prefix, reconnect on socket errors (``IRCBot.scala:30-55``)."""

        @classmethod
        def name(cls) -> str:
            return "irc_chat"

        def schema(self) -> str:
            return RAW_SCHEMA

        def simpleStreamReader(self, schema):
            return _IRCStreamReader(self.options)

    class _IRCStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options, connect: bool = True):
            from collections import deque

            self.opts = options
            self.log: deque[tuple[int, str]] = deque()  # retained (seq, value)
            self.next_seq = 0
            self.rx = b""
            self.sock = None
            if connect:
                self._connect()

        def __getstate__(self):
            # Spark pickles the reader to ship the replay path
            # (readBetweenOffsets) to a worker; sockets don't pickle.
            # The shipped copy serves ONLY retained-log replays — it
            # must never own the live connection — so strip the socket
            # and the rx buffer (bytes of a partial line belong to the
            # driver-side connection they came from).
            state = self.__dict__.copy()
            state["sock"] = None
            state["rx"] = b""
            return state

        def _connect(self) -> None:
            import socket

            host = self.opts.get("host", "irc.chat.twitch.tv")
            port = int(self.opts.get("port", "6667"))
            self.rx = b""
            self.sock = socket.create_connection((host, port), timeout=30)
            token = self.opts.get("token", "")
            nick = self.opts.get("nick", "justinfan12345")
            chan = self.opts.get("channel", "")
            if token:
                self._send(f"PASS {token}")
            self._send(f"NICK {nick}")
            self._send(f"JOIN #{chan}")

        def _send(self, line: str) -> None:
            if self.sock is None:
                raise OSError("not connected")
            self.sock.sendall((line + "\r\n").encode("utf-8"))

        def _poll(self) -> None:
            """Drain whatever the socket has ready — framing is done on
            our OWN byte buffer (a buffered ``makefile`` strands complete
            lines invisible to ``select``, and a partial line would block
            ``readline`` for the whole socket timeout). Any socket error
            reconnects, like the reference receiver."""
            import select

            try:
                while self.sock and select.select([self.sock], [], [], 0.0)[0]:
                    data = self.sock.recv(4096)
                    if not data:
                        raise OSError("connection closed by server")
                    self.rx += data
            except OSError:
                try:
                    self._connect()
                except OSError:
                    pass  # stay down this round; next poll retries
                return
            self._drain_rx()

        def _drain_rx(self) -> None:
            *complete, self.rx = self.rx.split(b"\r\n")
            for raw in complete:
                line = raw.decode("utf-8", errors="replace")
                if line.startswith("PING"):
                    try:
                        self._send("PONG" + line[4:])
                    except OSError:
                        pass  # keepalive failure surfaces on next recv
                    continue
                stored = format_stored_line(line)
                if stored is not None:
                    self.log.append((self.next_seq, stored))
                    self.next_seq += 1

        def initialOffset(self):
            return {"n": 0}

        def read(self, start):
            self._poll()
            lines = [(v,) for seq, v in self.log if seq >= start["n"]]
            return iter(lines), {"n": self.next_seq}

        def readBetweenOffsets(self, start, end):
            # replay of an uncommitted batch after restart — served from
            # the retained log, NOT by consuming new socket data
            return iter(
                [(v,) for seq, v in self.log if start["n"] <= seq < end["n"]]
            )

        def commit(self, end):
            while self.log and self.log[0][0] < end["n"]:
                self.log.popleft()

        def stop(self):
            try:
                if self.sock:
                    self.sock.close()
            except Exception:
                pass

    HAS_DATASOURCE_API = True
except Exception:  # pragma: no cover
    HAS_DATASOURCE_API = False
