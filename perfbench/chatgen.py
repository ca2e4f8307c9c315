"""Seeded Twitch-chat load generator, run as its own single-threaded process.

Text: short messages drawn from a Zipf vocabulary of synthetic words, with
English stopwords, short filler tokens the word filter drops, mixed case,
an occasional ``:`` inside the text (the parser keeps only the part before
it) and astral-plane emoji. Every line is stamped with its creation time in
milliseconds, in the receiver's wire format (``irc.format_privmsg``).

Two modes:

    python3 perfbench/chatgen.py live --dir D --seed S --rate 300 --seconds 20 --log L
        open loop: one file per tick at a fixed line rate, each line stamped
        with the time it was due; the log records how late each file was.
    python3 perfbench/chatgen.py backlog --dir D --seed S --files 6 --lines 20000
        a pre-written backlog with synthetic stamps (byte-identical per seed).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from spark_streaming_twitch_analytics_spark.sources.irc import (  # noqa: E402
    format_privmsg,
    write_batch_file,
)

CHANNEL = "benchchan"
VOCAB_SIZE = 200_000
ZIPF_S = 0.9
N_USERS = 500
STOPWORDS = ("the", "and", "this", "that", "with", "have", "what", "just", "you", "are")
FILLER = ("lol", "gg", "ok", "xd", "kek", "o7")
EMOJI = ("\U0001F600", "\U0001F602", "\U0001F525", "\U0001F44D", "\U0001D11E", "\U0001F3AE")
BACKLOG_EPOCH_MS = 1_700_000_000_000
TICK_MS = 100  # live mode writes one file per tick


class ChatText:
    """Deterministic message stream: the messages depend only on the seed
    and the order of the ``messages`` calls."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        lens = self.rng.integers(4, 11, size=VOCAB_SIZE)
        letters = self.rng.integers(97, 123, size=(VOCAB_SIZE, 10), dtype=np.uint8)
        raw = letters.view("S10").ravel()
        words = list(dict.fromkeys(b[:n].decode() for b, n in zip(raw, lens)))
        # case variants: 80% lower, 15% capitalized, 5% upper
        self.forms = (words, [w.capitalize() for w in words], [w.upper() for w in words])
        ranks = np.arange(1, len(words) + 1, dtype=np.float64)
        cdf = np.cumsum(ranks ** -ZIPF_S)
        self.cdf = cdf / cdf[-1]

    def messages(self, n: int) -> list[tuple[str, str]]:
        """``n`` (user, text) pairs."""
        rng = self.rng
        n_words = rng.geometric(0.22, size=n)
        users = rng.zipf(1.3, size=n) % N_USERS
        colon = rng.random(n) < 0.05
        total = int(n_words.sum()) + int(colon.sum())
        kind, u0, u1 = rng.random(total), rng.random(total), rng.random(total)
        word = np.minimum(np.searchsorted(self.cdf, u0), len(self.cdf) - 1)
        case = np.where(u1 < 0.15, 1, np.where(u1 < 0.20, 2, 0))
        toks = []
        for k, w, c, a, b in zip(kind.tolist(), word.tolist(), case.tolist(),
                                 u0.tolist(), u1.tolist()):
            if k < 0.18:
                toks.append(STOPWORDS[int(a * len(STOPWORDS))])
            elif k < 0.25:
                toks.append(FILLER[int(a * len(FILLER))])
            elif k < 0.30:
                toks.append(EMOJI[int(a * len(EMOJI))] * (1 + int(b * 4)))
            else:
                toks.append(self.forms[c][w])
        out, pos = [], 0
        for i in range(n):
            k = int(n_words[i])
            text = " ".join(toks[pos : pos + k])
            pos += k
            if colon[i]:
                # a ':' inside the text: the parser keeps only what precedes it
                text = f"{text}: {toks[pos]}"
                pos += 1
            out.append((f"u{users[i]}", text))
        return out


def backlog_lines(seed: int, n_files: int, lines_per_file: int) -> list[list[str]]:
    """The backlog as a list of files, each a list of wire lines."""
    gen = ChatText(seed)
    files = []
    stamp = BACKLOG_EPOCH_MS
    for _ in range(n_files):
        lines = []
        for user, text in gen.messages(lines_per_file):
            lines.append(format_privmsg(stamp, user, CHANNEL, text))
            stamp += 1
        files.append(lines)
    return files


def write_backlog(
    dir_path: str, seed: int, n_files: int, lines_per_file: int, first: int = 0
) -> int:
    files = backlog_lines(seed, n_files, lines_per_file)
    for i, lines in enumerate(files):
        write_batch_file(dir_path, lines, first + i)
    return sum(len(f) for f in files)


def run_live(dir_path: str, seed: int, rate: int, seconds: float, log_path: str) -> None:
    """Open loop: tick ``i`` is due at ``t0 + (i + 1) * TICK_MS``; its lines
    are due evenly across the tick and stamped with their due time. The file
    is written when the tick is due, whether or not the consumer keeps up."""
    gen = ChatText(seed)
    per_tick = max(1, round(rate * TICK_MS / 1000))
    n_ticks = int(seconds * 1000 // TICK_MS)
    # draw every message before the clock starts so the loop only writes
    msgs = gen.messages(per_tick * n_ticks)
    t0 = int(time.time() * 1000)
    log = {"t0_ms": t0, "tick_ms": TICK_MS, "per_tick": per_tick, "ticks": []}
    for i in range(n_ticks):
        start = t0 + i * TICK_MS
        due = start + TICK_MS
        wait = due / 1000 - time.time()
        if wait > 0:
            time.sleep(wait)
        chunk = msgs[i * per_tick : (i + 1) * per_tick]
        lines = [
            format_privmsg(start + (j * TICK_MS) // per_tick, user, CHANNEL, text)
            for j, (user, text) in enumerate(chunk)
        ]
        path = write_batch_file(dir_path, lines, i)
        written = int(time.time() * 1000)
        log["ticks"].append(
            {"file": os.path.basename(path), "lines": len(lines), "due_ms": due,
             "written_ms": written}
        )
    tmp = log_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.replace(tmp, log_path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="chatgen")
    sub = ap.add_subparsers(dest="mode", required=True)
    live = sub.add_parser("live")
    live.add_argument("--dir", required=True)
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--rate", type=int, required=True, help="lines per second")
    live.add_argument("--seconds", type=float, required=True)
    live.add_argument("--log", required=True)
    bl = sub.add_parser("backlog")
    bl.add_argument("--dir", required=True)
    bl.add_argument("--seed", type=int, required=True)
    bl.add_argument("--files", type=int, required=True)
    bl.add_argument("--lines", type=int, required=True)
    bl.add_argument("--first", type=int, default=0, help="number of the first file")
    args = ap.parse_args(argv)
    if args.mode == "live":
        run_live(args.dir, args.seed, args.rate, args.seconds, args.log)
    else:
        print(write_backlog(args.dir, args.seed, args.files, args.lines, args.first))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
