"""Open-loop NATS load generator: one OS process, one thread, seeded.

Appends JetStream messages, one JSON object per line, to a replay file that
the engine's ``nats-jetstream`` source reads. Message ``i`` of a run is due
at ``start + i / rate``; the schedule never waits for the engine. Each
message's JetStream timestamp is its due time, so the benchmark can time a
message from when it was due to when its batch committed. When the process
falls behind, it writes every overdue message at once and records how late
it ran.

Keys are skewed: user ids and chat (session) ids follow a Zipf law, over
two streams (``supprt`` and ``crmabc``), with payload texts from a few bytes
to about 1.5 KiB.

Run it as a script; it prints one JSON report line when done::

    python3 perfbench/loadgen.py --out replay.jsonl --seed 7 --first-seq 1 \
        --count 3000 --rate 300 --start 1700000000.0
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import os
import random
import time

#: A line never straddles a page, so a reader sees a line whole or not at
#: all: file readers are bounded by the size the kernel publishes after
#: each page is copied, never by a half-copied page.
PAGE = 4096
STREAMS = ("supprt", "crmabc")
_WORDS = "hello order refund ticket status please thanks agent bot reply".split()


class MessageMaker:
    """Deterministic message bodies: the same seed gives the same lines."""

    def __init__(self, seed: int, n_users: int = 2_000, n_chats: int = 5_000):
        self._rng = random.Random(seed)
        self._user_cum = _zipf_cdf(n_users)
        self._chat_cum = _zipf_cdf(n_chats)

    def line(self, seq: int, ts_us: int) -> bytes:
        rng = self._rng
        stream = STREAMS[0] if rng.random() < 0.7 else STREAMS[1]
        user = _draw(rng, self._user_cum)
        chat = _draw(rng, self._chat_cum)
        # payload sizes: mostly short chat lines, a tail of long ones
        n_words = rng.choice((2, 4, 8, 16, 32, 64, 250))
        text = " ".join(rng.choice(_WORDS) for _ in range(n_words))
        subject = (
            f"globex.{stream}.u{user}.chat-{chat}.client.agent."
            f"{rng.choice(('text', 'image', 'event'))}.ctx{rng.randrange(8)}"
        )
        data = json.dumps({
            "text": text,
            "meta": f"m{rng.randrange(5)}",
            "id": f"msg-{seq}",
            "timestamp": ts_us // 1_000_000,
        })
        return (
            json.dumps({
                "subject": subject,
                "data": data,
                "sequence": seq,
                "timestamp_us": ts_us,
                "metadata_json": json.dumps({"user": "loadgen", "id": seq}),
            }).encode()
            + b"\n"
        )


def _zipf_cdf(n: int, s: float = 1.1) -> list[float]:
    cum = list(itertools.accumulate(1.0 / k ** s for k in range(1, n + 1)))
    return [c / cum[-1] for c in cum]


def _draw(rng: random.Random, cdf) -> int:
    return bisect.bisect_left(cdf, rng.random()) + 1


class PageAlignedAppender:
    """Appends whole lines so that no line crosses a page boundary."""

    def __init__(self, path: str):
        self._fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        self._pos = os.fstat(self._fd).st_size

    def append(self, lines: list[bytes]) -> None:
        buf = bytearray()
        pos = self._pos
        for ln in lines:
            if len(ln) > PAGE:
                raise ValueError(f"line of {len(ln)} bytes exceeds a page")
            room = PAGE - pos % PAGE
            if len(ln) > room:
                # blank lines are skipped by the replay parser
                buf += b"\n" * room
                pos += room
            buf += ln
            pos += len(ln)
        # one write per page keeps each page's publish atomic to readers
        start = 0
        while start < len(buf):
            end = min(len(buf), start + PAGE - (self._pos + start) % PAGE)
            os.write(self._fd, bytes(buf[start:end]))
            start = end
        self._pos = pos

    def close(self) -> None:
        os.close(self._fd)


def run(out: str, seed: int, first_seq: int, count: int, rate: float, start: float) -> dict:
    """Write ``count`` messages due at ``start + i / rate`` (all at once when
    ``rate`` is 0) and return the lateness report."""
    maker = MessageMaker(seed)
    sink = PageAlignedAppender(out)
    late: list[float] = []
    i = 0
    try:
        while i < count:
            now = time.time()
            if rate > 0:
                due_n = min(count, int((now - start) * rate) + 1)
                if due_n <= i:
                    time.sleep(max(0.0, start + i / rate - now))
                    continue
            else:
                due_n = count
            lines = []
            for k in range(i, due_n):
                due = start + k / rate if rate > 0 else now
                late.append(max(0.0, now - due) * 1000.0)
                lines.append(maker.line(first_seq + k, int(due * 1_000_000)))
            sink.append(lines)
            i = due_n
    finally:
        sink.close()
    late.sort()
    return {
        "sent": count,
        "late_ms_p50": late[len(late) // 2] if late else 0.0,
        "late_ms_max": late[-1] if late else 0.0,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first-seq", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--start", type=float, default=0.0)
    a = ap.parse_args()
    report = run(a.out, a.seed, a.first_seq, a.count, a.rate, a.start or time.time())
    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
