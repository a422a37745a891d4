"""Seeded RFC3164 corpus and the log path both workloads run.

Every message carries ``id=<n>`` (unique within a run) so the output
checks can count each message; daemon-tail messages also carry
``due=<ms>``, their send time relative to the generator's start.
"""

from __future__ import annotations

import os
import random

# (program, facility, severity). The log path drops cron (facility 9)
# and debug (severity 7); everything else must reach the destination.
PROGRAMS = [
    ("nginx", 16, 6),
    ("postgres", 3, 3),
    ("cron", 9, 6),
    ("sshd", 4, 4),
    ("kernel", 0, 2),
    ("worker", 1, 7),
]
WORDS = "request served cache miss upstream retry slow query accepted closed".split()
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()

# file source -> level()/facility() filter -> kv-parser -> subst rewrite
# -> templated file() destination.
CONF = """
source s_in {{ file("{src}"); }};
filter f_keep {{ level(info..emerg) and not facility(cron); }};
parser p_kv {{ kv-parser(prefix(".kv.")); }};
rewrite r_mask {{ subst("secret=\\\\S+", "secret=***", value("MESSAGE")); }};
destination d_out {{ file("{out}" template("$ISODATE $HOST $PROGRAM $MSG\\n")); }};
log {{ source(s_in); filter(f_keep); parser(p_kv); rewrite(r_mask); destination(d_out); }};
"""


def conf_text(src_glob: str, out_dir: str) -> str:
    return CONF.format(src=src_glob, out=out_dir)


def kept(program: str) -> bool:
    """Whether the log path lets a message of `program` through."""
    _, fac, sev = next(p for p in PROGRAMS if p[0] == program)
    return fac != 9 and sev <= 6


class Corpus:
    """Deterministic message source: the same seed gives the same lines."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.kept_ids: set[int] = set()
        self.dropped_ids: set[int] = set()

    def line(self, due_ms: int | None = None) -> str:
        r = self.rng
        prog, fac, sev = PROGRAMS[r.randrange(len(PROGRAMS))]
        mid = self.next_id
        self.next_id += 1
        (self.kept_ids if kept(prog) else self.dropped_ids).add(mid)
        due = "" if due_ms is None else f" due={due_ms}"
        words = " ".join(r.choice(WORDS) for _ in range(r.randrange(3, 9)))
        return (
            f"<{fac * 8 + sev}>{MONTHS[r.randrange(12)]} {r.randrange(1, 29):2d} "
            f"{r.randrange(24):02d}:{r.randrange(60):02d}:{r.randrange(60):02d} "
            f"host-{r.randrange(64)} {prog}[{r.randrange(1, 32768)}]: {words} "
            f"id={mid}{due} user=u{r.randrange(500)} "
            f"secret=tok{r.getrandbits(48):012x} code={200 + r.randrange(5)}"
        )

    def write_file(self, path: str, lines: list[str]) -> None:
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")


def write_batch_corpus(corpus: Corpus, directory: str, n: int, shards: int) -> None:
    """`n` messages split over `shards` files named part-*.log."""
    os.makedirs(directory, exist_ok=True)
    lines = [corpus.line() for _ in range(n)]
    for s in range(shards):
        corpus.write_file(os.path.join(directory, f"part-{s:03d}.log"), lines[s::shards])


def write_tail_files(corpus: Corpus, directory: str, files: int, per_file: int,
                     rate: float) -> list[int]:
    """Stage `files` files of `per_file` messages, file k due k/rate
    seconds after the generator starts. Returns each file's due offset
    in ms."""
    os.makedirs(directory, exist_ok=True)
    dues = []
    for k in range(files):
        due = round(k * 1000 / rate)
        dues.append(due)
        corpus.write_file(os.path.join(directory, f"f{k:05d}.log"),
                          [corpus.line(due) for _ in range(per_file)])
    return dues


def parse_ids(line: str) -> tuple[int, int | None]:
    """(id, due_ms) from one rendered output line."""
    i = line.index(" id=") + 4
    j = line.index(" ", i)
    mid = int(line[i:j])
    due = None
    if line.startswith(" due=", j):
        k = line.index(" ", j + 5)
        due = int(line[j + 5:k])
    return mid, due
