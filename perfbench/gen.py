"""Seeded transcript generator owned by the benchmark.

NumPy + pyarrow only: no Spark and no ``mdbloom`` import, so a change to
the library (``mdbloom.spark.transcripts`` included) cannot change what
the benchmark feeds it. Same ``(seed, n_convs)`` gives the same table.

Schema: ``conv_id string, turn_idx int32, role string, text string,
tool string, ts timestamp[us, UTC]``.

Text is drawn from a heavy-tailed (Zipf, s=1.1) vocabulary of
``VOCAB`` words, plus two *needle* words per conversation (``n<conv>a``,
``n<conv>b``) that occur in no other conversation. The index shards by
``conv_id``, so a needle lives in exactly one shard and the per-shard
token gates have something to prune.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VOCAB = 40_000
ZIPF_S = 1.1
ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
ROLE_P = np.array([0.40, 0.40, 0.05, 0.15])
TOOLS = np.array(["Bash", "Read", "Write", "Grep", "Edit", "WebSearch"],
                 dtype=object)
BASE_TS = np.datetime64("2026-01-01T00:00:00", "us")
MIN_TURNS, MAX_TURNS = 8, 24
MIN_WORDS, MAX_WORDS = 6, 30

SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                    ("role", pa.string()), ("text", pa.string()),
                    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])

_CDF = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
_CDF /= _CDF[-1]
_WORDS = np.array([f"w{r}" for r in range(VOCAB)], dtype=object)


def _transcripts(rng: np.random.Generator, first_conv: int, n_convs: int
                 ) -> tuple[pa.Table, np.ndarray]:
    """The table plus, per row, whether it holds one of its needles."""
    convs = np.arange(first_conv, first_conv + n_convs)
    lens = rng.integers(MIN_TURNS, MAX_TURNS + 1, n_convs)
    conv = np.repeat(convs, lens)
    n = len(conv)
    turn = np.arange(n) - np.repeat(np.cumsum(lens) - lens, lens)
    role = ROLES[np.searchsorted(np.cumsum(ROLE_P), rng.random(n),
                                 side="right").clip(0, len(ROLES) - 1)]
    tool = TOOLS[rng.integers(0, len(TOOLS), n)]
    tool[(role == "user") | (role == "system")] = None

    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    starts = np.concatenate([[0], np.cumsum(n_words)[:-1]])
    ranks = np.searchsorted(_CDF, rng.random(int(n_words.sum())))
    toks = _WORDS[ranks]
    # needle a replaces one word in turn 0 and in a quarter of later
    # turns; needle b replaces the next word in a tenth of all turns
    has_a = (turn == 0) | (rng.random(n) < 0.25)
    has_b = rng.random(n) < 0.1
    pos_a = starts + rng.integers(0, n_words)
    pos_b = starts + (pos_a - starts + 1) % n_words
    toks[pos_a[has_a]] = [f"n{c}a" for c in conv[has_a]]
    toks[pos_b[has_b]] = [f"n{c}b" for c in conv[has_b]]
    seps = np.full(len(toks), " ", dtype=object)
    seps[starts + n_words - 1] = "\n"
    texts = "".join(toks + seps).split("\n")[:n]

    ts = (BASE_TS + (conv * 600).astype("timedelta64[s]")
          + (turn * 7 + rng.integers(0, 7, n)).astype("timedelta64[s]"))
    table = pa.table({
        "conv_id": pa.array(np.repeat(
            [f"c{c:07d}" for c in convs], lens), pa.string()),
        "turn_idx": pa.array(turn.astype(np.int32)),
        "role": pa.array(role, pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts.astype("datetime64[us]"),
                       pa.timestamp("us", tz="UTC")),
    }, schema=SCHEMA)
    return table, has_a | has_b


def transcripts(rng: np.random.Generator, first_conv: int,
                n_convs: int) -> pa.Table:
    """Conversations ``first_conv .. first_conv + n_convs - 1``."""
    return _transcripts(rng, first_conv, n_convs)[0]


def fresh_batch(rng: np.random.Generator, base: pa.Table, first_conv: int,
                n_rows: int) -> pa.Table:
    """A ``novel_rows`` input: ``n_rows // 2`` rows copied from ``base``
    (already indexed, so not novel) and the rest from new conversations
    numbered from ``first_conv``, each row holding a needle of its own
    conversation, so none can match a stored token set."""
    n_dup = n_rows // 2
    dup = base.take(np.sort(rng.choice(base.num_rows, n_dup, replace=False)))
    new, own = _transcripts(rng, first_conv, (n_rows - n_dup) // 3 + 1)
    new = new.filter(pa.array(own))
    assert new.num_rows >= n_rows - n_dup
    return pa.concat_tables([dup, new.slice(0, n_rows - n_dup)])
