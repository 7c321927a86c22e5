"""Seeded query sets for the search workload.

A containment query is ``{"qid", "kind", "tokens", "role", "tool",
"words"}``; ``tokens`` is what the library receives, the other fields are
what the oracle checks against. Four selectivity classes:

* ``broad``  -- a role plus a common word (ranks 20 to 120);
* ``mid``    -- one word held by 8 to 64 rows, spread over many shards;
* ``needle`` -- a conversation's own needle word: one shard holds it;
* ``absent`` -- a word no row holds: the token gates prune every shard.

A get query is a stored record's exact token set (``hit``), or that set
plus an absent word (``miss``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

KINDS = ("broad", "mid", "needle", "absent")


def _tokens(role, tool, words) -> list[str]:
    return ([f"role={role}"] if role else []) + \
        ([f"tool={tool}"] if tool else []) + [f"tok={w}" for w in words]


def containment(qid: str, kind: str, words: list[str], role=None,
                tool=None) -> dict:
    return {"qid": qid, "kind": kind, "tokens": _tokens(role, tool, words),
            "role": role, "tool": tool, "words": words}


class QueryMaker:
    """Draws queries from shuffled pools without replacement, so no query
    token repeats within a run while a pool lasts; at the benchmark's size
    the pools outlast a run (``broad`` pairs excepted), at test sizes they
    wrap around."""

    def __init__(self, rng: np.random.Generator, table: pa.Table,
                 words: np.ndarray, rows_with: np.ndarray):
        self.rng = rng
        self.table = table
        # broad: common, but below the top 20 words that nearly every
        # row holds, so one answer stays a few percent of the table
        order = np.argsort(-rows_with, kind="stable")
        common = [str(w) for w in words[order[20:120]] if w.startswith("w")]
        self.broad = [(r, w) for w in common
                      for r in ("user", "assistant", "tool")]
        self.rng.shuffle(self.broad)
        mid = (rows_with >= 8) & (rows_with <= 64) \
            & np.char.startswith(words, "w")
        self.mid = list(rng.permutation(words[mid]))
        convs = np.unique(np.array(
            [int(c[1:]) for c in table.column("conv_id").to_pylist()]))
        self.needles = [f"n{c}{rng.choice(['a', 'b'])}"
                        for c in rng.permutation(convs)]
        self.rows = list(rng.permutation(table.num_rows))
        self.n = 0
        self.taken: dict[int, int] = {}
        self.absent_tag = int(rng.integers(1 << 30))

    def _take(self, pool: list):
        i = self.taken.get(id(pool), 0)
        self.taken[id(pool)] = i + 1
        return pool[i % len(pool)]

    def _qid(self, kind: str) -> str:
        self.n += 1
        return f"{kind}{self.n}"

    def make(self, kind: str) -> dict:
        qid = self._qid(kind)
        if kind == "broad":
            role, w = self._take(self.broad)
            return containment(qid, kind, [w], role=role)
        if kind == "mid":
            return containment(qid, kind, [str(self._take(self.mid))])
        if kind == "needle":
            return containment(qid, kind, [self._take(self.needles)])
        return containment(qid, kind, [self._absent()])

    def _absent(self) -> str:
        return f"z{self.absent_tag}x{self.n}"

    def get(self, hit: bool = True) -> dict:
        """Exact-get query of a stored record (``rec`` is its id)."""
        i = int(self._take(self.rows))
        row = self.table.slice(i, 1).to_pylist()[0]
        words = sorted(set(row["text"].split()))
        qid = self._qid("get" if hit else "getmiss")
        if not hit:
            words = words + [self._absent()]
        return {"qid": qid, "kind": "hit" if hit else "miss",
                "tokens": _tokens(row["role"], row["tool"], words),
                "rec": (row["conv_id"], int(row["turn_idx"]))}
