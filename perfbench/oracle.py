"""Exact answers, computed by DuckDB over the staged parquet.

Nothing here imports Spark or ``mdbloom``: the oracle tokenizes the text
the way the index contract defines it (whitespace split, distinct words,
``role=``/``tool=`` tags with NULL tools skipped) and answers with plain
SQL, so a defect in the library cannot also hide in its own check.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

_WORDS = r"list_distinct(string_split_regex(trim(text), '\s+'))"


class Oracle:
    def __init__(self, src_path: str, fresh_path: str | None = None):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            f"CREATE TABLE src AS SELECT conv_id, turn_idx, role, tool, "
            f"text, epoch_us(ts) / 1e6 AS x, {_WORDS} AS ws, "
            f"role || '|' || coalesce(tool, '') || '|' || "
            f"array_to_string(list_sort({_WORDS}), ' ') AS sig "
            f"FROM read_parquet('{src_path}')")
        if fresh_path:
            self.con.execute(
                f"CREATE TABLE fresh AS SELECT conv_id, turn_idx, "
                f"role || '|' || coalesce(tool, '') || '|' || "
                f"array_to_string(list_sort({_WORDS}), ' ') AS sig "
                f"FROM read_parquet('{fresh_path}')")

    def _ids(self, sql: str) -> dict[str, set]:
        out: dict[str, set] = {}
        for qid, conv, turn in self.con.execute(sql).fetchall():
            out.setdefault(qid, set()).add((conv, int(turn)))
        return out

    def containment(self, queries: list[dict]) -> dict[str, set]:
        """``{qid: {(conv_id, turn_idx)}}``: rows whose tags equal the
        query's and whose words include every query word."""
        words = pa.table({
            "qid": [q["qid"] for q in queries for _ in q["words"]],
            "w": [w for q in queries for w in q["words"]]})
        spec = pa.table({
            "qid": [q["qid"] for q in queries],
            "qrole": pa.array([q.get("role") for q in queries], pa.string()),
            "qtool": pa.array([q.get("tool") for q in queries], pa.string()),
            "nw": [len(set(q["words"])) for q in queries]})
        self.con.register("qw", words)
        self.con.register("qs", spec)
        try:
            found = self._ids("""
                WITH tw AS (SELECT conv_id, turn_idx, role, tool,
                                   unnest(ws) AS w FROM src)
                SELECT qs.qid, tw.conv_id, tw.turn_idx
                FROM (SELECT DISTINCT qid, w FROM qw) q
                JOIN tw ON tw.w = q.w
                JOIN qs ON qs.qid = q.qid
                WHERE (qs.qrole IS NULL OR tw.role = qs.qrole)
                  AND (qs.qtool IS NULL OR tw.tool = qs.qtool)
                GROUP BY qs.qid, tw.conv_id, tw.turn_idx, qs.nw
                HAVING count(*) = qs.nw""")
        finally:
            self.con.unregister("qw")
            self.con.unregister("qs")
        return {q["qid"]: found.get(q["qid"], set()) for q in queries}

    def same_token_set(self, records: list[tuple[str, str, int]]
                       ) -> dict[str, set]:
        """``{qid: ids}`` for ``(qid, conv_id, turn_idx)`` records: every
        row whose token set equals that record's — what an exact ``get``
        of the record's tokens must return."""
        rec = pa.table({"qid": [r[0] for r in records],
                        "conv_id": [r[1] for r in records],
                        "turn_idx": pa.array([r[2] for r in records],
                                             pa.int32())})
        self.con.register("rec", rec)
        try:
            found = self._ids("""
                SELECT rec.qid, b.conv_id, b.turn_idx
                FROM rec JOIN src a USING (conv_id, turn_idx)
                JOIN src b ON b.sig = a.sig""")
        finally:
            self.con.unregister("rec")
        return {r[0]: found.get(r[0], set()) for r in records}

    def novel(self) -> set:
        """Rows of the fresh batch whose token set is not stored."""
        return {(c, int(t)) for c, t in self.con.execute(
            "SELECT conv_id, turn_idx FROM fresh "
            "WHERE sig NOT IN (SELECT sig FROM src)").fetchall()}

    def rows_of_convs(self, convs: list[str]) -> int:
        return self.con.execute(
            "SELECT count(*) FROM src WHERE list_contains(?, conv_id)",
            [convs]).fetchone()[0]

    def word_rows(self) -> tuple[np.ndarray, np.ndarray]:
        """Every word with the number of rows that contain it."""
        got = self.con.execute(
            "SELECT w, count(*) AS n FROM (SELECT unnest(ws) AS w FROM src) "
            "GROUP BY w ORDER BY w").fetchnumpy()
        return got["w"].astype(str), got["n"].astype(np.int64)

    def distinct(self, col: str) -> int:
        return self.con.execute(
            f"SELECT count(DISTINCT {col}) FROM src").fetchone()[0]

    def counts(self, col: str, values: list[str]) -> np.ndarray:
        got = dict(self.con.execute(
            f"SELECT {col}, count(*) FROM src WHERE list_contains(?, {col}) "
            f"GROUP BY {col}", [values]).fetchall())
        return np.array([got.get(v, 0) for v in values], dtype=np.int64)

    def sorted_x(self) -> np.ndarray:
        """The quantile column (``ts`` in epoch seconds), sorted."""
        return self.con.execute(
            "SELECT x FROM src ORDER BY x").fetchnumpy()["x"]

    def close(self) -> None:
        self.con.close()
