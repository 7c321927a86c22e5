"""The two closed-loop workloads, their set-up and their checks.

One client calls the library's public API; each call starts after the
previous one returned. Every call runs with its default arguments. A
*cycle* is the workload's fixed sequence of operations:

* ``ingest``: the four sketch UDAFs (``hll``, ``kll``, ``cms``,
  ``tdigest``), ``novel_rows`` over a fresh batch that is half duplicates
  (``novel``), ``remove_where`` of a few conversations followed by
  ``compact`` (``compact``), then a full ``build`` of the staged table.
* ``search``: one batch of 32 containment queries through
  ``search_many`` (``batch_search``) and ``search_verified_many``
  (``batch_verified``), 32 exact gets through ``get_many``
  (``batch_get``), then 8 point calls alternating ``search`` and
  ``get``, each on tokens not used before in the run.

Every answer is checked against the DuckDB oracle; an exception or a
wrong answer fails the operation, and failed operations stay in the
samples.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.oracle import Oracle
from perfbench.queries import KINDS, QueryMaker

IDS = ("conv_id", "turn_idx")
N_SHARDS = 16  # fixed: the index layout must not depend on the host
STAGED_FILES = 8
ARTIFACTS = ("storage", "slabs", "manifest", "manifest_tree",
             "token_hashes", "tombstones")
QS = [0.01, 0.25, 0.5, 0.75, 0.99]
HLL_SIGMAS = 5  # HLL publishes a standard error, not a hard bound
# search cycles keep getting faster for about three cycles after the first
# (query planning code still compiling); warm up past that, on query sets
# of their own
WARMUP_CYCLES = 3

# conversations (~16 turns each) per workload at scale 1
SIZES = {
    "ingest": {"convs": 1250, "fresh": 0.25, "deleted_convs": 3,
               "cms_probes": 20},
    "search": {"convs": 1875, "batch": 32, "points": 8},
}


class Op:
    """One user-facing operation: timed parts plus answer checks."""

    def __init__(self, rec: "Recorder", name: str, group: str):
        self.rec, self.name, self.group = rec, name, group
        self.parts: dict[str, float] = {}
        self.bad: list[str] = []

    def time(self, part: str, fn):
        """Time one public call; jobs it starts carry the op's group."""
        self.rec.tag(self.group)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            return fn()
        finally:
            self.parts[part] = time.perf_counter() - t0
            self.rec.spans.append((self.name, self.group, wall0, time.time()))
            self.rec.tag("verify")

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.bad.append(what)


class Recorder:
    """Samples, spans and failure counts of one run. ``sc`` is set only in
    a traced run, where every operation's jobs get their own job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.samples: dict[str, list] = defaultdict(list)
        self.spans: list[tuple[str, str, float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.busy = 0.0  # seconds spent inside timed calls
        self.part_totals: dict[str, float] = defaultdict(float)
        self._calls = 0

    def tag(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group.split("#", 1)[0])

    @contextmanager
    def op(self, name: str):
        op = Op(self, name, f"{name}#{self._calls}")
        self._calls += 1
        try:
            yield op
        except Exception:  # the loop must go on; the op counts as failed
            op.bad.append(traceback.format_exc(limit=4))
        finally:
            self.tag("verify")
            self.attempted += 1
            if op.bad:
                self.failed += 1
                self.errors.append(f"{name}: {op.bad[0]}")
            for part, dt in op.parts.items():
                self.samples[f"op.{name}.{part}"].append(dt)
                self.part_totals[part] += dt
            self.samples[f"op.{name}"].append(sum(op.parts.values()))
            self.busy += sum(op.parts.values())

    def take_samples(self) -> dict[str, list]:
        """Hand over the samples so far (set-up) and start afresh."""
        taken, self.samples = self.samples, defaultdict(list)
        return taken

    def add(self, name: str, value: float) -> None:
        self.samples[name].append(float(value))


def stage(path: str, table) -> str:
    """Write ``table`` as a parquet directory of ``STAGED_FILES`` files."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // STAGED_FILES)
    for i in range(STAGED_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i}.parquet"))
    return path


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def artifact_bytes(index: str) -> dict[str, int]:
    out = dict.fromkeys(ARTIFACTS, 0)
    out["other"] = 0
    for top in os.listdir(index):
        out[top if top in out else "other"] += tree_bytes(
            os.path.join(index, top))
    return out


def record_index(rec: Recorder, index: str, n_rows: int) -> None:
    sizes = artifact_bytes(index)
    for name, size in sizes.items():
        rec.add(f"storage.bytes_per_turn.{name}", size / n_rows)
    rec.add("index_bytes_per_turn", sum(sizes.values()) / n_rows)


def record_build(rec: Recorder, stats: dict) -> None:
    for phase, sec in stats.get("phases", {}).items():
        rec.add(f"build.{phase}_s", sec)


class Ctx:
    """Per-run state shared by set-up and the loop."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 scale: float, rec: Recorder):
        from mdbloom.spark.build import IndexConfig
        self.spark = spark
        self.work = work
        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.scale = scale
        self.rec = rec
        self.cfg = IndexConfig(n_shards=N_SHARDS)

    def convs(self, n: int) -> int:
        return max(8, int(n * self.scale))

    def writer(self):
        from mdbloom.spark.build import BloomIndexWriter
        return BloomIndexWriter(self.spark, self.cfg)

    def reader(self, index: str):
        from mdbloom.spark.query import BloomIndexReader
        return BloomIndexReader(self.spark, index)


def _ids(rows) -> list[tuple]:
    return [(r[0], int(r[1])) for r in rows]


def _by_query(rows) -> dict[str, list]:
    out: dict[str, list] = defaultdict(list)
    for q, conv, turn in rows:
        out[q].append((conv, int(turn)))
    return out


# ---------------------------------------------------------------- ingest

class IngestData:
    """The staged table, its fresh batch and their exact answers."""

    def __init__(self, ctx: Ctx, n_convs: int):
        from pyspark.sql import functions as F
        size = SIZES["ingest"]
        table = gen.transcripts(ctx.rng, 0, n_convs)
        fresh = gen.fresh_batch(ctx.rng, table, 10 * n_convs,
                                max(2, int(table.num_rows * size["fresh"])))
        src = stage(os.path.join(ctx.work, "ingest_src"), table)
        fresh_path = stage(os.path.join(ctx.work, "ingest_fresh"), fresh)
        self.index = os.path.join(ctx.work, "ingest_index")
        self.df = ctx.spark.read.parquet(src)
        self.num_df = self.df.select(
            (F.unix_micros("ts") / 1e6).alias("x"))
        self.fresh_df = ctx.spark.read.parquet(fresh_path)
        self.n_rows = table.num_rows
        self.n_fresh = fresh.num_rows
        self.input_bytes = tree_bytes(src)
        self.convs = sorted(set(table.column("conv_id").to_pylist()))
        oracle = Oracle(os.path.join(src, "*.parquet"),
                        os.path.join(fresh_path, "*.parquet"))
        try:
            self.novel = oracle.novel()
            self.distinct_text = oracle.distinct("text")
            present = [str(c) for c in ctx.rng.choice(
                self.convs, size["cms_probes"], replace=False)]
            self.probes = present + [f"absent{i}" for i in range(4)]
            self.probe_counts = oracle.counts("conv_id", self.probes)
            self.xs = oracle.sorted_x()
            # one delete set per cycle, drawn up front from the seed
            self.deletes = []
            for _ in range(16):
                doomed = [str(c) for c in ctx.rng.choice(
                    self.convs, size["deleted_convs"], replace=False)]
                self.deletes.append((doomed, oracle.rows_of_convs(doomed)))
        finally:
            oracle.close()


def _rank_error(xs: np.ndarray, est: float, q: float) -> float:
    lo = np.searchsorted(xs, est, "left") / len(xs)
    hi = np.searchsorted(xs, est, "right") / len(xs)
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


def build_index(ctx: Ctx, df, index: str, n_rows: int) -> None:
    """A full build into a fresh directory, with its phases and sizes."""
    shutil.rmtree(index, ignore_errors=True)
    with ctx.rec.op("build") as op:
        stats = op.time("call", lambda: ctx.writer().build(df, index))
        op.check(stats.get("rows") == n_rows,
                 f"build indexed {stats.get('rows')} of {n_rows} rows")
        record_build(ctx.rec, stats)
        record_index(ctx.rec, index, n_rows)


def ingest_sketches(ctx: Ctx, data: IngestData) -> None:
    """The four sketch UDAFs, each against its published error bound."""
    from mdbloom.sketches import HllSketch
    from mdbloom.spark import aggregate as A
    rec, n = ctx.rec, data.n_rows
    with rec.op("hll") as op:
        est = op.time("call", lambda: A.hll_distinct(data.df, "text"))
        err = abs(est - data.distinct_text) / data.distinct_text
        rec.add("aggregate.hll_err", err)
        op.check(err <= HLL_SIGMAS * HllSketch(14).rse,
                 f"hll {est} vs exact {data.distinct_text}")
    with rec.op("kll") as op:
        est = op.time("call", lambda: A.kll_quantiles(data.num_df, "x", QS))
        err = max(_rank_error(data.xs, e, q) for e, q in zip(est, QS))
        rec.add("aggregate.kll_err", err)
        op.check(err <= 3 * 0.7 / 200 + 2e-3, f"kll rank error {err}")
    with rec.op("cms") as op:
        est = op.time("call", lambda: A.cms_frequencies(
            data.df, "conv_id", data.probes))
        over = np.asarray(est, dtype=np.int64) - data.probe_counts
        rec.add("aggregate.cms_err", over.max() / n)
        op.check(over.min() >= 0 and over.max() <= 1e-4 * n,
                 f"cms overestimates {over.tolist()}")
    with rec.op("tdigest") as op:
        est = op.time("call", lambda: A.tdigest_quantiles(data.num_df, "x",
                                                          QS))
        errs = [_rank_error(data.xs, e, q) for e, q in zip(est, QS)]
        rec.add("aggregate.tdigest_err", max(errs))
        op.check(all(e <= max(1e-2, 0.2 * min(q, 1 - q))
                     for e, q in zip(errs, QS)),
                 f"t-digest rank errors {errs}")


def ingest_novel(ctx: Ctx, data: IngestData) -> None:
    with ctx.rec.op("novel") as op:
        reader = op.time("open", lambda: ctx.reader(data.index))
        df = op.time("plan", lambda: reader.novel_rows(data.fresh_df))
        got = _ids(op.time("exec", lambda: df.select(*IDS).collect()))
        ctx.rec.add("query.open_s", op.parts["open"])
        op.check(len(got) == len(set(got)) and set(got) == data.novel,
                 f"novel_rows: {len(got)} rows, exact {len(data.novel)}")


def ingest_compact(ctx: Ctx, data: IngestData, k: int) -> None:
    from pyspark.sql import functions as F
    rec, n = ctx.rec, data.n_rows
    doomed, n_doomed = data.deletes[k % len(data.deletes)]
    with rec.op("compact") as op:
        writer = ctx.writer()
        pred = "conv_id IN ({})".format(", ".join(f"'{c}'" for c in doomed))
        removed = op.time("remove_where",
                          lambda: writer.remove_where(pred, data.index))
        rec.add("storage.bytes_per_turn.tombstones_pending",
                artifact_bytes(data.index)["tombstones"] / n)
        stats = op.time("compact", lambda: writer.compact(data.df,
                                                          data.index))
        rec.add("build.compact_shards_rebuilt", stats.get("built", 0))
        rec.add("build.compact_shards_skipped", stats.get("skipped", 0))
        op.check(removed == n_doomed,
                 f"remove_where tombstoned {removed}, exact {n_doomed}")
        after = ctx.reader(data.index)
        live = after.value_count()
        left = after.storage().where(F.col("conv_id").isin(doomed)).count()
        op.check(live == n - n_doomed and left == 0,
                 f"after compact: {live} live (want {n - n_doomed}), "
                 f"{left} deleted rows still stored")


class Ingest:
    def setup(self, ctx: Ctx) -> None:
        rec = ctx.rec
        t0 = time.perf_counter()
        self.data = IngestData(ctx, ctx.convs(SIZES["ingest"]["convs"]))
        self.turns = self.data.n_rows
        self.input_bytes = self.data.input_bytes
        rec.add("setup.input_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        build_index(ctx, self.data.df, self.data.index, self.data.n_rows)
        rec.add("setup.build_s", time.perf_counter() - t0)
        # warm-up of the read-side calls; the build above warmed the
        # write path that compact reuses
        rec.tag("warmup")
        t0 = time.perf_counter()
        ingest_sketches(ctx, self.data)
        ingest_novel(ctx, self.data)
        rec.add("setup.warmup_s", time.perf_counter() - t0)

    @staticmethod
    def has_cycle(k: int) -> bool:
        return True

    def trace_samples(self, rec: Recorder) -> None:
        pass

    def cycle(self, ctx: Ctx, k: int) -> None:
        """Sketches and novelty over the index left by the previous
        cycle (or set-up), then delete + compact, then a full rebuild."""
        ingest_sketches(ctx, self.data)
        ingest_novel(ctx, self.data)
        ingest_compact(ctx, self.data, k)
        build_index(ctx, self.data.df, self.data.index, self.data.n_rows)

    def report(self, rec: Recorder) -> dict:
        s = rec.samples
        n = self.data.n_rows
        sketch = [sum(x) for x in zip(s["op.hll"], s["op.kll"], s["op.cms"],
                                      s["op.tdigest"])]
        return {
            "build_turns_per_s": _rate(n, s["op.build"], "turns/s"),
            "sketch_rows_per_s": _rate(4 * n, sketch, "rows/s"),
            "novel_turns_per_s": _rate(self.data.n_fresh, s["op.novel"],
                                       "turns/s"),
            "delete_compact_s": _pct(s["op.compact"], 50, "s"),
        }


# ---------------------------------------------------------------- search

class Search:
    def setup(self, ctx: Ctx) -> None:
        size = SIZES["search"]
        rec = ctx.rec
        t0 = time.perf_counter()
        table = gen.transcripts(ctx.rng, 0, ctx.convs(size["convs"]))
        src = stage(os.path.join(ctx.work, "search_src"), table)
        rec.add("setup.input_s", time.perf_counter() - t0)
        self.index = os.path.join(ctx.work, "search_index")
        self.df = ctx.spark.read.parquet(src)
        self.turns = table.num_rows
        self.input_bytes = tree_bytes(src)
        t0 = time.perf_counter()
        build_index(ctx, self.df, self.index, table.num_rows)
        rec.add("setup.build_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.reader = ctx.reader(self.index)
        rec.add("query.open_s", time.perf_counter() - t0)

        t0 = time.perf_counter()
        oracle = Oracle(os.path.join(src, "*.parquet"))
        try:
            maker = QueryMaker(ctx.rng, table, *oracle.word_rows())
            # query sets for the warm-up and more cycles than a run can
            # reach (a warm cycle takes well over a second)
            self.plan = [self._make_cycle(maker, size) for _ in
                         range(WARMUP_CYCLES + 1 + int(ctx.seconds))]
            flat = [q for c in self.plan for q in c["batch"]] + \
                [q for c in self.plan for kind, q in c["points"]
                 if kind == "search"]
            self.exact = oracle.containment(flat)
            gets = [q for c in self.plan for q in c["gets"]] + \
                [q for c in self.plan for kind, q in c["points"]
                 if kind == "get"]
            self.exact.update(oracle.same_token_set(
                [(q["qid"], *q["rec"]) for q in gets if q["kind"] == "hit"]))
            self.exact.update({q["qid"]: set() for q in gets
                               if q["kind"] == "miss"})
        finally:
            oracle.close()
        rec.add("setup.oracle_s", time.perf_counter() - t0)
        rec.tag("warmup")
        t0 = time.perf_counter()
        for _ in range(WARMUP_CYCLES):
            self.cycle(ctx, len(self.plan) - 1)
            self.plan.pop()
        rec.add("setup.warmup_s", time.perf_counter() - t0)

    @staticmethod
    def _make_cycle(maker: QueryMaker, size: dict) -> dict:
        per = size["batch"] // len(KINDS)
        batch = [maker.make(kind) for kind in KINDS for _ in range(per)]
        gets = [maker.get(hit=i % 4 != 3) for i in range(size["batch"])]
        points = []
        for i in range(size["points"]):
            if i % 2:
                points.append(("get", maker.get()))
            else:
                points.append(("search", maker.make(("needle", "mid")[i // 2
                                                                      % 2])))
        return {"batch": batch, "gets": gets, "points": points}

    def has_cycle(self, k: int) -> bool:
        return k < len(self.plan)

    def cycle(self, ctx: Ctx, k: int) -> None:
        rec, r, exact = ctx.rec, self.reader, self.exact
        plan = self.plan[k]
        qs = {q["qid"]: q["tokens"] for q in plan["batch"]}
        with rec.op("batch_search") as op:
            df = op.time("plan", lambda: r.search_many(qs))
            got = _by_query(op.time("exec", lambda: df.select(
                "query", *IDS).collect()))
            self._record_fp(rec, plan["batch"], got)
            miss = [q for q in qs if not exact[q] <= set(got.get(q, ()))]
            op.check(not miss, f"search_many false negatives in {miss}")
        with rec.op("batch_verified") as op:
            df = op.time("plan", lambda: r.search_verified_many(qs, self.df))
            got = _by_query(op.time("exec", lambda: df.select(
                "query", *IDS).collect()))
            wrong = [q for q in qs if sorted(got.get(q, ()))
                     != sorted(exact[q])]
            op.check(not wrong, f"search_verified_many wrong for {wrong}")
        gqs = {q["qid"]: q["tokens"] for q in plan["gets"]}
        with rec.op("batch_get") as op:
            df = op.time("plan", lambda: r.get_many(gqs))
            got = _by_query(op.time("exec", lambda: df.select(
                "query", *IDS).collect()))
            wrong = [q for q in gqs if sorted(got.get(q, ()))
                     != sorted(exact[q])]
            op.check(not wrong, f"get_many wrong for {wrong}")
        for kind, q in plan["points"]:
            call = r.search if kind == "search" else r.get
            with rec.op(kind) as op:
                df = op.time("plan", lambda: call(q["tokens"]))
                got = _ids(op.time("exec", lambda: df.select(
                    *IDS).collect()))
                want = exact[q["qid"]]
                op.check(want <= set(got) if kind == "search"
                         else sorted(got) == sorted(want),
                         f"{kind} {q['tokens'][:3]}: {len(got)} rows, "
                         f"exact {len(want)}")
                if kind == "search":
                    self._record_fp(rec, [q], {q["qid"]: got})

    def _record_fp(self, rec: Recorder, queries: list[dict],
                   got: dict[str, list]) -> None:
        for q in queries:
            rows = len(got.get(q["qid"], ()))
            rec.add("query.rows_returned", rows)
            rec.add("query.fp_rows", rows - len(self.exact[q["qid"]]))
            rec.add("query.candidates", self.turns
                    - len(self.exact[q["qid"]]))

    def trace_samples(self, rec: Recorder) -> None:
        """Pruning and false-positive figures, computed after the loop.
        The shards scanned ratio is the share of shards each containment
        query keeps after summary and token-gate pruning."""
        r = self.reader
        for c in self.plan:
            for q in c["batch"] + [q for k, q in c["points"]
                                   if k == "search"]:
                kept = r.prune_shards(r.query_bits(q["tokens"]), q["tokens"])
                rec.add(f"query.shards_scanned_ratio.{q['kind']}",
                        len(kept) / N_SHARDS)
        rec.add("query.probability", r.shape.probability)
        rec.add("query.fpr_observed", sum(rec.samples["query.fp_rows"])
                / max(1, sum(rec.samples["query.candidates"])))

    def report(self, rec: Recorder) -> dict:
        s = rec.samples
        b = SIZES["search"]["batch"]
        out = {
            "batch_search_qps": _rate(b, s["op.batch_search"], "queries/s"),
            "batch_verified_qps": _rate(b, s["op.batch_verified"],
                                        "queries/s"),
            "batch_get_qps": _rate(b, s["op.batch_get"], "queries/s"),
        }
        for kind in ("search", "get"):
            ms = [x * 1e3 for x in s[f"op.{kind}"]]
            out[f"{kind}_p50_ms"] = _pct(ms, 50, "ms")
            out[f"{kind}_p90_ms"] = _pct(ms, 90, "ms")
        return out


WORKLOADS = {"ingest": Ingest, "search": Search}


def _pct(xs: list, p: float, unit: str) -> dict:
    return {"value": float(np.percentile(xs, p)) if xs else float("nan"),
            "unit": unit, "n": len(xs)}


def _rate(items: float, secs: list, unit: str) -> dict:
    """``items`` per median second."""
    return {"value": items / float(np.median(secs)) if secs
            else float("nan"), "unit": unit, "n": len(secs)}
