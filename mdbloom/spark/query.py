"""Distributed Bloom index queries (`search` / `get` at scale).

Reference semantics (SURVEY §3.2-3.3):
  * ``search`` — containment: every stored filter with ALL query bits set
    (`ContainerImpl.java:155-182`); empty query matches everything;
  * ``get`` — bit-for-bit exact match; content addressing makes it a key
    equality lookup (`RangePacked.java:131-135`).

Query plan (steps 1-2 are ONE planner, ``BloomIndexReader._plan``, shared
by every search/get surface):
  1. query tokens -> bit positions, driver-side, with the hash backend the
     index was built with (config.json: jvm = xxhash64 mirror, python =
     md5; both enhanced double hashing), every token of a batch in one
     pass;
  2. **gate/summary pruning** (reference gate short-circuit,
     `ContainerImpl.java:171`): shards whose OR-summary lacks a query bit
     or whose token gate lacks a query token are never scanned. Two
     regimes: up to ``DRIVER_PRUNE_MAX_SHARDS`` manifest rows the manifest
     (one small row per shard) is collected once and pruned driver-side;
     past it, one distributed pass over the manifest parquet, after the
     manifest-tree descent (the Bloofi inner-node descent,
     `InnerNode.java:118-133`), prunes the whole batch;
  3. **slab scan** (`mapInPandas` over surviving slab chunks): AND the k
     query-bit rows per chunk, emit (shard, slot) hits
     (`FlatBloofi.java:188-205` word-parallel AND, whole chunks at a time);
  4. hits ⋈ slotmap -> keys; storage ⋈ keys (left-semi) -> values.

Every join key carries ``shard`` so the joins stay co-partitioned with the
Parquet partition layout; the hits side is tiny for selective queries and
broadcast-joins under AQE.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdbloom import bits as B
from mdbloom import kernel as K
from mdbloom.hashing import TokenMaskCache
from mdbloom.shape import Shape
from mdbloom.spark.build import IndexConfig

HIT_SCHEMA = "shard int, slot long"

# search_linear_many: max total word predicates for the SQL-text literal
# form (driver parse cost and task-binary size grow ~linearly with preds:
# ~1.5 s / ~1.1 MiB at 3.8k preds => ~12 s / ~9 MiB at 30k); the
# broadcast-join form pays a flat ~14 s extra exec at the measured
# point, so the crossover the two measurements imply is ~30k — larger
# batches switch to plans-as-data, whose plan is O(1) regardless of Q
SQL_LITERAL_MAX_PREDS = 30_000


def _sql_bigint(v: int) -> str:
    """Bigint literal for SQL text. Word masks use all 64 bits, so a mask
    whose only set bit is 63 is INT64_MIN — which has no direct literal
    (the parser sees unary minus on an overflowing positive)."""
    return "(-9223372036854775807L - 1L)" if v == -(2 ** 63) else f"{v}L"


def _escaped_name(name: str) -> str:
    """Query name -> SQL string-literal body, shared by EVERY literal
    plan builder so the strategies' escaping can never desynchronize.

    Spark SQL string literals process C-style escapes by default
    (spark.sql.parser.escapedStringLiterals=false), so a backslash in a
    query name would be escape-interpreted ('win\\path' -> 'winpath') —
    escape backslashes FIRST, then quotes; reject control characters
    the literal form cannot carry (the broadcast-join forms keep names
    verbatim, and the forms must stay bit-identical)."""
    if any(ord(c) < 0x20 for c in name):
        raise ValueError(
            f"query name {name!r} contains control characters")
    return name.replace("\\", "\\\\").replace("'", "\\'")


def _sql_int_array(xs) -> str:
    """array<int> literal; empty needs the cast (array() types as
    array<null>)."""
    xs = list(xs)
    return ("CAST(array() AS array<int>)" if not xs
            else "array(%s)" % ",".join(str(x) for x in xs))


def _plan_struct_sql(name: str, pairs: list[tuple[int, int]],
                     shards: list[int] | None = None) -> str:
    """One query plan as SQL text: named_struct('q', <name>, 'ps',
    [(word_idx, word_mask)...], 'sh', [shard...]). An empty pair list
    (match-all query) needs an explicit cast — ``array()`` alone types
    as array<null>. An empty/None shard list means "no restriction"
    (the query kept every shard), keeping the literal tiny in the
    common all-shards-survive case."""
    q = _escaped_name(name)
    sh = _sql_int_array(shards or [])
    if not pairs:
        return ("named_struct('q','%s','ps',"
                "CAST(array() AS array<struct<i:int,v:bigint>>),"
                "'sh',%s)" % (q, sh))
    ps = ",".join("named_struct('i',%d,'v',%s)" % (i, _sql_bigint(v))
                  for i, v in pairs)
    return "named_struct('q','%s','ps',array(%s),'sh',%s)" % (q, ps, sh)


def _plan_struct_sql_bits(name: str, bits: list[int],
                          shards: list[int] | None = None) -> str:
    """One slab-SQL query plan as SQL text: named_struct('q', <name>,
    'bs', [bit...], 'sh', [shard...]) — the bit-position form used by
    :meth:`BloomIndexReader.search_keys_slab_sql_many` (the slab kernel
    indexes bit ROWS, not (word, mask) pairs). Escaping and the
    empty-shard-list convention are shared with :func:`_plan_struct_sql`
    via :func:`_escaped_name` / :func:`_sql_int_array`."""
    return "named_struct('q','%s','bs',%s,'sh',%s)" % (
        _escaped_name(name), _sql_int_array(bits),
        _sql_int_array(shards or []))


def _hex_keys(blob: bytes | None) -> np.ndarray:
    """Every 16-byte content key embedded in a chunk's ``keys_blob`` as a
    numpy array of 32-char hex strings — one vectorized hexlify +
    frombuffer, NO per-slot Python slicing (VERDICT r2 item 4). Hex
    digits are never NUL, so the fixed-width S32 view is lossless."""
    import binascii
    if not blob:
        return np.empty(0, dtype="U32")
    return np.frombuffer(binascii.hexlify(blob), dtype="S32").astype("U32")


class BloomIndexReader:
    """Query surface over a built index dir (see `build.BloomIndexWriter`).

    Three physical containment-search strategies answer the same
    semantics bit-identically (contract-tested, including which Bloom
    false positives leak through). **Strategy selection:**

    * :meth:`search_slab_sql_many` — **default batched strategy**
      (VERDICT r4 item 3): same O(k·N/64) bit-sliced kernel evaluated as
      SQL higher-order functions, all-JVM, zero Arrow transfer — the
      only slab form with a demonstrated ≥0.8 N→4N scaling pair
      (0.86-0.90, BENCH.md). Pays a per-batch plan-analysis constant
      (~2s cold for a 20-query literal), amortized across a batch.
    * :meth:`search_keys_many`/NumPy slab (``via="slab"``) — the
      kernel-of-record: Arrow-batched bit-sliced NumPy kernel, lowest
      per-SINGLE-query constant; bounded by aggregate DRAM bandwidth
      (scaling pairs 0.35-0.56 on this host, hence not the batched
      default).
    * :meth:`search_linear_many` — tiny populations (≲10⁵ filters) or
      one-off queries: O(rows·k) JVM scan, no slab artifacts touched,
      cheapest plan to analyze.

    Every search surface (`search`, `search_many`, `search_rows`,
    `search_verified`, `search_verified_many`) takes ``via=`` to pick one
    explicitly and defaults to ``via="auto"``, which applies the table
    above mechanically (:meth:`choose_strategy`): linear for tiny
    populations, slab-SQL for batches, NumPy slab for large single
    interactive queries."""

    # auto strategy selection (VERDICT r3 item 7): below this many live
    # physical slots the O(rows·k) linear storage scan beats reading the
    # slab artifacts at all — measured regime from BENCH.md (the slab
    # paths win from ~10^5-10^6 filters up; linear's advantage is the
    # skipped artifact read + cheapest possible plan)
    LINEAR_MAX_SLOTS = 100_000

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        if os.path.isdir(os.path.join(path, "pending")):
            # sink-staged appends (df.write.format("mdbloom")) not yet
            # folded into the index: fold them now, distributed — the
            # sink's commit hook runs in a session-less plan worker and
            # cannot launch the build itself (see build.fold_pending)
            from mdbloom.spark.build import fold_pending
            fold_pending(spark, path)
        with open(os.path.join(path, "config.json")) as f:
            raw = f.read()
        ver = json.loads(raw).get("format_version")
        if ver != IndexConfig.FORMAT_VERSION:
            # a pre-current artifact dir would otherwise surface as obscure
            # downstream errors (missing tombstone columns, element_at on a
            # binary filter) — fail fast with the remedy instead (ADVICE r2)
            raise ValueError(
                f"index at {path} has on-disk format v{ver}; this reader "
                f"requires v{IndexConfig.FORMAT_VERSION} — rebuild the "
                "index (build() with the current config rewrites it; "
                "resume=True detects the config mismatch and forces a "
                "clean rebuild)")
        self.cfg = IndexConfig.from_json(raw)
        self.shape = self.cfg.shape
        if self.cfg.hash_backend == "jvm":
            from mdbloom.spark.jvm_hash import JvmTokenHasher
            self._jvm_hasher = JvmTokenHasher(spark)
            self._cache = None
            self._gate_cache = None
        else:
            self._jvm_hasher = None
            self._cache = TokenMaskCache(self.shape)
            self._gate_cache = TokenMaskCache(self.cfg.gate_shape)
        self._manifest: pd.DataFrame | None = None
        self._prune_state: tuple | None = None
        # snapshot caches: a reader pins the slab/storage FILE LISTING at
        # first access (three driver-side spark.read.parquet listings cost
        # ~2 s per query batch otherwise — the dominant SERIAL fraction of
        # batched-search latency, hence the measured scaling-efficiency
        # ceiling). Tombstones stay live (re-listed per call): remove()/
        # remove_exact() only append tombstones, so a long-lived reader
        # sees deletes immediately; slab/storage REWRITES (build/compact)
        # need a fresh reader — the snapshot-read semantics a real query
        # service wants anyway.
        self._slabs_df: DataFrame | None = None
        self._storage_base: DataFrame | None = None

    # ---------------- tables ----------------
    def _tombstones(self) -> DataFrame | None:
        """Deduped (shard, key, *id_columns) tombstone rows, or None."""
        tomb = os.path.join(self.path, "tombstones")
        if not os.path.exists(tomb):
            return None
        ids = list(self.cfg.id_columns)
        return (self.spark.read.parquet(tomb)
                .select("shard", "key", *ids)
                .dropDuplicates(["shard", "key", *ids]))

    def storage(self, keep_filter: bool = False) -> DataFrame:
        """Storage rows, minus any append-only tombstones (distributed
        `remove` / `remove_exact`: BloomIndexWriter). A tombstone names an
        exact (key, value) pair, so a value stored under a DIFFERENT
        filter survives — reference exact-match remove semantics. Until
        compaction, index slabs may still name tombstoned keys — those
        surface here as no rows, exactly like a Bloom false positive, so
        search soundness holds. ``keep_filter`` retains the stored
        filter-words column (used by :meth:`search_linear`)."""
        if self._storage_base is None:
            from mdbloom.spark.storage import storage_backend
            self._storage_base = storage_backend(
                self.cfg.storage_backend).read(self.spark, self.path)
        df = self._storage_base
        if "filter" in df.columns and not keep_filter:
            df = df.drop("filter")  # at-rest column for slab build / I1
        dead = self._tombstones()
        if dead is not None:
            # no broadcast hint: after a mass delete the tombstone set is
            # unbounded, and a forced broadcast could OOM the driver at
            # scale — AQE broadcasts it when (and only when) it measures
            # small at runtime (ADVICE r2)
            df = df.join(dead, ["shard", "key", *self.cfg.id_columns],
                         "left_anti")
        return df

    def slotmap(self) -> DataFrame:
        """(shard, slot, key) — DERIVED from the slab chunks' embedded
        key blobs (format v2 retired the physical slotmap table: one
        fewer full-data pass + partitioned write at build time). Slot
        ids are unique per shard; content-addressed keys carry all the
        semantics."""
        slabs = self.slabs().select("shard", "slot_lo", "n_slots",
                                    "keys_blob")

        def explode(iterator):
            # one vectorized hexlify per CHUNK (≤ chunk_slots keys), never
            # per-slot Python string slicing (VERDICT r2 item 4)
            for pdf in iterator:
                for shard, lo, n, blob in zip(
                        pdf["shard"], pdf["slot_lo"], pdf["n_slots"],
                        pdf["keys_blob"]):
                    n = int(n)
                    yield pd.DataFrame({
                        "shard": np.full(n, int(shard), dtype=np.int32),
                        "slot": int(lo) + np.arange(n),
                        "key": _hex_keys(blob)[:n],
                    })

        return slabs.mapInPandas(explode,
                                 schema="shard int, slot long, key string")

    def slabs(self) -> DataFrame:
        if self._slabs_df is None:
            self._slabs_df = self.spark.read.parquet(
                os.path.join(self.path, "slabs"))
        return self._slabs_df

    def manifest(self) -> pd.DataFrame:
        """Driver-resident pruning tree (one row per shard; tiny)."""
        if self._manifest is None:
            self._manifest = self.spark.read.parquet(
                os.path.join(self.path, "manifest")).toPandas()
        return self._manifest

    # ---------------- metrics (C5-C7, Container.java:38-57) ----------------
    def value_count(self) -> int:
        """Live stored values (`Container.getValueCount`,
        `ContainerImpl.java:96-99`): manifest total minus tombstoned
        (key, value) rows — exact between remove and compact."""
        n = int(self.manifest()["n_turns"].sum())
        dead = self._tombstones()
        if dead is not None:
            n -= dead.count()
        return n

    def metrics(self) -> DataFrame:
        """Per-partition lineage + metrics as a DataFrame (north rule):
        shard, rows, distinct filters, chunks, build_ms, fingerprint,
        token count, summary cardinality."""
        man = self.spark.read.parquet(os.path.join(self.path, "manifest"))
        return man.select(
            "shard", "n_turns", "n_slots", "n_chunks", "build_ms",
            "fingerprint", "n_tokens",
            F.length("summary").alias("summary_bytes"))

    def filter_count(self) -> int:
        """Live distinct filters (`Container.getFilterCount`): counted
        as GLOBALLY distinct content keys with >= 1 live value — exactly
        the reference's single-index semantics (identical filters dedup
        to one entry, `FlatBloofi.java:153-154`; an entry whose value
        list empties is dropped, `ContainerImpl.java:147-151`). Our
        shards are id-partitioned, so the same filter may hold a slot in
        several shards and the per-shard manifest slot sum would
        overcount; and the manifest is stale between remove and compact
        (VERDICT r1 item 5). One distinct-aggregate over the live
        storage keys answers both exactly."""
        return self.storage().select("key").distinct().count()

    def slot_count(self) -> int:
        """Physical slots across shard slabs (manifest sum; >=
        filter_count when a filter repeats across shards or tombstones
        are pending compaction)."""
        return int(self.manifest()["n_slots"].sum())

    # ---------------- planning ----------------
    def query_bits(self, tokens) -> np.ndarray:
        """Dimension tokens -> sorted distinct bit positions, using the
        SAME hashing the index was built with (recorded in config.json):
        jvm backend = xxhash64 mirror, python backend = md5 TokenMaskCache;
        both use enhanced double hashing."""
        if self._jvm_hasher is not None:
            return self._jvm_hasher.positions(list(tokens), self.shape)
        return self._cache.bit_positions_for(list(tokens))

    def _content_key(self, tokens) -> str:
        """Content key of the query's filter — what :meth:`get` matches
        stored keys against (`ContainerImpl.java:111-122`)."""
        if self._jvm_hasher is not None:
            return self._jvm_hasher.content_key(list(tokens), self.shape)
        return B.content_key(self._cache.filter_for(list(tokens)))

    def _gate_filter(self, tokens) -> np.ndarray:
        if self._jvm_hasher is not None:
            return self._jvm_hasher.packed_filter(list(tokens),
                                                  self.cfg.gate_shape)
        return self._gate_cache.filter_for(list(tokens))

    def transcript_query_tokens(self, role: str | None = None,
                                tool: str | None = None,
                                words: list | None = None) -> list[str]:
        """Build the tagged token list for a multidimensional membership
        question like "which shards may contain (role, tool, token)"."""
        toks = []
        if role is not None:
            toks.append(f"role={role}")
        if tool is not None:
            toks.append(f"tool={tool}")
        for w in words or []:
            toks.append(f"tok={w}")
        return toks

    def _prune_matrices(self):
        """Driver-resident pruning tree leaves, stacked once: (shards,
        summary matrix at container shape, token-gate matrix at gate
        shape)."""
        if self._prune_state is None:
            man = self.manifest()
            shards = man["shard"].to_numpy()
            summaries = np.stack(
                [np.frombuffer(b, dtype=B.U64) for b in man["summary"]])
            gates = None
            if "token_gate" in man.columns and man["token_gate"].notna().all():
                gates = np.stack(
                    [np.frombuffer(b, dtype=B.U64) for b in man["token_gate"]])
            self._prune_state = (shards, summaries, gates)
        return self._prune_state

    def prune_shards(self, qbits: np.ndarray,
                     tokens=None) -> list[int]:
        """Shards that can possibly match: the query bits must all be in
        the shard's OR-summary AND (when tokens are given) every query
        token must hit the shard's population-sized token gate — the
        distributed gate short-circuit (`ContainerImpl.java:115,171`)."""
        shards, summaries, gates = self._prune_matrices()
        keep = np.ones(len(shards), dtype=bool)
        if qbits.size:
            query = B.from_bits(qbits, self.shape.m)
            keep &= B.contains_words(summaries, *B.nonzero_words(query))
        if tokens and gates is not None:
            # sparse word test: the gate is population-sized (m ≈ 2²⁰),
            # so the dense N×W AND would stream ~33 MB per query — a
            # DRAM-bound 8 ms that dominated batched query PLANNING
            # (256-query plan loop: 4.5 s → ~0.1 s with the sparse form)
            gq = self._gate_filter(tokens)
            keep &= B.contains_words(gates, *B.nonzero_words(gq))
        return sorted(int(s) for s in shards[keep])

    def _node_gate_words(self, qid: str, m: int, k: int, qh, cache):
        """Sparse gate word test (indices, values) for one query at an
        ARBITRARY node gate shape — tree nodes are population-sized, so
        each may carry its own (m, k). Recomputed from the query's raw
        token hash pairs with the SAME per-backend math the build used
        (jvm: gate_positions_batch; python: km_positions_matrix), so the
        probe is bit-compatible with any node gate. Cached per
        (query, shape) across levels."""
        key = (qid, m, k)
        if key not in cache:
            h1s, h2s = qh
            shape = Shape.from_mk(m, k)
            if self._jvm_hasher is not None:
                from mdbloom.spark import jvm_hash as J
                pos = np.unique(
                    J.gate_positions_batch(h1s, h2s, shape).ravel())
            else:
                from mdbloom.hashing import km_positions_matrix
                pos = np.unique(km_positions_matrix(h1s, h2s,
                                                    shape).ravel())
            cache[key] = B.nonzero_words(B.from_bits(pos, m))
        return cache[key]

    # small tree levels read driver-side with pyarrow (a Spark job costs
    # ~0.2s in scheduling alone per level — 3 levels of that exceeded
    # the whole flat scan at 10^3 shards); big levels (the level-1 ring
    # of a 10^6-shard index can be GBs of node gates) keep the Spark
    # read with grp-range pushdown
    TREE_LEVEL_DRIVER_BYTES = 64 << 20

    def _read_level(self, level_dir: str, parents, G: int):
        """One tree level as pandas, restricted to surviving parents
        (``parents=None`` = unrestricted root read)."""
        size = sum(os.path.getsize(os.path.join(level_dir, f))
                   for f in os.listdir(level_dir)
                   if f.endswith(".parquet"))
        if size <= self.TREE_LEVEL_DRIVER_BYTES:
            import pyarrow.parquet as pq
            pdf = pq.read_table(level_dir).to_pandas()
            if parents is not None:
                if parents:
                    keep = np.isin(pdf["grp"].to_numpy() // G,
                                   np.asarray(parents, dtype=np.int64))
                    pdf = pdf[keep]
                else:
                    pdf = pdf.iloc[0:0]
            return pdf.reset_index(drop=True)
        df = self.spark.read.parquet(level_dir)
        if parents is not None:
            df = (df.where(F.expr(f"grp div {G}").isin(parents))
                  if parents else df.where(F.lit(False)))
        return df.toPandas()

    def _descend_tree(self, plans, qhashes: dict, tree_dir: str,
                      stats: dict):
        """Root→leaf descent over the hierarchical manifest tree
        (``manifest_tree/``, BloomIndexWriter._write_manifest_tree): at
        each level, test every plan's sparse summary words against the
        level's OR-folded group summaries AND every query token against
        the group's POPULATION-SIZED node gate, reading ONLY the rows
        whose parent survived some query — the Bloofi inner-node descent
        (`InnerNode.java:118-133`) over shard-group metadata.

        Returns {query id: set of surviving level-1 group ids}. SOUND
        for true containment: a group summary is the OR-superset of its
        members' summaries, and a node gate is built from the group's
        exact distinct token set (Bloom filters have no false
        negatives), so no group holding a true match is ever pruned. A
        node whose gate is NULL (population above tree_gate_max_m, or a
        pre-v8 summary-only tree) conservatively passes every gate
        test. Node gates MAY reject leaf-gate false positives — see
        prune_shards_many_distributed for the subset contract."""
        levels = sorted(int(d.split("=", 1)[1])
                        for d in os.listdir(tree_dir)
                        if d.startswith("level="))
        G = max(2, int(self.cfg.manifest_group_size))
        surv: dict = {qid: None for qid, *_ in plans}  # None = everything
        word_cache: dict = {}
        for lvl in reversed(levels):
            level_dir = os.path.join(tree_dir, f"level={lvl}")
            parents = (None if any(s is None for s in surv.values())
                       else sorted(set().union(*surv.values())))
            pdf = self._read_level(level_dir, parents, G)
            stats["tree_rows_read"] += len(pdf)
            if not len(pdf):
                return {qid: set() for qid, *_ in plans}
            grps = pdf["grp"].to_numpy()
            summaries = np.stack(
                [np.frombuffer(b, dtype=B.U64) for b in pdf["summary"]])
            # nodes grouped by gate shape (population-sized: each node
            # may carry its own m/k); NULL-gate nodes pass every test
            has_gate = pdf["token_gate"].notna().to_numpy()
            if "gate_m" in pdf.columns:
                has_gate &= pdf["gate_m"].notna().to_numpy()
            else:
                has_gate[:] = False  # pre-v8 tree: summary-only
            shape_groups = []
            if has_gate.any():
                by_shape: dict = {}
                ms, ks = pdf["gate_m"].to_numpy(), pdf["gate_k"].to_numpy()
                for i in np.flatnonzero(has_gate):
                    by_shape.setdefault(
                        (int(ms[i]), int(ks[i])), []).append(int(i))
                for (m, k), rows in by_shape.items():
                    gmat = np.stack(
                        [np.frombuffer(pdf["token_gate"].iloc[i],
                                       dtype=B.U64) for i in rows])
                    shape_groups.append((m, k, np.asarray(rows), gmat))
            new_surv = {}
            for qid, sidx, sval, gidx, gval in plans:
                keep = B.contains_words(summaries, sidx, sval)
                qh = qhashes.get(qid)
                if qh is not None and shape_groups:
                    gpass = np.ones(len(pdf), dtype=bool)
                    for m, k, rows, gmat in shape_groups:
                        widx, wval = self._node_gate_words(
                            qid, m, k, qh, word_cache)
                        gpass[rows] = B.contains_words(gmat, widx, wval)
                    keep &= gpass
                ks_surv = grps[keep]
                prev = surv[qid]
                if prev is not None:
                    parent_arr = (np.fromiter(prev, dtype=np.int64)
                                  if prev else np.array([], dtype=np.int64))
                    ks_surv = ks_surv[np.isin(ks_surv // G, parent_arr)]
                new_surv[qid] = set(int(g) for g in ks_surv)
            surv = new_surv
        stats["levels_descended"] = len(levels)
        return surv

    #: sentinel returned by :meth:`prune_shards_many_distributed` for a
    #: query whose surviving-shard list exceeded ``max_shards_per_query``
    #: (and by :meth:`_plan` also for match-all and survive-everywhere
    #: queries): "no shard restriction" — scan every shard. The
    #: same convention as the slab-SQL plan structs' empty ``sh`` array
    #: (sound superset: extra shards never change results, the slab scan
    #: re-checks every bit).
    ALL_SHARDS = "all"

    def prune_shards_many_distributed(self, queries: dict,
                                      use_tree: bool | None = None,
                                      return_stats: bool = False,
                                      max_shards_per_query: int = 65536):
        """Batched pruning over the manifest parquet: for Q queries at
        once, evaluate the SAME sparse summary + token-gate word tests
        as :meth:`prune_shards`, executor-side.

        This is the pruning path past driver-matrix scale (README "Sizing
        at 100 TB"): at ~10⁶ shards the manifest is a ~100 GB parquet
        table of gates — a table to scan in parallel, not a NumPy array
        to hold on the driver. The per-query sparse word plans are tiny
        (k·tokens words each) and ride a broadcast; the output (query id,
        surviving shard) is small by construction, so collecting it back
        for scan planning is safe. Reference frame: the gate short-
        circuit of `ContainerImpl.java:115,171` lifted to a distributed
        metadata scan.

        ``use_tree`` (default: auto — on when the index has a
        ``manifest_tree/``) first descends the hierarchical manifest
        tree (:meth:`_descend_tree`) and restricts the leaf scan to the
        union of surviving shard GROUPS, so a batch whose tokens are
        absent from whole groups never reads those groups' per-shard
        gates at all. SUBSET CONTRACT: the tree's population-sized node
        gates are exact supersets of TRUE token membership, so no shard
        containing a true match is ever lost — but they are SHARPER
        than the fixed-shape leaf gates, so a shard the flat scan keeps
        only via a leaf-gate false positive may be pruned. Tree results
        are therefore a sound subset of the flat results (equal up to
        leaf-gate FPs); verified/search answers are identical either
        way. ``return_stats=True`` additionally returns
        {levels_descended, tree_rows_read, leaf_rows_scanned}.

        ``queries`` maps query id -> token list (empty list = match-all,
        as in :meth:`prune_shards`). Returns {query id: sorted shard
        list}; with ``use_tree=False`` bit-identical to looping
        :meth:`prune_shards` when every manifest row carries a gate (a
        null-gate row conservatively passes the gate test for that shard
        alone, where the driver path disables the gate globally); with
        the tree, the sound subset per the contract above.

        DRIVER-MEMORY BOUND (VERDICT r4 item 4): the survivor set is
        aggregated executor-side and each query's list is truncated at
        ``max_shards_per_query`` BEFORE the collect, so the driver
        materializes at most Q·(cap+1) ints — never the worst-case Q·S
        (256 queries × 10⁶ shards) cross product. A query whose
        survivors exceed the cap maps to :data:`ALL_SHARDS` ("scan
        unpruned" — the sound superset: a query surviving in most
        shards gains nothing from pruning anyway, and consumers share
        the empty-``sh`` plan convention for exactly this case)."""
        import pandas as pd

        empty_idx = np.array([], dtype=np.int64)
        empty_val = np.array([], dtype=B.U64)
        plans = []
        qhashes: dict = {}  # raw token hash pairs, for tree node gates
        for qid, toks in queries.items():
            toks = list(toks)
            qbits = self.query_bits(toks)
            if qbits.size:
                sidx, sval = B.nonzero_words(B.from_bits(qbits, self.shape.m))
            else:
                sidx, sval = empty_idx, empty_val
            if toks:
                gidx, gval = B.nonzero_words(self._gate_filter(toks))
                if self._jvm_hasher is not None:
                    qhashes[str(qid)] = self._jvm_hasher.hash_pairs(toks)
                else:
                    from mdbloom.hashing import hash_unique_tokens
                    qhashes[str(qid)] = hash_unique_tokens(toks)
            else:
                gidx, gval = empty_idx, empty_val
                qhashes[str(qid)] = None
            plans.append((str(qid), sidx, sval, gidx, gval))
        man = self.spark.read.parquet(
            os.path.join(self.path, "manifest")).select(
            "shard", "summary", "token_gate")
        tree_dir = os.path.join(self.path, "manifest_tree")
        if use_tree is None:
            use_tree = os.path.isdir(tree_dir)
        stats = {"levels_descended": 0, "tree_rows_read": 0,
                 "leaf_rows_scanned": 0}
        if use_tree:
            G = max(2, int(self.cfg.manifest_group_size))
            surv = self._descend_tree(plans, qhashes, tree_dir, stats)
            union = sorted(set().union(*surv.values())) if surv else []
            man = (man.where(F.expr(f"shard div {G}").isin(union))
                   if union else man.where(F.lit(False)))
            # the leaf scan is restricted to the BATCH UNION of surviving
            # groups (one scan for all queries); the per-query average is
            # the planning bound a single query enjoys
            stats["per_query_leaf_rows_avg"] = (
                G * sum(len(s) for s in surv.values()) / max(1, len(surv)))
        if return_stats:
            stats["leaf_rows_scanned"] = man.count()
        bc = self.spark.sparkContext.broadcast(plans)

        def fn(pdfs):
            for pdf in pdfs:
                if not len(pdf):
                    continue
                summaries = np.stack(
                    [np.frombuffer(b, dtype=B.U64) for b in pdf["summary"]])
                has_gate = pdf["token_gate"].notna().to_numpy()
                gates = None
                if has_gate.any():
                    gw = len(np.frombuffer(
                        pdf["token_gate"][pdf.index[has_gate.argmax()]],
                        dtype=B.U64))
                    gates = np.zeros((len(pdf), gw), dtype=B.U64)
                    gates[has_gate] = np.stack(
                        [np.frombuffer(b, dtype=B.U64)
                         for b in pdf["token_gate"][has_gate]])
                shards = pdf["shard"].to_numpy()
                out_q, out_s = [], []
                for qid, sidx, sval, gidx, gval in bc.value:
                    keep = B.contains_words(summaries, sidx, sval)
                    if gates is not None and gidx.size:
                        gk = B.contains_words(gates, gidx, gval)
                        # a shard without a gate cannot be gate-pruned
                        keep &= gk | ~has_gate
                    ks = shards[keep]
                    out_q.extend([qid] * len(ks))
                    out_s.extend(int(s) for s in ks)
                yield pd.DataFrame({"query_id": out_q, "shard": out_s})

        cap = int(max_shards_per_query)
        # ONE aggregate pass, truncated executor-side: collect_set holds
        # at most a shard-count-bounded set per query inside its task
        # (narrow ints, partitioned by query hash), and slice() drops
        # everything past cap+1 BEFORE rows travel to the driver — the
        # driver round-trip is Q rows × ≤(cap+1) ints, not Q×S pairs.
        rows = (man.mapInPandas(fn, "query_id string, shard int")
                .groupBy("query_id")
                .agg(F.slice(F.sort_array(F.collect_set("shard")),
                             1, cap + 1).alias("shards"))
                .collect())
        by_str = {str(qid): qid for qid in queries}
        result: dict = {qid: [] for qid in queries}
        for r in rows:
            qid = by_str[r.query_id]
            result[qid] = (self.ALL_SHARDS if len(r.shards) > cap
                           else list(r.shards))
        return (result, stats) if return_stats else result

    # ---------------- search ----------------
    def search_keys(self, tokens) -> DataFrame:
        """Containment search -> DataFrame (shard, slot, key) of candidate
        index entries."""
        qbits, shards = self._plan({"q": list(tokens)})["q"]
        slotmap = self.slotmap()
        if not shards:
            return slotmap.where(F.lit(False))
        if qbits.size == 0:
            # empty query matches everything (ContainerImpl.java:159-169)
            return slotmap
        m = self.shape.m
        qbits_l = qbits.tolist()
        slabs = self._where_shards(self.slabs(), shards)

        def scan(iterator):
            qb = np.asarray(qbits_l, dtype=np.int64)
            for pdf in iterator:
                outs = []
                for _, row in pdf.iterrows():
                    slab = np.ascontiguousarray(
                        row["slab"], dtype=np.int64).view(B.U64) \
                        .reshape(m, -1)
                    hits = K.query_slab(slab, qb, int(row["n_slots"]))
                    if hits.size:
                        blob = row["keys_blob"]
                        if blob is None:  # mixed-format artifact
                            raise ValueError(
                                "slab row lacks keys_blob: index mixes "
                                "on-disk formats; rebuild (resume "
                                "forces this via config format_version)")
                        outs.append(pd.DataFrame({
                            "shard": int(row["shard"]),
                            "slot": hits + int(row["slot_lo"]),
                            "key": _hex_keys(blob)[hits],
                        }))
                if outs:
                    yield pd.concat(outs)

        # chunk rows embed their slot keys (one fixed-width blob): the
        # scan resolves slot -> key locally, no slotmap join. Format v3+
        # always embeds keys_blob and __init__ rejects older artifacts,
        # so there is no fallback path.
        return slabs.mapInPandas(scan, schema=HIT_SCHEMA + ", key string")

    #: manifest row count above which :meth:`_plan` switches from the
    #: driver-matrix prune loop to the DISTRIBUTED planner
    #: (:meth:`prune_shards_many_distributed`) — past this, the manifest
    #: is a table to scan in parallel, not a NumPy array to hold on the
    #: driver (README "Sizing at 100 TB": ~10⁶ shards ≈ a 100 GB gate
    #: table). Tests force the distributed path by lowering it.
    DRIVER_PRUNE_MAX_SHARDS = 65536

    def _manifest_row_count(self) -> int:
        """Manifest shard count from parquet FOOTER metadata only —
        O(files) driver-side, no Spark job, no manifest read — so the
        planner-path decision itself never costs data-scale work."""
        if getattr(self, "_n_manifest_rows", None) is None:
            import glob

            import pyarrow.parquet as _pq
            # footer num_rows only; skip Spark's _SUCCESS/_committed
            # markers (a bare pyarrow dataset scan chokes on them)
            self._n_manifest_rows = sum(
                _pq.ParquetFile(f).metadata.num_rows
                for f in glob.glob(os.path.join(self.path, "manifest",
                                                "*.parquet")))
        return self._n_manifest_rows

    def _plan(self, queries: dict) -> dict:
        """The shard planner behind EVERY planned read surface (search,
        get, their batched forms, and remove_exact through get):
        ``{name: [tokens...]}`` -> ``{name: (qbits, shards)}``.

        Every token of the batch is hashed in ONE pass, then the
        planner regime is picked once per batch (VERDICT r4 item 4): up
        to :data:`DRIVER_PRUNE_MAX_SHARDS` manifest rows the
        driver-matrix prune loop (:meth:`prune_shards`, O(ms), zero
        jobs); past it, ONE distributed planning pass
        (:meth:`prune_shards_many_distributed`) with bounded driver
        memory. ``shards`` has one encoding in both regimes:

        * :data:`ALL_SHARDS` — scan without a shard restriction: a
          match-all empty query (``qbits.size == 0``,
          `ContainerImpl.java:159-169`), a query surviving in every
          manifest shard, or over-cap survivors;
        * a sorted shard list — scan only these; empty for a definite
          miss (the gate short-circuit, `ContainerImpl.java:115,171`).

        One planner keeps the strategies' pruning — and therefore their
        bit-identity contract — impossible to desynchronize."""
        if self._jvm_hasher is not None:
            self._jvm_hasher._ensure(
                {t for toks in queries.values() for t in toks})
        qbits = {name: self.query_bits(toks)
                 for name, toks in queries.items()}
        todo = {name: list(toks) for name, toks in queries.items()
                if qbits[name].size}
        n = self._manifest_row_count()
        if n > self.DRIVER_PRUNE_MAX_SHARDS:
            pruned = self.prune_shards_many_distributed(todo) if todo else {}
        else:
            pruned = {name: self.prune_shards(qbits[name], toks)
                      for name, toks in todo.items()}
        out = {}
        for name, qb in qbits.items():
            shards = pruned.get(name, self.ALL_SHARDS)  # absent: match-all
            if shards is not self.ALL_SHARDS and 0 < len(shards) == n:
                shards = self.ALL_SHARDS
            out[name] = (qb, shards)
        return out

    def _where_shards(self, df: DataFrame, shards) -> DataFrame:
        """Apply a shard restriction unless it is the no-restriction
        sentinel (the unpruned scan IS the intended plan then)."""
        if shards is self.ALL_SHARDS:
            return df
        return df.where(F.col("shard").isin(
            [int(s) for s in shards]))

    def _union_shards(self, shard_sets):
        """One scan restriction covering several plans' shard sets:
        :data:`ALL_SHARDS` if any plan is unrestricted, else the sorted
        union."""
        union: set[int] = set()
        for shards in shard_sets:
            if shards is self.ALL_SHARDS:
                return self.ALL_SHARDS
            union.update(shards)
        return sorted(union)

    def _match_all_keys(self, names: list) -> DataFrame:
        """(query, shard, slot, key) for match-all (empty) queries: every
        slot, once per name — answered from the slotmap, never the slab
        kernel (`ContainerImpl.java:159-169`)."""
        slotmap = self.slotmap()
        out = (slotmap.where(F.lit(False)).withColumn("query", F.lit(""))
               .select("query", "shard", "slot", "key"))
        for name in names:
            out = out.unionByName(slotmap.withColumn("query", F.lit(name))
                                  .select("query", "shard", "slot", "key"))
        return out

    def search_keys_many(self, queries: dict) -> DataFrame:
        """Batched containment search: ``{name: [tokens...]}`` -> one slab
        scan emitting (query, shard, slot, key) for every query at once.

        This is the throughput shape for membership workloads: Q queries
        share one Spark job (one slab read, one slotmap join) instead of Q
        job chains — per-query latency amortizes to ~zero. Per-query shard
        pruning still applies inside the scan via a broadcast plan."""
        plans = {}
        match_all: list[str] = []
        for name, (qbits, shards) in self._plan(queries).items():
            if qbits.size == 0:
                match_all.append(name)  # empty query matches everything
            elif shards:  # else pruned to zero shards: definite miss
                plans[name] = (qbits.tolist(), shards)
        all_part = self._match_all_keys(match_all)
        if not plans:
            return all_part
        m = self.shape.m
        # per-shard batched plan: the queries that survived pruning for
        # shard s, as ONE concatenated bit array + reduceat offsets, so
        # the executor evaluates all of them with a single vectorized
        # kernel call per slab chunk instead of a Python loop over Q.
        # UNPRUNED queries (surviving in every shard — broad tokens) are
        # hoisted into ONE shared "global" plan instead of appearing in
        # every shard's entry list: the driver/broadcast structure is
        # O(pruned pairs + global queries), never the Q×S cross product
        # (VERDICT r4 item 4 — same compression the slab-SQL strategy's
        # empty-``sh`` plan structs use).
        global_entries: list[tuple] = []
        shard_entries: dict[int, list] = {}
        for name, (qb, shards) in plans.items():
            if shards is self.ALL_SHARDS:
                global_entries.append((name, qb))
            else:
                for s in shards:
                    shard_entries.setdefault(s, []).append((name, qb))

        def _pack(entries):
            offs, concat = [], []
            for _, qb in entries:
                offs.append(len(concat))
                concat.extend(qb)
            return ([n for n, _ in entries], concat, offs)

        shard_plans = {s: _pack(e) for s, e in shard_entries.items()}
        global_plan = _pack(global_entries) if global_entries else None
        slabs = self._where_shards(
            self.slabs(), self._union_shards(sh for _, sh in plans.values()))

        def scan(iterator):
            def _arr(p):
                names, concat, offs = p
                return (np.asarray(names, dtype=object),
                        np.asarray(concat, dtype=np.int64),
                        np.asarray(offs, dtype=np.int64))
            cache = {s: _arr(p) for s, p in shard_plans.items()}
            gplan = _arr(global_plan) if global_plan else None
            for pdf in iterator:
                outs = []
                for _, row in pdf.iterrows():
                    chunk_plans = []
                    p = cache.get(int(row["shard"]))
                    if p is not None:
                        chunk_plans.append(p)
                    if gplan is not None:
                        chunk_plans.append(gplan)
                    if not chunk_plans:
                        continue
                    slab = np.ascontiguousarray(
                        row["slab"], dtype=np.int64).view(B.U64) \
                        .reshape(m, -1)
                    blob = row["keys_blob"]
                    for names_arr, concat, offs in chunk_plans:
                        q_idx, slots = K.query_slab_batch(
                            slab, concat, offs, int(row["n_slots"]))
                        if q_idx.size == 0:
                            continue
                        if blob is None:  # mixed-format artifact
                            raise ValueError(
                                "slab row lacks keys_blob: index "
                                "mixes on-disk formats; rebuild "
                                "(resume forces this via config "
                                "format_version)")
                        outs.append(pd.DataFrame({
                            "query": names_arr[q_idx],
                            "shard": int(row["shard"]),
                            "slot": slots + int(row["slot_lo"]),
                            "key": _hex_keys(blob)[slots],
                        }))
                if outs:
                    yield pd.concat(outs)

        # format v3+ always embeds keys_blob (__init__ rejects older
        # artifacts) — keys resolve in-scan, no slotmap-join fallback
        joined = slabs.mapInPandas(
            scan, schema="query string, shard int, slot long, key string")
        return joined.unionByName(all_part) if match_all else joined

    def search_many(self, queries: dict, via: str = "auto") -> DataFrame:
        """Batched search -> storage rows tagged by query name.

        ``via="auto"`` (default) applies :meth:`choose_strategy` with the
        batch width — for populations past the linear regime that is the
        all-JVM **slab-SQL** strategy (VERDICT r4 item 3: the slab form
        with the ≥0.8 scaling pairs). ``via="slab"`` forces the NumPy
        kernel-of-record path; ``via="linear"``/``via="slab_sql"`` force
        the others. All three return identical rows (contract-tested) in
        one column order: ``query``, then the storage columns.

        shuffle_hash hint (slab paths): both join sides are millions of
        narrow rows for broad query batches — a hash join skips the two
        full sorts an SMJ would pay (AQE still downgrades to broadcast
        when the key side is tiny)."""
        via = self._resolve_via(via, len(queries))
        if via == "linear":
            return self.search_linear_many(queries)
        if via == "slab_sql":
            return self.search_slab_sql_many(queries)
        return self._rows_for_keys(self.search_keys_many(queries))

    def _rows_for_keys(self, keys: DataFrame) -> DataFrame:
        """(query, shard, slot, key) slab hits -> (query, <storage rows>),
        the column order :meth:`search_linear_many` returns.

        A filter stored under several ids can occupy several slots (the
        slab pass dedups keys only within a task's buffer — cross-batch/
        task duplicates are data-dependent); the reference keeps ONE
        index entry per distinct filter (FlatBloofi.java:153-154), so
        dedup by key before the inner join or every extra slot would
        duplicate each matching storage row."""
        storage = self.storage()
        keys = (keys.select("query", "shard", "key")
                .dropDuplicates(["query", "shard", "key"]))
        return (storage.join(keys.hint("shuffle_hash"), ["shard", "key"],
                             "inner")
                .select("query", *storage.columns))

    def search(self, tokens, via: str = "auto") -> DataFrame:
        """Containment search -> storage rows (shard, key, <ids>,
        <payload>): values whose filter has all query bits (may include
        Bloom false positives at the Shape's designed rate).

        ``via`` as in :meth:`search_many`: ``"linear"`` runs
        :meth:`search_linear`, ``"slab_sql"`` :meth:`search_slab_sql`,
        ``"slab"`` the NumPy slab scan below, and ``"auto"`` (default)
        picks by :meth:`choose_strategy`.

        Slab path, no join hint: AQE sizes the hit set at runtime and
        broadcasts it when small (a selective query then touches storage
        with ZERO shuffle — the 100 TB shape), falling back to a shuffled
        hash join only when the hit set is genuinely broad. The batched
        search_many path, broad by construction, keeps an explicit
        shuffle_hash hint instead."""
        via = self._resolve_via(via)
        if via == "linear":
            return self.search_linear(tokens)
        if via == "slab_sql":
            return self.search_slab_sql(tokens)
        keys = self.search_keys(tokens).select("shard", "key")
        return self.storage().join(keys, ["shard", "key"], "left_semi")

    def search_linear(self, tokens) -> DataFrame:
        """Distributed Linear (I1) containment scan — `Linear.java:134-140`
        re-expressed as a pure Spark SQL predicate over the stored filter
        words: for every nonzero query word w,
        ``(filter[w] & qword) == qword``. Zero Python, whole-stage
        codegen, touches only the storage table (no slab artifacts).
        Complements the bit-sliced slab path: the slab wins when the
        index is far smaller than storage and many queries batch
        (O(k·N/64) word-ANDs, amortized scans); this path wins for
        one-off scans, JVM-only deployments, or hosts where parallel
        Python/NumPy is bandwidth-capped — and doubles as an independent
        implementation for cross-checking results (strategy-equivalence
        test at Spark scale). Same driver-side gate pruning as
        :meth:`search`; same output rows."""
        qbits, shards = self._plan({"q": list(tokens)})["q"]
        df = self.storage(keep_filter=True)
        if not shards:
            return df.where(F.lit(False)).drop("filter")
        qwords = B.from_bits(qbits, self.shape.m).view(np.int64)
        # empty query: no word predicate, so every row matches
        cond = F.lit(True)
        for w in np.flatnonzero(qwords != 0):
            mask = int(qwords[w])
            cond = cond & (F.element_at("filter", int(w) + 1)
                           .bitwiseAND(F.lit(mask)) == F.lit(mask))
        return self._where_shards(df, shards).where(cond).drop("filter")

    def search_linear_many(self, queries: dict) -> DataFrame:
        """Batched distributed Linear (I1): ``{name: [tokens...]}`` ->
        (query, <storage rows>) for EVERY query in ONE all-JVM pass over
        the storage table — the reference's per-entry
        ``stored.contains(query)`` scan (`Linear.java:134-140`) amortized
        over Q queries.

        Two JVM-only physical forms, chosen by batch size (measured at
        4M rows x 256 queries, 8 pinned cores):

        * **SQL-text literal + higher-order forall** (default): the Q
          plans ride as ONE literal array of (name, [(idx, mask)...])
          structs and a ``filter``/``forall`` keeps the names whose
          every nonzero word satisfies ``(filter[idx] & mask) == mask``,
          short-circuiting on the first miss. The whole literal is
          rendered as a single SQL string and parsed JVM-side by one
          ``F.expr`` call — building the same tree through the Column
          API costs ~14 s of py4j round-trips at 256 queries (a fixed
          DRIVER cost that wrecked N-vs-4N scaling), vs ~1.5 s to parse
          the text. Exec: 22.6 s. (A per-query whole-stage-codegen
          when-chain was tried and retired: at thousands of predicates
          the generated method exceeds the JIT's size threshold and
          runs as interpreted bytecode — 62–68 s, 3× slower than the
          interpreted-but-tight forall loop.)
        * **plans-as-data broadcast join** (very large batches, total
          preds > ``SQL_LITERAL_MAX_PREDS``): the plans become a tiny
          broadcast DataFrame and the same forall predicate is the join
          condition — O(1) plan/task-binary size at any Q, ~1.7× the
          per-row cost (37 s vs 22.6 s at the measured point).

        Zero Python, zero extra artifact reads (the scan IS storage):
        matching rows explode their matched names in place.
        Register-resident JVM compute — the scaling-evidence path when
        parallel NumPy/DRAM is the host bottleneck (VERDICT r2 item 1).
        Driver-side gate pruning restricts the scan to the union of the
        per-query shard sets, and each plan CARRIES its own shard set so
        the predicate applies the same per-query pruning the slab path
        applies inside its scan — the two strategies are bit-identical,
        including which Bloom false positives leak through (without the
        per-query restriction, a query evaluated in a shard its token
        gate had pruned could emit an m-space-FP row the slab path
        excludes; true matches were never affected — a real match's
        tokens are in the shard, so its gate bits are set). A query that
        keeps EVERY shard ships an empty shard array ("no restriction"),
        so the common case adds ~nothing to the literal. Empty queries
        match everything (`ContainerImpl.java:159-169`): an empty pair
        list makes ``forall`` vacuously true."""
        m = self.shape.m
        plans: list[tuple[str, list[tuple[int, int]], list[int]]] = []
        for name, (qbits, shards) in self._plan(queries).items():
            if not shards:
                continue  # pruned to zero shards: definite miss
            # an empty pair list (match-all) makes forall vacuously true
            qwords = B.from_bits(qbits, m).view(np.int64)
            pairs = [(int(w) + 1, int(qwords[w]))
                     for w in np.flatnonzero(qwords != 0)]
            # [] = no per-query shard restriction
            plans.append((name, pairs,
                          [] if shards is self.ALL_SHARDS else shards))
        df = self.storage(keep_filter=True)
        out_cols = [c for c in df.columns if c != "filter"]
        if not plans:
            # same (query, *storage) column ORDER as the non-empty paths —
            # callers unioning batches must not depend on data content
            return (df.where(F.lit(False))
                    .withColumn("query", F.lit(""))
                    .select("query", *out_cols))
        df = self._where_shards(df, self._union_shards(
            sh or self.ALL_SHARDS for _, _, sh in plans))
        n_preds = sum(len(p) for _, p, _ in plans)
        if n_preds > SQL_LITERAL_MAX_PREDS:
            # plans-as-data broadcast join: O(1) plan size at any Q
            qdf = self.spark.createDataFrame(
                plans,
                "query string, ps array<struct<i:int,v:bigint>>, "
                "sh array<int>")
            cond = ((F.size(F.col("sh")) == 0)
                    | F.array_contains(F.col("sh"), F.col("shard"))) \
                & F.forall("ps", lambda p: F.element_at(
                    F.col("filter"), p["i"]).bitwiseAND(p["v"]) == p["v"])
            return (df.join(F.broadcast(qdf), cond)
                    .select("query", *out_cols))
        # SQL-text literal + forall, one JVM-side parse
        matched = F.expr(
            "transform(filter(array(%s), s -> (size(s.sh) = 0 or "
            "array_contains(s.sh, shard)) and forall(s.ps, "
            "p -> (element_at(`filter`, p.i) & p.v) = p.v)), s -> s.q)"
            % ",".join(_plan_struct_sql(name, pairs, sh)
                       for name, pairs, sh in plans))
        return (df.withColumn("query", F.explode(matched))
                .select("query", *out_cols))

    # ---------------- slab containment, all-JVM (third strategy) -------
    @staticmethod
    def _slab_hits_sql(bs: str, q: str, m: int) -> str:
        """SQL text for one plan's hits over a slab chunk row: the
        FlatBloofi word-AND (`FlatBloofi.java:188-205`) as a pure Spark
        SQL expression. ``bs``/``q`` are accessor texts for the plan's
        bit array and name (literal-struct field or joined column).

        Shape of the expression, inside out:
        * ``W = size(slab) div m`` — words per bit row (chunk-local);
        * words ``ws[j] = AND over query bits b of slab[b*W + j]`` —
          k element_ats per word, the bit-sliced kernel itself;
        * ``transform(array(ws), ...)[1]`` — the single-element-array
          let-binding idiom, so the W-word AND runs ONCE, not once per
          emitted slot;
        * set-bit expansion ``j*64 + t`` for every t with bit t of
          ws[j] set (LSB-first, matching the NumPy kernel's
          little-endian packbits layout);
        * each slot resolves its key in place from the embedded
          ``keys_blob`` (16 bytes at slot*16), exactly like the Arrow
          scan — ``lower(hex(...))`` matches the lowercase hex keys.

        Rows beyond ``n_slots`` can never emit: build never sets their
        bits, and a query with no bits never reaches this path
        (match-all is answered from the slotmap, as in
        search_keys_many).

        Two constant-shaves (r3 review): the words-per-row ``W`` is a
        precomputed per-row column (``__W``, added by the callers) — the
        old inline ``CAST(size(slab) div m AS int)`` re-evaluated its
        expression tree for every (plan, word, bit) element_at index,
        i.e. O(Q·k·W) times per chunk row — and the per-word AND
        short-circuits once the accumulator hits 0 (most (plan, word)
        pairs miss after 2-3 bits; skipping the remaining element_ats
        avoids the index arithmetic + array probe for dead words)."""
        W = "__W"
        words = (f"transform(sequence(0, {W} - 1), j -> "
                 f"aggregate({bs}, -1L, (a, b) -> "
                 f"if(a = 0, 0L, a & element_at(slab, b * {W} + j + 1))))")
        # zero-word guard: most (plan, chunk) pairs miss, and without the
        # if() the expansion would run 64 bit-test lambdas per word even
        # when the AND already produced 0 — measured ~2x the whole
        # strategy's constant at 4M x 256 queries (BENCH.md)
        slots = (f"element_at(transform(array({words}), ws -> "
                 f"flatten(transform(sequence(0, {W} - 1), j -> "
                 f"if(element_at(ws, j + 1) = 0, "
                 f"CAST(array() AS array<int>), "
                 f"transform(filter(sequence(0, 63), t -> "
                 f"(shiftright(element_at(ws, j + 1), t) & 1) = 1), "
                 f"t -> j * 64 + t))))), 1)")
        return (f"transform({slots}, sl -> named_struct("
                f"'query', {q}, "
                f"'slot', slot_lo + CAST(sl AS bigint), "
                f"'key', lower(hex(substring(keys_blob, sl * 16 + 1, "
                f"16)))))")

    def search_keys_slab_sql_many(self, queries: dict) -> DataFrame:
        """Batched containment search over the SLAB artifacts with the
        entire bit-sliced kernel evaluated JVM-side — the third physical
        strategy for the same semantics (slab/NumPy `search_keys_many`,
        linear `search_linear_many`), bit-identical output (query, shard,
        slot, key) including which Bloom false positives leak through.

        Why it exists (scale story): the NumPy slab kernel is aggregate-
        memory-bandwidth-bound (BENCH.md: parallel-DRAM ceiling 0.45-0.48
        on this host class), while the linear JVM scan pays O(rows·k)
        work. This path keeps the slab's O(k·N/64) word-AND complexity —
        64× less compute than linear — AND stays on the JVM (no Arrow
        transfer of slab bytes to Python at all), so it inherits the
        JVM paths' measured 0.67-0.90 scaling. (Higher-order-function
        lambdas evaluate *interpreted* on the JVM — tight and scalable,
        but NOT whole-stage codegen; only plain expression pipelines
        like the linear scan's element_at conjunction get codegen'd.)
        Per-query driver-side
        gate pruning is identical to the other strategies: each plan
        carries its shard set and the scan is restricted to the union.

        Physical form mirrors :meth:`search_linear_many`: plans ride as
        ONE SQL-text literal parsed JVM-side (py4j-free), falling back to
        a plans-as-data broadcast join above ``SQL_LITERAL_MAX_PREDS``
        total query bits."""
        m = self.shape.m
        plans: list[tuple[str, list[int], list[int]]] = []
        match_all: list[str] = []
        for name, (qbits, shards) in self._plan(queries).items():
            if qbits.size == 0:
                match_all.append(name)
            elif shards:  # else pruned to zero shards: definite miss
                # empty sh = no shard restriction
                plans.append((name, [int(b) for b in qbits],
                              [] if shards is self.ALL_SHARDS else shards))
        all_part = self._match_all_keys(match_all)
        if not plans:
            return all_part
        slabs = self._where_shards(self.slabs(), self._union_shards(
            sh or self.ALL_SHARDS for _, _, sh in plans))
        # per-row words-per-bit-row, hoisted for _slab_hits_sql;
        # CAST to int: `div` yields BIGINT, which would poison
        # sequence() elements and element_at() indices
        slabs = slabs.withColumn(
            "__W", F.expr(f"CAST(size(slab) div {m} AS int)"))
        n_bits = sum(len(bs) for _, bs, _ in plans)
        if n_bits > SQL_LITERAL_MAX_PREDS:
            # plans-as-data broadcast join: O(1) plan size at any Q
            qdf = self.spark.createDataFrame(
                plans, "query string, bs array<int>, sh array<int>")
            cond = ((F.size(F.col("sh")) == 0)
                    | F.array_contains(F.col("sh"), F.col("shard")))
            hits = self._slab_hits_sql("bs", "query", m)
            joined = (slabs.join(F.broadcast(qdf), cond)
                      .selectExpr("shard", f"inline({hits})"))
        else:
            structs = ",".join(
                _plan_struct_sql_bits(name, bs, sh)
                for name, bs, sh in plans)
            hits = self._slab_hits_sql("s.bs", "s.q", m)
            expr = (f"inline(flatten(transform(filter(array({structs}), "
                    f"s -> size(s.sh) = 0 or array_contains(s.sh, shard)), "
                    f"s -> {hits})))")
            joined = slabs.selectExpr("shard", expr)
        out = joined.select("query", "shard", "slot", "key")
        return out.unionByName(all_part) if match_all else out

    def search_slab_sql_many(self, queries: dict) -> DataFrame:
        """Batched all-JVM slab search -> storage rows tagged by query
        (the :meth:`search_many` contract on the
        :meth:`search_keys_slab_sql_many` strategy)."""
        return self._rows_for_keys(self.search_keys_slab_sql_many(queries))

    def search_slab_sql(self, tokens) -> DataFrame:
        """Single-query form: storage rows whose filter contains the query
        bits, evaluated by the all-JVM slab kernel. Same rows as
        :meth:`search` / :meth:`search_linear`."""
        keys = (self.search_keys_slab_sql_many({"q": list(tokens)})
                .select("shard", "key"))
        return self.storage().join(keys, ["shard", "key"], "left_semi")

    def choose_strategy(self, n_queries: int = 1) -> str:
        """Mechanical strategy selection for ``via="auto"`` — the
        measured regimes from BENCH.md as code, so a user gets the right
        physical plan without reading the bench notes (all three return
        bit-identical rows, so this is purely a cost decision):

        ======================  ============  =============================
        condition               choice        why (BENCH.md regime)
        ======================  ============  =============================
        live slots ≤ 10⁵        ``linear``    O(rows·k) storage scan beats
                                              touching slab artifacts at
                                              tiny populations / one-offs
        else, n_queries > 1     ``slab_sql``  the batched DEFAULT (VERDICT
                                              r4 item 3): same O(k·N/64)
                                              kernel, all-JVM, zero Arrow
                                              transfer — the slab form
                                              with the ≥0.8 N→4N scaling
                                              pairs (0.86-0.90); its
                                              per-batch plan constant
                                              amortizes across the batch
                                              (1.4-3.8x faster than
                                              linear on 32-query batches
                                              at 2·10⁵-10⁶ turns)
        else                    ``slab``      NumPy bit-sliced kernel
                                              (kernel-of-record), lowest
                                              single-query constant
        ======================  ============  =============================
        """
        if self.slot_count() <= self.LINEAR_MAX_SLOTS:
            return "linear"
        if n_queries > 1:
            return "slab_sql"
        return "slab"

    def _resolve_via(self, via: str, n_queries: int = 1) -> str:
        if via == "auto":
            return self.choose_strategy(n_queries)
        if via not in ("slab", "linear", "slab_sql"):
            raise ValueError(
                f"unknown strategy {via!r}: expected 'slab', 'linear', "
                "'slab_sql' or 'auto'")
        return via

    def search_rows(self, tokens, source_df: DataFrame,
                    via: str = "auto") -> DataFrame:
        """Search and join back to the original table on the id columns;
        ``via`` as in :meth:`search`."""
        id_cols = list(self.cfg.id_columns)
        hits = (self.search(tokens, via).select(*id_cols)
                .dropDuplicates(id_cols))
        return source_df.join(hits, id_cols, "left_semi")

    def search_verified(self, tokens, source_df: DataFrame,
                        via: str = "auto") -> DataFrame:
        """Search, then post-verify exact containment of every token in the
        source row — removes Bloom false positives, giving exact results
        (the pattern FIXTURES §5 uses for DuckDB-checkable oracles)."""
        out = self.search_rows(tokens, source_df, via=via)
        cfg = self.cfg
        for tok in tokens:
            tag, _, val = tok.partition("=")
            if tag == "tok":
                out = out.where(F.array_contains(
                    F.split(F.col(cfg.text_column), r"\s+"), val))
            elif tag in cfg.tag_columns:
                out = out.where(F.col(tag) == val)
            else:
                # an unrecognized tag was still HASHED into the query
                # bits, so skipping its verification would return pure
                # Bloom false positives as "exact" results — reject
                raise ValueError(
                    f"cannot verify token {tok!r}: tag must be 'tok' or "
                    f"one of {tuple(cfg.tag_columns)}")
        return out

    def search_verified_many(self, queries: dict, source_df: DataFrame,
                             via: str = "auto") -> DataFrame:
        """Batched verified search: ``{name: [tokens...]}`` -> source rows
        tagged by query, Bloom false positives removed — the Q-at-once
        form of :meth:`search_verified` (one index scan, one source join,
        one verification pass for the whole batch).

        Verification is data-driven and all-JVM: a broadcast (query ->
        spec) table joins onto the candidate rows, and one JVM-side
        predicate re-checks every tag equality plus a higher-order
        ``forall`` token containment (HOF lambdas run interpreted, not
        codegen — still zero Python) — no per-query plan nodes, so the
        verified path scales to broad batches exactly like
        :meth:`search_many`."""
        cfg = self.cfg
        id_cols = list(cfg.id_columns)
        via = self._resolve_via(via, len(queries))
        hits = self.search_many(queries, via=via)
        hits = hits.select("query", *id_cols).dropDuplicates(
            ["query", *id_cols])
        cand = source_df.join(hits, id_cols, "inner")
        spec_rows = []
        for name, toks in queries.items():
            # a LIST per tag, not last-wins: search_verified ANDs every
            # tag equality, so ['role=user','role=assistant'] must be
            # conjunctive (provably empty) in the batched form too
            tags = {c: [] for c in cfg.tag_columns}
            words = []
            for tok in toks:
                tag, _, val = tok.partition("=")
                if tag == "tok":
                    words.append(val)
                elif tag in tags:
                    tags[tag].append(val)
                else:
                    # same rejection as search_verified: a token the spec
                    # cannot re-check must not silently pass as verified
                    raise ValueError(
                        f"cannot verify token {tok!r} (query {name!r}): "
                        f"tag must be 'tok' or one of "
                        f"{tuple(cfg.tag_columns)}")
            spec_rows.append((name, *[tags[c] for c in cfg.tag_columns],
                              words))
        spec_schema = ("query string, "
                       + ", ".join(f"_spec_{c} array<string>"
                                   for c in cfg.tag_columns)
                       + ", _spec_toks array<string>")
        spec = F.broadcast(
            self.spark.createDataFrame(spec_rows, spec_schema))
        out = cand.join(spec, "query", "inner")
        pred = F.forall(
            "_spec_toks",
            lambda t: F.array_contains(
                F.split(F.col(cfg.text_column), r"\s+"), t))
        def _tag_pred(col_name):
            # one-arg lambda: a second (defaulted) param would make
            # forall treat it as the (element, index) form
            return F.forall(f"_spec_{col_name}",
                            lambda v: F.col(col_name) == v)

        for c in cfg.tag_columns:
            # vacuously true when no tag constraint (empty list)
            pred = pred & _tag_pred(c)
        return out.where(pred).drop(
            "_spec_toks", *[f"_spec_{c}" for c in cfg.tag_columns])

    # ---------------- exact get ----------------
    def get(self, tokens) -> DataFrame:
        """Exact (bit-for-bit) match: content-addressed key equality
        (`ContainerImpl.java:111-122` via I6 'natural' index semantics)."""
        shards = self._plan({"q": list(tokens)})["q"][1]
        if not shards:
            return self.storage().where(F.lit(False))
        return self._where_shards(self.storage(), shards).where(
            F.col("key") == self._content_key(tokens))

    def get_bitexact(self, tokens, via: str = "linear") -> DataFrame:
        """PHYSICAL exact-get variants — equality decided on the stored
        BITS, no content key anywhere (parity with the reference's
        per-index physical gets; the default :meth:`get` stays
        content-addressed, the I6 semantics every reference test uses):

        * ``via="linear"``: word-compare scan (`Linear.java:116-122`
          compares whole stored filters) — ONE codegen conjunction of
          all W word equalities (zero words included) over the pruned
          shards' storage rows.
        * ``via="slab"``: bit-sliced candidate narrowing
          (`FlatBloofi.java:114-150` walks all m bit-columns): the slab
          kernel ANDs the k set-bit rows into candidate slots, and the
          reference's unset-bit pass collapses to ONE popcount equality
          — a containment superset with the query's cardinality IS the
          query — so the m-k zero rows never need touching.

        Same rows as :meth:`get` (tombstone-aware storage view),
        asserted bit-identical in tests. An empty query filter falls
        back to the word-compare (all words zero) under either
        ``via``."""
        qbits, shards = self._plan({"q": list(tokens)})["q"]
        if not shards:
            return self.storage().where(F.lit(False))
        if via == "slab" and qbits.size:
            # search_keys plans and restricts to the same shards itself
            keys = self.search_keys(tokens).select("shard", "key")
            cand = (self.storage(keep_filter=True)
                    .join(keys, ["shard", "key"], "left_semi"))
            popcnt = F.aggregate(
                "filter", F.lit(0).cast("long"),
                lambda a, w: a + F.bit_count(w))
            return cand.where(popcnt == int(qbits.size)).drop("filter")
        qwords = B.from_bits(qbits, self.shape.m).view(np.int64)
        cond = F.lit(True)
        for i in range(len(qwords)):
            cond = cond & (F.element_at("filter", i + 1)
                           == F.lit(int(qwords[i])))
        return (self._where_shards(self.storage(keep_filter=True), shards)
                .where(cond).drop("filter"))

    def get_many(self, queries: dict) -> DataFrame:
        """Batched exact (bit-for-bit) get: ``{name: [tokens...]}`` ->
        (query, <storage rows>) for every query in ONE storage scan
        (VERDICT r2 item 9 — the reference's O(1) content-addressed map
        lookup under a query batch). The union of content keys is pushed
        into the parquet scan as an IN predicate (row groups pruned by
        the storage table's key bloom filter + min/max stats); a tiny
        broadcast (query, key) map then tags the surviving rows — a key
        requested by several names returns a row per name."""
        # (name, content key, shards); a pruned-to-zero query is the gate
        # short-circuit (`ContainerImpl.java:115`) and drops out here
        plans = [(name, self._content_key(queries[name]), shards)
                 for name, (_, shards) in self._plan(queries).items()
                 if shards]
        storage = self.storage()
        if not plans:
            return (storage.where(F.lit(False))
                    .withColumn("query", F.lit(""))
                    .select("query", *storage.columns))
        keys = sorted({k for _, k, _ in plans})
        hit = self._where_shards(storage.where(F.col("key").isin(keys)),
                                 self._union_shards(sh for *_, sh in plans))
        tag = self.spark.createDataFrame([(n, k) for n, k, _ in plans],
                                         schema="query string, key string")
        return (hit.join(F.broadcast(tag), "key", "inner")
                .select("query", *storage.columns))

    def novel_rows(self, df: DataFrame) -> DataFrame:
        """Rows of ``df`` whose content-addressed key is NOT in the index —
        the cross-run novelty filter a training pipeline runs before
        ingesting a new batch (definitely-new is exact here: the
        content key is md5 of the packed filter, so a stored identical
        token set always matches; the Bloom 'maybe' direction never
        reaches the user because equality is on the exact key).

        Sizing caveat (ADVICE r4): key equality is FILTER-BIT equality —
        the reference's content-addressing contract
        (`ContainerImplTest.java:138-162`, UUID from filter bytes). Two
        DIFFERENT token sets collide only when one's extra tokens are
        fully bit-covered by the other's filter; that probability is the
        designed FP rate ONLY while the Shape's ``n_per_record`` is >=
        the records' real distinct-dimension count. Size the Shape for
        the corpus (as `__spark_entry__._doc_index` does) — a saturated
        filter drops novel near-supersets at well above the design
        rate.

        One distributed pass: the batch's keys are computed with the
        SAME whole-stage-codegen expressions the build uses
        (`jvm_hash.aggregated_filter_words`), then a left-anti join
        against live storage keys. No driver-side key materialization —
        the 100 TB shape (contrast `get`: `ContainerImpl.java:111-122`,
        here inverted and batched)."""
        from mdbloom.spark.build import BloomIndexWriter
        keyed = BloomIndexWriter(self.spark, self.cfg).filters_df(df) \
            .select(*self.cfg.id_columns, "shard", "key")
        novel = self.filter_novel_keys(keyed).select(*self.cfg.id_columns)
        return df.join(novel, list(self.cfg.id_columns), "left_semi")

    def filter_novel_keys(self, keyed: DataFrame) -> DataFrame:
        """The cross-run novelty anti-join itself: keep rows of ``keyed``
        (any frame carrying (shard, key)) whose key is NOT live in the
        index. ONE definition shared by :meth:`novel_rows` and the
        streaming ingest gate (`streaming.StreamingNoveltyIngest`), so
        content-key / tombstone semantics cannot desynchronize between
        the batch and streaming dedup paths."""
        live = self.storage().select("shard", "key")
        return keyed.join(live, ["shard", "key"], "left_anti")
