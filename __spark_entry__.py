"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship: build the multidimensional Bloom index over
deterministic synthetic transcripts (BASELINE.json ``input_hint`` schema)
and run a verified multidimensional membership search
(role, tool, text-token), the reference's `Container.search` semantics
(`ContainerImpl.java:155-182`) at Spark scale.

``queries()`` / ``oracle_sql()`` — operator coverage from SURVEY.md §2 plus
the training-data-pipeline operators. Queries with an oracle entry produce
*deterministically identical* values in Spark and DuckDB: aggregations over
doubles go through exact DECIMAL arithmetic (associative, engine-
independent) and are cast to double only at the end; outputs involving
genuinely float-order-sensitive math (cosine ranks) expose only rank/id
columns. ALL queries carry oracles — including the ones that look
non-SQL-expressible: raw Bloom membership (q14/q24: md5 + enhanced
double hashing recomputed in SQL), the sketch estimators (q18-q21: run
in regimes where the estimate is value-deterministic), and the LSH
pipelines (q16/q17/q22/q28: deterministic SQL-reproducible hash
families). Accuracy bounds are additionally asserted in tests/.
"""  # (count: len(queries()); queries/oracles kept in lockstep by selfcheck)

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_CACHE_ROOT = "/tmp/mdbloom_cache"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col, scale=4):
    """Narrow decimal: products of two/three casts must stay exact in BOTH
    engines. At DECIMAL(12,4) the q01 triple product exceeds 38 digits:
    Spark rounds it to scale 6 while DuckDB silently falls back to DOUBLE,
    producing ~1e-9 drift that breaks the value-hash at some scale
    factors. (12,4) x (6,4) x (6,4) = 26 digits — exact everywhere
    (inputs bounded: prices < 1e8, rates < 1)."""
    return F.col(col).cast(f"decimal(12,{scale})")


# ----------------------------------------------------------------- entry

_TRANSCRIPTS_PQ = os.path.join(_CACHE_ROOT, "transcripts_4000_s42.parquet")


def _transcripts_table(spark: SparkSession) -> DataFrame:
    """Deterministic synthetic transcripts (BASELINE input_hint schema),
    materialized ONCE as parquet — Spark and the DuckDB oracle for q24
    then read the SAME stored table (VERDICT r2 item 2)."""
    from mdbloom.spark.transcripts import synthesize_transcripts
    if not os.path.exists(os.path.join(_TRANSCRIPTS_PQ, "_SUCCESS")):
        synthesize_transcripts(spark, 4000, seed=42) \
            .write.mode("overwrite").parquet(_TRANSCRIPTS_PQ)
    return spark.read.parquet(_TRANSCRIPTS_PQ)


_HEAVY_PQ = os.path.join(_CACHE_ROOT, "transcripts_heavy_s42.parquet")


def _heavy_transcripts(spark: SparkSession) -> DataFrame:
    """Heavy-tailed variant of the flagship transcripts: ~2/3 of the
    conversations merged into ONE ('hotconv', turn_idx re-enumerated so
    (conv_id, turn_idx) stays a unique identity) — the corpus shape that
    makes the default conv-co-locating shard key hot. Materialized once
    as parquet so the q44 DuckDB oracle reads the SAME stored table."""
    if not os.path.exists(os.path.join(_HEAVY_PQ, "_SUCCESS")):
        df = _transcripts_table(spark)
        hot = F.pmod(F.xxhash64("conv_id"), F.lit(3)) != 0
        win = Window.partitionBy("new_conv").orderBy("conv_id", "turn_idx")
        (df.withColumn("new_conv",
                       F.when(hot, F.lit("hotconv"))
                       .otherwise(F.col("conv_id")))
           .withColumn("new_idx", F.row_number().over(win).cast("int"))
           .select(F.col("new_conv").alias("conv_id"),
                   F.col("new_idx").alias("turn_idx"),
                   "role", "text", "tool", "ts")
           .write.mode("overwrite").parquet(_HEAVY_PQ))
    return spark.read.parquet(_HEAVY_PQ)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001-scale data: Bloom-index the transcripts, run a
    verified (role='assistant', tool='Bash', token) containment search."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    df = _transcripts_table(spark)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=4096)
    ckey = hashlib.md5(cfg.to_json().encode()).hexdigest()[:8]
    path = os.path.join(_CACHE_ROOT, f"flagship_idx_{ckey}")
    BloomIndexWriter(spark, cfg).build(df, path, resume=True)
    r = BloomIndexReader(spark, path)
    toks = r.transcript_query_tokens("assistant", "Bash", ["w00002"])
    return (r.search_verified(toks, df)
            .select("conv_id", "turn_idx", "role", "tool")
            .orderBy("conv_id", "turn_idx"))


# ----------------------------------------------------------------- helpers

def _doc_index(spark: SparkSession, sf_dir: str) -> "BloomIndexReader":
    """Build (or resume) the Bloom index over the documents table of this
    sf_dir; cached under a directory keyed by the input path."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    # n_per_record is sized ABOVE the corpus's real per-record dimension
    # count (sf* documents max 31 distinct words + 2 tag dims = 33): a
    # Shape saturated past its design point would let a mutated doc's
    # extra token be fully covered by its base doc's set bits, making the
    # md5(filter) content key collide across DIFFERENT token sets at well
    # above the designed FP rate — exactly the adversarial case for the
    # exact-identity consumers (q15/q30 get, q34/q69 novelty, q40 filter
    # count), whose oracles define truth as token-set equality (ADVICE
    # r4). At 48 the coverage-collision probability stays bounded by the
    # designed 1e-3 per record.
    cfg = IndexConfig(n_per_record=48, probability=1e-3, n_shards=8,
                      chunk_slots=4096, tag_columns=("lang", "source"),
                      text_column="text", id_columns=("doc_id",),
                      payload_columns=("lang", "source"))
    key = hashlib.md5((sf_dir + cfg.to_json()).encode()).hexdigest()[:12]
    path = os.path.join(_CACHE_ROOT, f"docs_idx_{key}")
    docs = _t(spark, sf_dir, "documents")
    BloomIndexWriter(spark, cfg).build(docs, path, resume=True)
    return BloomIndexReader(spark, path)


def _doc_idx_py_cfg():
    """ONE definition of the python-backend documents-index shape, shared
    by the index builder (`_doc_index_py`) and the q14 oracle generator
    (`_bloom_raw_oracle_sql`) — tuning it in one place cannot silently
    desynchronize the oracle's recomputed bit positions."""
    from mdbloom.spark.build import IndexConfig
    return IndexConfig(n_per_record=32, probability=1e-3, n_shards=1,
                       chunk_slots=4096, tag_columns=("lang", "source"),
                       text_column="text", id_columns=("doc_id",),
                       hash_backend="python")


def _doc_index_py(spark: SparkSession, sf_dir: str) -> "BloomIndexReader":
    """documents index on the PYTHON (md5) hash backend with a single
    shard — the configuration whose RAW search results (Bloom false
    positives included) are reproducible in ANSI SQL: md5 is available in
    DuckDB, little-endian (h1, h2) extraction is string slicing, enhanced
    double hashing is integer arithmetic, and n_shards=1 removes the
    xxhash64 shard assignment (not SQL-expressible) from the result —
    the only pruning left (shard OR-summary, token gate) can never drop a
    filter-superset row when every query token occurs in the corpus
    (`hashing.py` module docstring: 'trivially reproducible in any
    oracle', cashed in by q14's oracle)."""
    from mdbloom.spark.build import BloomIndexWriter
    from mdbloom.spark.query import BloomIndexReader

    cfg = _doc_idx_py_cfg()
    key = hashlib.md5((sf_dir + cfg.to_json()).encode()).hexdigest()[:12]
    path = os.path.join(_CACHE_ROOT, f"docs_idx_py_{key}")
    docs = _t(spark, sf_dir, "documents")
    BloomIndexWriter(spark, cfg).build(docs, path, resume=True)
    return BloomIndexReader(spark, path)


def _md5_le_u64_sql(hex_col: str, lo: bool) -> str:
    """SQL: little-endian uint64 from half of an md5 hex string."""
    base = 1 if lo else 17
    pairs = "||".join(f"substr({hex_col},{base + 2 * i},2)"
                      for i in range(7, -1, -1))
    return f"('0x' || {pairs})::UBIGINT"


def _bloom_raw_oracle_sql(query_tokens: list[str]) -> str:
    """DuckDB oracle for RAW containment search on the python-backend
    documents index (`_doc_index_py`): recomputes every token's k bit
    positions with the IDENTICAL md5 + enhanced-double-hashing scheme
    (`hashing.py:km_bit_positions`) and returns docs whose bit set covers
    the query's — i.e. the exact Bloom hit set INCLUDING designed-rate
    false positives. The trailing guard mirrors the token gate's
    honest-negative pruning (a query token absent from the whole corpus
    -> empty result)."""
    cfg = _doc_idx_py_cfg()
    m, k = cfg.shape.m, cfg.shape.k
    qvals = ", ".join(f"('{t}')" for t in query_tokens)
    return rf"""
        WITH qtok(tok) AS (VALUES {qvals}),
        dtok AS (
            SELECT doc_id, 'lang=' || lang AS tok FROM documents
            WHERE lang IS NOT NULL AND lang <> 'none'
            UNION
            SELECT doc_id, 'source=' || source FROM documents
            WHERE source IS NOT NULL AND source <> 'none'
            UNION
            SELECT DISTINCT doc_id, 'tok=' || w.tok
            FROM documents,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS w(tok)
            WHERE length(trim(text)) > 0),
        toks AS (SELECT tok FROM dtok UNION SELECT tok FROM qtok),
        th AS (SELECT tok, md5(tok) AS h FROM toks),
        tpos AS (
            SELECT tok,
                   (({_md5_le_u64_sql('h', True)} % {m})
                    + i * ({_md5_le_u64_sql('h', False)} % {m})
                    + (i*i*i - i)//6) % {m} AS pos
            FROM th, range({k}) t(i)),
        qbits AS (SELECT DISTINCT pos FROM tpos
                  WHERE tok IN (SELECT tok FROM qtok)),
        dbits AS (SELECT DISTINCT d.doc_id, p.pos
                  FROM dtok d JOIN tpos p USING (tok)),
        hits AS (
            SELECT doc_id FROM dbits
            WHERE pos IN (SELECT pos FROM qbits)
            GROUP BY doc_id
            HAVING COUNT(*) = (SELECT COUNT(*) FROM qbits))
        SELECT doc_id FROM hits
        WHERE (SELECT COUNT(*) FROM qtok q
               WHERE EXISTS (SELECT 1 FROM dtok d WHERE d.tok = q.tok))
              = (SELECT COUNT(*) FROM qtok)
        ORDER BY doc_id
    """


# ----------------------------------------------------------------- queries

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation (scan + filter + groupBy + 8 aggregates).
    Exact decimal arithmetic -> double so the oracle matches bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    qty, price, disc, tax = (_dec("l_quantity"), _dec("l_extendedprice"),
                             _dec("l_discount"), _dec("l_tax"))
    disc_price = price * (F.lit(1).cast("decimal(6,4)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(6,4)") + tax)
    g = (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
         .groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum(qty).cast("double").alias("sum_qty"),
              F.sum(price).cast("double").alias("sum_base_price"),
              # narrow to the TRUE scale (4/6 decimals) before the double
              # cast: DuckDB converts decimal->double as
              # double(int128)/double(10^scale), which double-rounds once
              # the scaled integer exceeds 2^53 (scale 10/12 sums do);
              # at <=15 total digits both engines perform one correctly-
              # rounded IEEE division and agree bit-for-bit
              F.sum(disc_price).cast("decimal(28,4)")
              .cast("double").alias("sum_disc_price"),
              F.sum(charge).cast("decimal(28,6)")
              .cast("double").alias("sum_charge"),
              (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
              (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
              (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
              F.count("*").alias("count_order"))
         .orderBy("l_returnflag", "l_linestatus"))
    return g


def q02_top_revenue_orders(spark, sf_dir):
    """3-way join (customer ⋈ orders ⋈ lineitem) + group + deterministic
    top-10; the dimension side is broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(6,4)")
                                     - _dec("l_discount"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("o_orderkey", "c_name")
            .agg(F.sum(rev).cast("decimal(28,4)")
                 .cast("double").alias("revenue"),
                 F.count("*").alias("n_items"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


def q03_events_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum(_dec("value")).cast("double").alias("sum_value"),
                 (F.sum(_dec("value")).cast("double") / F.count("*"))
                 .alias("avg_value"))
            .orderBy("event_type"))


def q04_user_top_event(spark, sf_dir):
    """Window row_number: each user's highest-value event (deterministic
    tiebreak on event_id)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(),
                                              F.col("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_id", "value")
            .orderBy("user_id"))


def q05_sessionize(spark, sf_dir):
    """Sessionization via lag + gap>30min cumulative flag (window chain)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; NTZ -> BIGINT needs a TIMESTAMP hop
    epoch = F.col("ts").cast("timestamp").cast("long")
    lag_epoch = F.lag(epoch).over(w)
    new_s = F.when(lag_epoch.isNull() | ((epoch - lag_epoch) > 1800), 1) \
        .otherwise(0)
    return (ev.withColumn("new_s", new_s)
            .groupBy("user_id")
            .agg(F.sum("new_s").alias("n_sessions"),
                 F.count("*").alias("n_events"))
            .orderBy("user_id"))


def q06_rollup_events(spark, sf_dir):
    """ROLLUP grouping sets (event_type -> grand total)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.rollup("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(_dec("value")).cast("double").alias("sum_value"))
            .orderBy(F.col("event_type").asc_nulls_first()))


def q07_dedup_exact(spark, sf_dir):
    """Exact duplicate-text groups (hash-aggregate dedup)."""
    from mdbloom.spark.textops import exact_dup_groups
    docs = _t(spark, sf_dir, "documents")
    return (exact_dup_groups(docs)
            .select("fp", F.col("n_dups").cast("bigint").alias("n_dups"),
                    "canonical_id")
            .orderBy("fp"))


def q08_fingerprint(spark, sf_dir):
    """Per-document md5 fingerprint of whitespace-normalized text."""
    from mdbloom.spark.textops import fingerprint
    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs).orderBy("doc_id")


def q09_token_stats(spark, sf_dir):
    """Token counting / document statistics (whitespace tokenizer)."""
    from mdbloom.spark.textops import token_stats
    docs = _t(spark, sf_dir, "documents")
    s = token_stats(docs)
    return (s.select("doc_id",
                     F.col("n_tokens").cast("bigint").alias("n_tokens"),
                     F.col("n_chars").cast("bigint").alias("n_chars"),
                     F.col("n_distinct_tokens").cast("bigint")
                     .alias("n_distinct_tokens"),
                     F.col("avg_token_len").cast("double")
                     .alias("avg_token_len"))
            .orderBy("doc_id"))


def q10_lang_quality(spark, sf_dir):
    """Language-ID heuristic (stopword ratios) + quality score."""
    from mdbloom.spark.textops import lang_quality
    docs = _t(spark, sf_dir, "documents")
    lq = lang_quality(docs)
    cols = ["doc_id"] + [c for c in lq.columns if c != "doc_id"]
    return lq.select(*[F.col(c).cast("double").alias(c) if c != "doc_id"
                       else F.col(c) for c in cols]).orderBy("doc_id")


def q11_ngram_jaccard(spark, sf_dir):
    """EXACT word-3-gram Jaccard near-duplicate pairs (>= 0.5), with the
    document-frequency cap on shingles (max_shingle_df) applied — a hot
    shingle otherwise makes the self-join quadratic at corpus scale
    (VERDICT r1 finding #4). The oracle applies the identical cap."""
    from mdbloom.spark.textops import ngram_jaccard_pairs
    docs = _t(spark, sf_dir, "documents")
    return (ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                                max_shingle_df=100)
            .select("id_a", "id_b", F.col("jaccard").cast("double")
                    .alias("jaccard"))
            .orderBy("id_a", "id_b"))


def q12_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 neighbours of vector 0 (rank+id only —
    cosine float internals are engine-order-sensitive, ranks are not)."""
    from mdbloom.spark.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    probe_row = emb.where(F.col("vec_id") == 0).select("embedding").head()
    import numpy as np
    probe = np.asarray(probe_row[0], dtype=np.float64)
    # TakeOrderedAndProject (per-partition heap + driver merge of 10), NOT
    # a global unpartitioned Window (which would funnel every row into one
    # partition at 100x scale — VERDICT r1 finding #1); the 10 surviving
    # rows are ranked driver-side
    top = cosine_topk(emb.where(F.col("vec_id") != 0), probe, k=10).collect()
    return spark.createDataFrame(
        [(i + 1, int(r.vec_id)) for i, r in enumerate(top)],
        schema="rank int, vec_id long")


def q13_bloom_search_verified(spark, sf_dir):
    """Multidimensional Bloom containment search over documents
    (lang dimension + two text-token dimensions), exact post-verified —
    the reference `search` semantics (`ContainerImpl.java:155-182`) made
    DuckDB-checkable (FIXTURES §5). Pinned to the NumPy slab kernel:
    ``via="auto"`` resolves to the linear scan on this small index, which
    q29 already checks."""
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    toks = ["lang=es", "tok=spark", "tok=window"]
    return (r.search_verified(toks, docs, via="slab")
            .select("doc_id", "lang")
            .orderBy("doc_id"))


def q14_bloom_search_raw(spark, sf_dir):
    """Unverified Bloom containment search — the result INCLUDES the
    designed-rate false positives, and the oracle reproduces them
    bit-for-bit: it runs on the python/md5 hash backend
    (`_doc_index_py`), whose entire bit-position derivation is
    recomputable in ANSI SQL (`_bloom_raw_oracle_sql`). The strongest
    parity evidence in the suite: DuckDB independently derives every
    stored filter and the query filter from the raw tables and agrees on
    the exact FP set (`Linear.java:134-140` semantics; the jvm-backend
    raw path stays superset-bound-tested in pytest)."""
    r = _doc_index_py(spark, sf_dir)
    return (r.search(["tok=spark", "tok=window"])
            .select("doc_id").orderBy("doc_id"))


def q15_bloom_exact_get(spark, sf_dir):
    """Exact (bit-for-bit) get: full-dimension key lookup for doc 0's
    filter (content-addressed I6 'natural' index,
    `ContainerImpl.java:111-122`). Content addressing makes exact-get
    equivalent to token-SET equality, which IS ANSI-SQL-expressible:
    the oracle selects docs whose (lang, source, distinct word set)
    equals doc 0's."""
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    row = docs.where(F.col("doc_id") == 0).head()
    toks = [f"lang={row.lang}", f"source={row.source}"] + \
        [f"tok={w}" for w in row.text.split()]
    return r.get(toks).select("doc_id").orderBy("doc_id")


def q16_minhash_near_dups(spark, sf_dir):
    """MinHash-LSH near-dup pairs, exact-verified jaccard >= 0.5, run at
    bands=num_perm (r=1): a jaccard>=s pair misses ALL 64 single-position
    bands only with prob (1-s)^64 <= 2^-64 at s=0.5, so recall is 1 for
    any corpus this oracle will ever see — not just the current fixtures
    (ADVICE r2: bands=32 left a ~1e-4 per-pair miss window that happened
    to be zero on today's data). With exact verification the output
    therefore EQUALS the exact-Jaccard pair set, which the DuckDB oracle
    checks. The bands=32 configuration (sparser candidate join — r=1
    buckets collide quadratically on hot shingles at corpus scale)
    remains the bench/scale setting in bench.py; its 1-(1-s^2)^32
    recall curve is asserted in tests."""
    from mdbloom.spark.textops import minhash_near_dups
    docs = _t(spark, sf_dir, "documents")
    return (minhash_near_dups(docs, num_perm=64, bands=64, n=3,
                              threshold=0.5)
            .select("id_a", "id_b",
                    F.col("jaccard").cast("double").alias("jaccard"))
            .orderBy("id_a", "id_b"))


def q17_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 3) over the all-JVM 64-bit
    SQL signature: pigeonhole banding (zero recall loss) + exact hamming
    verify. The signature itself is md5-derived SQL arithmetic, so DuckDB
    recomputes it bit-for-bit and the all-pairs oracle checks the full
    output exactly (VERDICT r1 item 2)."""
    from mdbloom.spark.textops import simhash_near_dups
    docs = _t(spark, sf_dir, "documents")
    return (simhash_near_dups(docs, max_hamming=3, backend="sql")
            .select("id_a", "id_b",
                    F.col("hamming").cast("bigint").alias("hamming"))
            .orderBy("id_a", "id_b"))


def q18_hll_distinct(spark, sf_dir):
    """HLL distinct users per event type via the all-JVM register path
    (md5-derived 60-bit hash, codegen bucket/rho, groupBy max; library
    estimator on the per-key registers) — every step deterministic ANSI
    SQL, so the DuckDB oracle recomputes the IDENTICAL registers and
    estimate (rounded to 6 dp on both sides to absorb libm ulp). The
    SipHash Arrow-UDAF HLL stays covered by tests/test_spark_aggregate;
    error-vs-exact bounds for both live in pytest."""
    from mdbloom.spark.aggregate import hll_by_key_sql
    ev = _t(spark, sf_dir, "events")
    out = hll_by_key_sql(ev, ["event_type"], "user_id", p=14)
    return (out.select("event_type",
                       F.round("estimate", 6).alias("hll_users"))
            .orderBy("event_type"))


def q19_cms_heavy_hitters(spark, sf_dir):
    """Count-min frequency estimate of every event type, fully
    distributed: one CMS state per key via the two-phase
    ``sketch_by_key`` UDAF, each key's estimate read from its own sketch
    (``estimate_with_key``) — NO driver-side collect of the key domain
    (VERDICT r2 'What's wrong' item 4; correct at any key cardinality).
    A per-group CMS holds only its own key, so the min-over-rows is
    collision-free and the deterministic estimates EQUAL the exact
    counts — which the DuckDB exact-count oracle checks. (CMS never
    underestimates; the eps*N bound is asserted in tests.)"""
    import numpy as np
    from mdbloom.sketches import CountMinSketch
    from mdbloom.spark.aggregate import sketch_by_key
    ev = _t(spark, sf_dir, "events")
    out = sketch_by_key(
        ev, ["event_type"], "event_type",
        lambda: CountMinSketch(1e-4, 1e-3),
        estimate_with_key=lambda s, k: s.query(
            np.asarray([k["event_type"]], dtype=object))[0])
    return (out.select("event_type",
                       F.col("estimate").cast("bigint").alias("est_count"))
            .orderBy("event_type"))


def q20_kll_quantiles(spark, sf_dir):
    """KLL quantiles of event value, oracle-checked: at k=32768 the
    sketch never reaches its compaction threshold at driver scale
    (10k events at sf0.01), so every value survives at weight 1 and the
    reported quantile IS the exact order statistic at 1-based rank
    max(ceil(q*n), 1) — which the DuckDB oracle computes directly (both
    sides form q*n in float64, so the ceil agrees bit-for-bit). The
    compacting regime (k=200) keeps its rank-error bound + merge-law
    coverage in tests/test_sketches.py; the same q19-style
    deterministic-regime oracle pattern."""
    from mdbloom.spark.aggregate import kll_quantiles
    ev = _t(spark, sf_dir, "events")
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    vals = kll_quantiles(ev, "value", qs, k=32768)
    return spark.createDataFrame(
        [(float(q), float(v)) for q, v in zip(qs, vals)],
        schema="q double, value double")


def q21_tdigest_quantiles(spark, sf_dir):
    """t-digest tail quantiles of event value, oracle-checked: duplicates
    are pre-aggregated globally (groupBy(value).count()) and fed as ONE
    weighted update per distinct value, and delta=1e6 preserves every
    centroid as a singleton at driver scale (bucket spacing between
    adjacent distinct values >> 1), so the digest is exactly the
    (value, count) histogram and its interpolated quantile is a closed
    form the DuckDB oracle recomputes with the SAME IEEE operation order
    (slope = dm/dcum, out = m + slope*(t - cum)). The compressing regime
    (delta=200, per-row updates) keeps its error-bound + merge-law
    coverage in tests/test_sketches.py."""
    from mdbloom.spark.aggregate import tdigest_quantiles_weighted
    ev = _t(spark, sf_dir, "events")
    qs = [0.001, 0.01, 0.5, 0.99, 0.999]
    vals = tdigest_quantiles_weighted(ev, "value", qs, delta=1e6)
    return spark.createDataFrame(
        [(float(q), float(v)) for q, v in zip(qs, vals)],
        schema="q double, value double")


def q22_ann_lsh_topk(spark, sf_dir):
    """Approximate top-10 from the PERSISTED LSH index (VERDICT r1 item
    4): signatures built once at index time (bucket-sorted, vectors
    embedded IVF-style); each probe is a partition+row-group-pruned
    bucket lookup + exact re-rank — zero full-corpus scans. NOW
    oracle-checked: the hyperplanes are the md5-derived Rademacher
    family (`similarity._hyperplanes_md5`), so DuckDB recomputes every
    signature, the multiprobe candidate set (hamming <= 1 via
    bit_count(xor)), and the exact-cosine top-10 independently. Recall
    vs brute force stays asserted in tests."""
    import numpy as np
    from mdbloom.spark.similarity import AnnLshIndex
    emb = _t(spark, sf_dir, "embeddings")
    probe_row = emb.where(F.col("vec_id") == 0).select("embedding").head()
    probe = np.asarray(probe_row[0], dtype=np.float64)
    key = hashlib.md5(f"{sf_dir}:ann:10:4:md5".encode()).hexdigest()[:12]
    path = os.path.join(_CACHE_ROOT, f"ann_idx_{key}")
    if not os.path.exists(os.path.join(path, "config.json")):
        AnnLshIndex.build(emb.where(F.col("vec_id") != 0), path,
                          dim=len(probe), nbits=10, n_tables=4,
                          planes_kind="md5")
    idx = AnnLshIndex(spark, path)
    return idx.topk(probe, k=10).select("vec_id").orderBy("vec_id")


def q23_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: opaque binary media -> decoded metadata +
    feature vectors (deterministic stub decoder; real codecs unavailable
    in this container). Rows-only."""
    from mdbloom.spark.multimodal import (extract_features, fake_decoder,
                                          synthesize_media)
    media = synthesize_media(spark, 128)
    return (extract_features(media, decoder=fake_decoder)
            .select("media_id", "kind", "height", "width", "channels",
                    "n_frames")
            .orderBy("media_id"))


def q24_transcript_membership(spark, sf_dir):
    """North-star flagship shape: which conversation shards may contain
    (role='assistant', tool='Bash', token) — verified rows. The
    deterministic transcripts are materialized as parquet
    (``_transcripts_table``), so the DuckDB oracle reads the SAME stored
    table via read_parquet and re-expresses the verified containment in
    ANSI SQL — q13's oracle pattern on the flagship input (VERDICT r2
    item 2)."""
    return entry(spark)


def q25_bloom_get_payload(spark, sf_dir):
    """Generic payload storage (the reference's opaque multimap value E,
    `Container.java:171-221` / `Serde.java:20-24`): exact-get answered
    ENTIRELY from the storage table — payload columns (lang, source)
    come back without any join against the source documents. Oracle =
    the same token-set equality as q15 plus the payload columns."""
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    row = docs.where(F.col("doc_id") == 0).head()
    toks = [f"lang={row.lang}", f"source={row.source}"] + \
        [f"tok={w}" for w in row.text.split()]
    return (r.get(toks).select("doc_id", "lang", "source")
            .orderBy("doc_id"))


def q26_set_ops(spark, sf_dir):
    """Relational set operators (SURVEY §2.6 'set ops' as driver-level
    proof, not just bitmap kernels): users who clicked INTERSECT users
    who purchased EXCEPT users who ever hit an error."""
    ev = _t(spark, sf_dir, "events")

    def u(t, thr):
        return (ev.where((F.col("event_type") == t)
                         & (F.col("value") > thr)).select("user_id"))

    return (u("click", 95).intersect(u("purchase", 95))
            .exceptAll(u("error", 99).distinct()).orderBy("user_id"))


def q27_json_props(spark, sf_dir):
    """JSON scalar functions over the events props column: extract k,
    bucket it, aggregate (scalar-function category incl. json)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.withColumn("k", k)
            .groupBy(F.floor(F.col("k") / 10).alias("k_bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("k").alias("sum_k"))
            .orderBy("k_bucket"))


def q29_bloom_search_linear(spark, sf_dir):
    """The SAME containment search as q13 answered by the OTHER physical
    strategy: the distributed Linear (I1) scan — an all-JVM codegen
    containment predicate over the stored filter words
    (`Linear.java:134-140` at scale), exact post-verified. Shares q13's
    oracle: two independent physical paths against one ANSI-SQL truth."""
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    toks = ["lang=es", "tok=spark", "tok=window"]
    return (r.search_verified(toks, docs, via="linear")
            .select("doc_id", "lang")
            .orderBy("doc_id"))


def q35_bloom_search_slab_sql(spark, sf_dir):
    """The SAME containment search as q13/q29 answered by the THIRD
    physical strategy: the bit-sliced slab kernel (`FlatBloofi.java:
    188-205`) evaluated ENTIRELY JVM-side — per slab chunk, the k query
    bit-rows AND together word-by-word via element_at/aggregate over the
    array<bigint> slab words, set bits expand to slots and resolve their
    keys in place from the embedded key blob (query.py:
    search_keys_slab_sql_many). Slab compute complexity (O(k·N/64) word
    ANDs) with zero Arrow transfer of slab bytes to Python. Shares q13's
    oracle: three independent physical paths against one ANSI-SQL
    truth."""
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    toks = ["lang=es", "tok=spark", "tok=window"]
    return (r.search_verified(toks, docs, via="slab_sql")
            .select("doc_id", "lang")
            .orderBy("doc_id"))


def q36_datasource_search(spark, sf_dir):
    """q14's RAW containment search answered through the data-source
    read surface: ``spark.read.format("mdbloom")`` (spark/datasource.py)
    — the index as a native PySpark 4 Python Data Source with the
    containment predicate pushed INTO the source (shard pruning at
    partition-planning time, vectorized superset test over each shard's
    Arrow batches, tombstone-aware). Runs on the same python/md5-backend
    single-shard index as q14, so the oracle independently re-derives
    every stored filter and reproduces the hit set INCLUDING the
    designed-rate false positives (`_bloom_raw_oracle_sql`)."""
    from mdbloom.spark.datasource import MdbloomDataSource
    r = _doc_index_py(spark, sf_dir)
    spark.dataSource.register(MdbloomDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return (spark.read.format("mdbloom").option("path", r.path)
            .option("tokens", "tok=spark,tok=window").load()
            .select("doc_id").orderBy("doc_id"))


def q37_sink_write_search(spark, sf_dir):
    """q14's raw containment semantics over an index created ENTIRELY
    through the WRITE surfaces (spark/datasource.py sink): the even
    doc_ids arrive via ``df.write.format("mdbloom").mode("overwrite")``,
    an explicit distributed fold (`build.fold_pending` — the resume
    build, only touched shards) indexes them, then the odd doc_ids are
    sink-APPENDED and deliberately left UNFOLDED — so the read spans
    folded shards PLUS the pending tail, which the source materializes
    with the Spark-free hash mirrors (same `put` semantics as
    `ContainerImpl.java:124-132`, LSM-staged). Same python/md5
    single-shard geometry as q14/q36: the DuckDB oracle re-derives
    every filter — stored and pending alike — from the raw documents
    table and must reproduce the hit set bit-for-bit, designed-rate
    false positives included. Equality proves sink + fold + tail are
    bit-identical to a direct build."""
    from mdbloom.spark.datasource import MdbloomDataSource, _load_cfg
    cfg = _doc_idx_py_cfg()
    key = hashlib.md5((sf_dir + cfg.to_json()).encode()).hexdigest()[:12]
    path = os.path.join(_CACHE_ROOT, f"docs_sink_{key}")
    done = os.path.join(path, "_q37_done")
    spark.dataSource.register(MdbloomDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    fresh = not os.path.exists(done)
    if not fresh:
        try:
            _load_cfg(path)  # stale cache from an older on-disk format
        except Exception:
            fresh = True
    if fresh:
        import shutil
        shutil.rmtree(path, ignore_errors=True)
        from mdbloom.spark.build import fold_pending
        docs = _t(spark, sf_dir, "documents")
        opts = {"path": path, "n_per_record": "32", "probability": "1e-3",
                "n_shards": "1", "chunk_slots": "4096",
                "tag_columns": "lang,source", "text_column": "text",
                "id_columns": "doc_id", "hash_backend": "python"}
        w = docs.where(F.col("doc_id") % 2 == 0) \
            .write.format("mdbloom").mode("overwrite")
        for k, v in opts.items():
            w = w.option(k, v)
        w.save()
        assert fold_pending(spark, path)["folded_files"] > 0
        docs.where(F.col("doc_id") % 2 == 1) \
            .write.format("mdbloom").mode("append") \
            .option("path", path).save()
        with open(done, "w"):
            pass
    return (spark.read.format("mdbloom").option("path", path)
            .option("tokens", "tok=spark,tok=window").load()
            .select("doc_id").orderBy("doc_id"))


def q38_storage_spi_memory(spark, sf_dir):
    """q13's verified-search semantics with the value multimap living in
    the MEMORY storage backend (mdbloom/spark/storage.py — the
    reference's pluggable `Storage<E,I>`/`Serde<E>` SPI,
    `Container.java:171-221` / `IgniteStorage.java:48-101` /
    `Serde.java:20-24`): every payload row round-trips driver-resident
    KV + JsonSerde instead of parquet, the shared index artifacts
    (slabs, gate, manifest) stay on disk, and the result must equal the
    same ANSI-SQL oracle as q13 — storage placement cannot change query
    answers. The memory store dies with the process, so the build's
    storage-existence guard (`StorageBackend.exists`) forces a fresh
    rebuild here rather than resuming onto missing values."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    cfg = IndexConfig(n_per_record=32, probability=1e-3, n_shards=8,
                      chunk_slots=4096, tag_columns=("lang", "source"),
                      text_column="text", id_columns=("doc_id",),
                      payload_columns=("lang", "source"),
                      storage_backend="memory")
    key = hashlib.md5((sf_dir + cfg.to_json()).encode()).hexdigest()[:12]
    path = os.path.join(_CACHE_ROOT, f"docs_idx_mem_{key}")
    docs = _t(spark, sf_dir, "documents")
    BloomIndexWriter(spark, cfg).build(docs, path, resume=True)
    r = BloomIndexReader(spark, path)
    toks = ["lang=es", "tok=spark", "tok=window"]
    return (r.search_verified(toks, docs)
            .select("doc_id", "lang")
            .orderBy("doc_id"))


def q39_bitexact_get(spark, sf_dir):
    """q15's exact-get semantics decided PHYSICALLY on the stored bits —
    no content key anywhere: the slab kernel narrows candidates by the
    set-bit rows and one popcount equality stands in for the unset-bit
    walk (`FlatBloofi.java:114-150`; the linear word-compare variant
    `Linear.java:116-122` is contract-tested bit-identical in pytest).
    Same ANSI-SQL oracle as q15: physical get strategy cannot change
    answers."""
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    row = docs.where(F.col("doc_id") == 0).head()
    toks = [f"lang={row.lang}", f"source={row.source}"] + \
        [f"tok={w}" for w in row.text.split()]
    return (r.get_bitexact(toks, via="slab")
            .select("doc_id").orderBy("doc_id"))


def q40_container_counts(spark, sf_dir):
    """C5 getValueCount / C6 getFilterCount under an ANSI-SQL oracle
    (COVERAGE rows previously evidence-by-pytest only): value_count =
    live stored values (`ContainerImpl.java:96-99`), filter_count =
    GLOBALLY distinct live filters (`FlatBloofi.java:153-154` dedup).
    Content addressing makes filter_count SQL-expressible: distinct
    filters == distinct (lang, source, sorted distinct word set) —
    the same canonicalization q15 exploits for exact-get."""
    r = _doc_index(spark, sf_dir)
    return spark.createDataFrame(
        [(int(r.value_count()), int(r.filter_count()))],
        "value_count long, filter_count long")


def q41_shape_math(spark, sf_dir):
    """C7 getShape under an ANSI-SQL oracle: the (n, p) -> (m, k) Shape
    derivation (`shape.py`, reproducing the commons-collections Shape
    contract `ContainerImpl.java:87-94`) recomputed independently in
    DuckDB from the published formulas — m = ceil(n ln p / -(ln 2)^2),
    k = round((m/n) ln 2). Rows: both reference test shapes
    (`IndexTest.java:47` -> 58/13, `ContainerImplTest.java:42` -> 94/22)
    plus the engine's doc-index and flagship-transcript geometries. All
    four shapes sit >= 0.04 away from ceil/round boundaries, so libm
    ulp differences cannot flip a value."""
    from mdbloom.shape import Shape

    rows = []
    for n, p in ((3, 1e-4), (3, 1.0 / 3000000), (32, 1e-3), (40, 1e-3)):
        sh = Shape.from_np(n, p)
        rows.append((n, sh.m, sh.k, sh.words))
    return (spark.createDataFrame(
        rows, "n int, m int, k int, words int")
        .orderBy("n", "m"))


def q28_cosine_near_dups(spark, sf_dir):
    """Embedding near-duplicate PAIRS (cosine >= 0.9): LSH bucket
    equi-join candidates across tables, exact cosine verify — precision
    1.0, probabilistic recall (planted-pair recall asserted in tests).
    Oracle-checked via the md5-Rademacher plane family: DuckDB
    recomputes every signature, the bucket-equality candidate pairs and
    the exact-cosine verification independently. On the near-random test
    embeddings the true pair set is small/empty — the honest outcome for
    data with no real near-duplicates (the oracle confirms the EXACT
    same pair set, empty or not)."""
    from mdbloom.spark.similarity import cosine_near_dup_pairs
    emb = _t(spark, sf_dir, "embeddings")
    return (cosine_near_dup_pairs(emb, threshold=0.9, nbits=8, n_tables=2,
                                  planes_kind="md5")
            .select("id_a", "id_b")
            .orderBy("id_a", "id_b"))


def q30_bloom_get_many(spark, sf_dir):
    """Batched exact get (`get_many`): several full-dimension key lookups
    answered by ONE storage scan (keys pushed as an IN predicate into the
    parquet scan — key bloom filter + min/max prune row groups), each row
    tagged by its query. Content addressing makes every lookup
    equivalent to token-SET equality, so the oracle is a UNION ALL of
    q15-style set-equality selects."""
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    rows = docs.where(F.col("doc_id").isin([0, 1])).collect()
    qs = {f"doc{row.doc_id}":
          [f"lang={row.lang}", f"source={row.source}"]
          + [f"tok={w}" for w in row.text.split()] for row in rows}
    return (r.get_many(qs).select("query", "doc_id")
            .orderBy("query", "doc_id"))


def q31_bloom_search_linear_many(spark, sf_dir):
    """Batched containment search over the distributed Linear (I1)
    strategy (`search_linear_many`): ALL queries evaluated in ONE
    all-JVM pass over the storage table (one literal query-plan array,
    higher-order forall word predicate — `Linear.java:134-140` amortized
    over the batch), then exact post-verification per query. Oracle =
    UNION ALL of per-query verified-containment selects."""
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    qs = {"es_spark_window": ["lang=es", "tok=spark", "tok=window"],
          "de_stream": ["lang=de", "tok=stream"]}
    hits = r.search_linear_many(qs).select("query", "doc_id")
    w = F.split(F.trim(F.col("text")), r"\s+")
    verified = (hits.join(docs, "doc_id")
                .where(((F.col("query") == "es_spark_window")
                        & (F.col("lang") == "es")
                        & F.array_contains(w, "spark")
                        & F.array_contains(w, "window"))
                       | ((F.col("query") == "de_stream")
                          & (F.col("lang") == "de")
                          & F.array_contains(w, "stream"))))
    return verified.select("query", "doc_id").orderBy("query", "doc_id")


def q32_remove_exact_search(spark, sf_dir):
    """Reference `remove` parity at the driver-contract level
    (`ContainerImpl.java:134-153` / `ContainerImplTest.java:109-132`):
    build a transcript index, exact-remove ONE deterministic value (the
    first hit of the flagship search, by its full reconstructed token
    set — stored filter must match bit-for-bit AND the id must match),
    then re-run the search. Tombstone semantics are thereby checked by
    an independent ANSI-SQL oracle: q24's rows minus the first.
    Idempotent across runs (re-removing an absent value is a no-op)."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    df = _transcripts_table(spark)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=4096)
    ckey = hashlib.md5(cfg.to_json().encode()).hexdigest()[:8]
    path = os.path.join(_CACHE_ROOT, f"removal_idx_{ckey}")
    writer = BloomIndexWriter(spark, cfg)
    writer.build(df, path, resume=True)
    r = BloomIndexReader(spark, path)
    toks = r.transcript_query_tokens("assistant", "Bash", ["w00002"])
    # victim derived from the SOURCE table (not the index state), so
    # re-running is a true no-op: the same value is already tombstoned
    w = F.split(F.trim("text"), r"\s+")
    victim = (df.where((F.col("role") == "assistant")
                       & (F.col("tool") == "Bash")
                       & F.array_contains(w, "w00002"))
              .select("conv_id", "turn_idx", "role", "tool", "text")
              .orderBy("conv_id", "turn_idx").head())
    vtoks = ([f"role={victim.role}"] if victim.role else []) \
        + ([f"tool={victim.tool}"] if victim.tool else []) \
        + [f"tok={w}" for w in victim.text.split()]
    writer.remove_exact(
        vtoks,
        spark.createDataFrame([(victim.conv_id, victim.turn_idx)],
                              "conv_id string, turn_idx int"), path)
    return (r.search_verified(toks, df)
            .select("conv_id", "turn_idx", "role", "tool")
            .orderBy("conv_id", "turn_idx"))


def _flagship_reader(spark: SparkSession):
    """Build (or resume) the flagship transcript index entry() uses and
    return its reader."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    df = _transcripts_table(spark)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=4096)
    ckey = hashlib.md5(cfg.to_json().encode()).hexdigest()[:8]
    path = os.path.join(_CACHE_ROOT, f"flagship_idx_{ckey}")
    BloomIndexWriter(spark, cfg).build(df, path, resume=True)
    return BloomIndexReader(spark, path), df


def q33_search_verified_many(spark, sf_dir):
    """Batched verified containment search (`search_verified_many`):
    several multidimensional membership queries answered in ONE index
    scan + ONE source join + ONE all-JVM verification pass (broadcast
    query-spec table, higher-order forall token predicate) — the
    Q-at-once form of the flagship q24 (`ContainerImpl.java:155-182`
    amortized over a batch). Oracle = UNION ALL of per-query verified
    selects over the same stored parquet. Pinned to the batched NumPy
    slab kernel (`search_keys_many`), which no other query checks."""
    r, df = _flagship_reader(spark)
    qs = {
        "bash_w2": r.transcript_query_tokens("assistant", "Bash",
                                             ["w00002"]),
        "user_w0": r.transcript_query_tokens("user", None, ["w00000",
                                                            "w00003"]),
        "grep_w1": r.transcript_query_tokens(None, "Grep", ["w00001"]),
        "absent": r.transcript_query_tokens(None, None, ["zzqnope"]),
    }
    return (r.search_verified_many(qs, df, via="slab")
            .select("query", "conv_id", "turn_idx", "role", "tool")
            .orderBy("query", "conv_id", "turn_idx"))


def q34_novelty_filter(spark, sf_dir):
    """Cross-run novelty filter (`novel_rows`): which rows of an incoming
    batch are definitely NOT in the index — the training-pipeline
    pre-ingest dedup the Bloom engine exists for, inverted from exact
    get (`ContainerImpl.java:111-122`) and batched: the batch's content
    keys are computed with the build's own codegen expressions, then one
    left-anti join against live storage. The probe batch is half
    already-indexed rows (must drop out) and half token-mutated copies
    (must survive); the oracle recomputes novelty as token-SET
    non-membership in ANSI SQL."""
    r, df = _flagship_reader(spark)
    base = df.where((F.col("turn_idx") == 0)
                    & (F.col("conv_id") < "conv00000040"))
    mutated = (base.withColumn("text", F.concat(F.col("text"),
                                                F.lit(" zznovel")))
               .withColumn("conv_id", F.concat(F.lit("nv_"),
                                               F.col("conv_id"))))
    probe = base.unionByName(mutated)
    return (r.novel_rows(probe)
            .select("conv_id", "turn_idx", "role")
            .orderBy("conv_id", "turn_idx"))


def q42_tree_pruned_search(spark, sf_dir):
    """Hierarchical manifest-tree pruning end-to-end (Bloofi
    `InnerNode.java:118-133` descent lifted to shard groups — see
    BloomIndexWriter._write_manifest_tree): batched shard planning
    descends a 3-level tree (32 shards grouped 4 per node; OR-folded
    summaries + population-sized node token gates), the candidate rows
    are read ONLY from the surviving shards, then post-verified exactly.
    The descent is SOUND for true containment (node gates are built from
    each group's exact distinct token set; Bloom has no false
    negatives), so the oracle is plain verified-containment SQL — a
    shard wrongly pruned by the descent would surface as missing rows
    and break the value hash."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    df = _transcripts_table(spark)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=32,
                      chunk_slots=4096, manifest_group_size=4)
    ckey = hashlib.md5(cfg.to_json().encode()).hexdigest()[:8]
    path = os.path.join(_CACHE_ROOT, f"tree_idx_{ckey}")
    BloomIndexWriter(spark, cfg).build(df, path, resume=True)
    r = BloomIndexReader(spark, path)
    qs = {"bash_w2": r.transcript_query_tokens("assistant", "Bash",
                                               ["w00002"]),
          "user_w0": r.transcript_query_tokens("user", None,
                                               ["w00000", "w00003"])}
    surv = r.prune_shards_many_distributed(qs, use_tree=True)
    store = r.storage().select("shard", "conv_id", "turn_idx")
    parts = []
    for name in sorted(qs):
        shards = surv[name]
        cand = (store.where(F.col("shard").isin(shards)) if shards
                else store.where(F.lit(False)))
        parts.append(cand.withColumn("query", F.lit(name)))
    cand = parts[0].unionByName(parts[1]) \
        .join(df, ["conv_id", "turn_idx"])
    w = F.split(F.trim("text"), r"\s+")
    verified = cand.where(
        ((F.col("query") == "bash_w2") & (F.col("role") == "assistant")
         & (F.col("tool") == "Bash") & F.array_contains(w, "w00002"))
        | ((F.col("query") == "user_w0") & (F.col("role") == "user")
           & F.array_contains(w, "w00000")
           & F.array_contains(w, "w00003")))
    return (verified.select("query", "conv_id", "turn_idx", "role", "tool")
            .orderBy("query", "conv_id", "turn_idx"))


def q43_incremental_resume_search(spark, sf_dir):
    """Resume + INCREMENTAL manifest-tree refresh end-to-end (the
    reference's container is mutable in place, `ContainerImpl.java:
    109-132` put; at lake scale mutation = rebuild-the-dirty-shards,
    `BloomIndexWriter.build(resume=True)` + `_refresh_manifest_tree`):
    build the index WITHOUT one shard's rows, resume-build on the full
    table (exactly one dirty shard rebuilds; the pruning tree refreshes
    incrementally — level-1 exact, upper gates insert-only at stored
    shapes), then answer a batched search through the TREE descent.
    A stale tree that failed to absorb the resumed shard's tokens would
    prune it and drop its rows — breaking the oracle's value hash. Both
    builds run every invocation (shard 3 cycles subset -> full), so the
    query is deterministic and idempotent across runs."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    df = _transcripts_table(spark)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=32,
                      chunk_slots=4096, manifest_group_size=4)
    ckey = hashlib.md5((cfg.to_json() + "q43").encode()).hexdigest()[:8]
    path = os.path.join(_CACHE_ROOT, f"resume_idx_{ckey}")
    # tree_refresh="incremental" pins the path under test: "auto" would
    # (correctly) prefer the full rebuild at this toy shard count — the
    # incremental refresh only amortizes its extra per-level jobs past
    # TREE_INCREMENTAL_MIN_SHARDS (measured in scripts/tree_incr_bench.py)
    w = BloomIndexWriter(spark, cfg, tree_refresh="incremental")
    shard_of = F.pmod(F.xxhash64("conv_id"), F.lit(32)).cast("int")
    w.build(df.where(shard_of != 3), path, resume=True)
    w.build(df, path, resume=True)  # 1 dirty shard of 32 -> incremental
    r = BloomIndexReader(spark, path)
    qs = {"bash_w2": r.transcript_query_tokens("assistant", "Bash",
                                               ["w00002"]),
          "user_w4": r.transcript_query_tokens("user", None, ["w00004"])}
    surv = r.prune_shards_many_distributed(qs, use_tree=True)
    store = r.storage().select("shard", "conv_id", "turn_idx")
    parts = []
    for name in sorted(qs):
        shards = surv[name]
        cand = (store.where(F.col("shard").isin(shards)) if shards
                else store.where(F.lit(False)))
        parts.append(cand.withColumn("query", F.lit(name)))
    cand = parts[0].unionByName(parts[1]) \
        .join(df, ["conv_id", "turn_idx"])
    words = F.split(F.trim("text"), r"\s+")
    verified = cand.where(
        ((F.col("query") == "bash_w2") & (F.col("role") == "assistant")
         & (F.col("tool") == "Bash") & F.array_contains(words, "w00002"))
        | ((F.col("query") == "user_w4") & (F.col("role") == "user")
           & F.array_contains(words, "w00004")))
    return (verified.select("query", "conv_id", "turn_idx", "role", "tool")
            .orderBy("query", "conv_id", "turn_idx"))


def q44_skew_salted_search(spark, sf_dir):
    """EXPLICIT skew handling (north rule: "partitioning / shuffle / skew
    handled explicitly"): a heavy-tailed corpus — one conversation holds
    ~2/3 of all turns — is indexed with
    ``shard_columns=("conv_id", "turn_idx")``, widening the shard hash
    so rows spread uniformly instead of piling the hot conversation into
    one shard (chained xxhash64; `build.shard_expr`). Physical placement
    must be invisible to query semantics: the verified containment
    search returns exactly the SQL truth over the same stored table. The
    query also ASSERTS the balance engine-side (max shard fraction —
    under the default key the hot shard would hold >= 2/3 of the rows;
    salted it must stay near-uniform), so a silently-ignored
    shard_columns breaks the query, not just a perf property."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    df = _heavy_transcripts(spark)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=16,
                      chunk_slots=4096,
                      shard_columns=("conv_id", "turn_idx"))
    ckey = hashlib.md5((cfg.to_json() + "q44").encode()).hexdigest()[:8]
    path = os.path.join(_CACHE_ROOT, f"salted_idx_{ckey}")
    BloomIndexWriter(spark, cfg).build(df, path, resume=True)
    r = BloomIndexReader(spark, path)
    counts = (r.storage().groupBy("shard").count().toPandas())
    frac = counts["count"].max() / counts["count"].sum()
    assert len(counts) == 16 and frac < 0.25, (
        f"salted shard key failed to balance: max fraction {frac:.2f} "
        f"over {len(counts)} shards")
    toks = r.transcript_query_tokens("assistant", "Bash", ["w00002"])
    return (r.search_verified(toks, df)
            .select("conv_id", "turn_idx", "role", "tool")
            .orderBy("conv_id", "turn_idx"))


def q45_memory_storage_get(spark, sf_dir):
    """Storage SPI driver-level proof (the reference's Storage<E,I>/Serde
    plug point, `IgniteStorage.java:48-101`, `Serde.java:20-24`): the
    value multimap lives in the driver-resident KV backend behind
    JsonSerde (storage_backend="memory") instead of parquet — index
    artifacts (slabs, manifest, tombstones) stay on disk. A BATCHED exact get
    (get_many) by content key answers ENTIRELY from the KV store, payload columns
    (text, ts) round-tripping through the Serde; the oracle re-derives
    content-key identity (same role, same tool, same distinct word set
    as the probe row) in SQL over the same stored parquet — a Serde that
    corrupted the timestamp or text would break the value hash. The KV
    store is rebuilt per process (reference InMemory semantics;
    build(resume=True) detects the vanished store and rebuilds)."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    df = _transcripts_table(spark)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                      chunk_slots=4096, payload_columns=("text", "ts"),
                      storage_backend="memory")
    ckey = hashlib.md5((cfg.to_json() + "q45").encode()).hexdigest()[:8]
    path = os.path.join(_CACHE_ROOT, f"memkv_idx_{ckey}")
    BloomIndexWriter(spark, cfg).build(df, path, resume=True)
    r = BloomIndexReader(spark, path)
    rows = (df.where((F.col("conv_id") == "conv00000000")
                     & (F.col("turn_idx") < 3))
            .orderBy("turn_idx").collect())
    qs = {f"turn{row.turn_idx}": r.transcript_query_tokens(
        row["role"],
        None if row["tool"] in (None, "none") else row["tool"],
        row["text"].split()) for row in rows}
    # ts exported as epoch micros: a raw timestamp column arrives as
    # datetime64[ns] from Spark but datetime64[us] from DuckDB and the
    # dtype-strict compare rejects it; the bigint still breaks on any
    # Serde corruption of the value
    return (r.get_many(qs).select(
        "query", "conv_id", "turn_idx", "text",
        F.unix_micros("ts").alias("ts_us"))
        .orderBy("query", "conv_id", "turn_idx"))


def q46_ewah_bitmap_index(spark, sf_dir):
    """EWAH compressed bitmaps as a DISTRIBUTED operator (SURVEY §2.4 F8
    at scale, not just local kernels): a bitmap index over events —
    per event_type, which user_id bit-positions appear — where every
    bitmap crossing an executor boundary travels run-length compressed
    (the `EWAHBloomFilter.java:31-44` role) and partials merge with the
    log-depth streaming OR tree (`FastAggregation.java:287-313`), no
    decompression. Output: exact pairwise set algebra |A|, |B|, |A∧B|,
    |A∨B|, |A⊕B| for every event-type pair, each popcounted on the
    compressed form. Oracle re-derives the same cardinalities with
    DISTINCT-set arithmetic (|A∨B| = |A|+|B|-|A∧B|, |A⊕B| =
    |A|+|B|-2|A∧B|) — any compression, wire-format, or merge defect
    breaks the value hash."""
    from mdbloom.spark.bitmapindex import set_algebra_pairs
    ev = _t(spark, sf_dir, "events")
    # dense-key domain from one metadata-scale agg (real corpora
    # dictionary-encode to dense ids first; see bitmapindex docstring)
    n_pos = int(ev.agg(F.max("user_id")).first()[0]) + 1
    # high-value events only: keeps the per-type user sets DIFFERENT
    # (at small SF every user hits every type, which would make the
    # set-algebra check degenerate)
    hi = ev.where(F.col("value") > 90)
    return (set_algebra_pairs(spark, hi, "event_type", "user_id", n_pos)
            .orderBy("type_a", "type_b"))


def q47_all_strategies_search(spark, sf_dir):
    """EVERY local §2.3 index strategy answering the SAME raw containment
    search under the FP-exact oracle: linear (`Linear.java:134-140`),
    flat slab (`FlatBloofi.java:188-205`), tree/trie4/trie8
    (`Trie4.java:53-57`, `Trie8.java:57-73`), blocked
    (`BlockedSetIndex.java:243-292`) and the hierarchical Bloofi tree the
    reference only ships flattened (`FlatBloofi.java:25-31` cites it).
    The container tokenizes docs exactly like the distributed build
    (`build.py:record_tokens_pandas` — 'col=value' tags skipping
    null/'none', 'tok=<word>' per whitespace word) on the md5 backend,
    so DuckDB re-derives every stored filter AND the query filter
    bit-for-bit (`_bloom_raw_oracle_sql`) and each strategy must return
    the exact Bloom hit set INCLUDING designed-rate false positives —
    a single wrong superset-expansion table, trie cascade, or tree OR
    breaks the hash for its strategy row. (This is the LOCAL container
    surface, reference parity at reference scale; the distributed
    strategies are q13/q29/q35 and the tree descent is q42.)"""
    from mdbloom.container import (INDEX_STRATEGIES, BloomContainer,
                                   TokenHasher)

    cfg = _doc_idx_py_cfg()
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text").collect()
    doc_toks = []
    for r in docs:
        toks = []
        for col, v in (("lang", r.lang), ("source", r.source)):
            if v is not None and v != "none":
                toks.append(f"{col}={v}")
        toks += [f"tok={w}" for w in (r.text or "").split()]
        doc_toks.append((int(r.doc_id), TokenHasher(toks)))
    query = TokenHasher(["tok=spark", "tok=window"])
    rows = []
    for name in sorted(INDEX_STRATEGIES):
        c = BloomContainer(cfg.shape, index=name,
                           estimated_population=len(doc_toks))
        for doc_id, hasher in doc_toks:
            c.put(hasher, doc_id)
        rows += [(name, doc_id) for doc_id in sorted(c.search(query))]
    return (spark.createDataFrame(rows, "strategy string, doc_id bigint")
            .orderBy("strategy", "doc_id"))


def q48_partition_lineage(spark, sf_dir):
    """Per-partition lineage + metrics (the north rule's resumability
    evidence surface, `BloomIndexReader.metrics`) under an ANSI-SQL
    oracle: every deterministic manifest column is re-derived by DuckDB
    from the raw table — n_turns = shard row count (the fingerprint
    pass counts ALL source rows, `build.py:fingerprints`), n_slots =
    distinct content-addressed keys (canonical (lang, source, word-set)
    identity — same as q40's filter_count, exact when each shard's slab
    builds in one pass, which the single-shard py config guarantees),
    n_chunks = ceil(n_slots / chunk_slots), n_tokens = the shard's
    DISTINCT dimension-token vocabulary (`build.py:token_gate_df`).
    Wall-clock/fingerprint/summary columns are excluded as
    nondeterministic. A resume that re-indexed rows twice, dropped a
    doc, or desynced the token stream from the storage would break
    this hash before it broke a search."""
    r = _doc_index_py(spark, sf_dir)
    return (r.metrics()
            .select("shard", "n_turns", "n_slots", "n_chunks", "n_tokens")
            .orderBy("shard"))


def q49_streaming_windowed_agg(spark, sf_dir):
    """Watermarked tumbling-window aggregation executed as a REAL
    Structured Streaming job (SURVEY §2.6 streaming, under an oracle
    instead of pytest-only): readStream over the events parquet →
    `streaming.windowed_counts` (1-day windows keyed by event_type,
    1-hour watermark) → availableNow trigger → memory sink. Output mode
    is `complete` so the bounded replay is deterministic — every window
    emits regardless of where microbatch boundaries land the watermark
    (append-mode late-row semantics are pinned separately by
    `test_windowed_counts_with_watermark` and the novelty/sketch
    restart-replay tests). The oracle is the equivalent batch GROUP BY
    over day-truncated event time — a streaming engine that dropped,
    double-counted, or misaligned a window breaks the hash."""
    import uuid

    from mdbloom.spark.streaming import windowed_counts

    ev = _t(spark, sf_dir, "events")
    # FileStreamSource requires a DIRECTORY; stage the single-file table
    # once per sf_dir (testdata is read-only)
    skey = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    src_dir = os.path.join(_CACHE_ROOT, f"q49_events_{skey}")
    if not os.path.isdir(src_dir):
        # stage atomically (tmp dir + rename): a crash mid-copy must not
        # leave a half-staged dir that later runs trust
        tmp = f"{src_dir}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        shutil.copy(f"{sf_dir}/events.parquet",
                    os.path.join(tmp, "events.parquet"))
        try:
            os.rename(tmp, src_dir)
        except OSError:  # concurrent stager won the rename
            shutil.rmtree(tmp, ignore_errors=True)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    agg = windowed_counts(stream, "ts", "event_type",
                          window="1 day", watermark="1 hour")
    name = f"q49_win_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("q49 streaming job did not finish in 600s")
    return (spark.table(name)
            .select(F.unix_micros(F.col("window.start"))
                    .alias("win_start_us"),
                    "event_type",
                    F.col("n").cast("bigint").alias("n_events"))
            .orderBy("win_start_us", "event_type"))


def q50_remove_where_search(spark, sf_dir):
    """Predicate-driven bulk delete (`BloomIndexWriter.remove_where`) —
    the GDPR right-to-be-forgotten operator a training-data pipeline
    needs, at the driver-contract level: build a transcript index, erase
    an ENTIRE conversation by SQL predicate (one distributed filter over
    the live storage view, vs. the reference looping
    `ContainerImpl.remove` per victim, `ContainerImpl.java:134-153`),
    then re-run the flagship verified search. The victim conversation is
    derived deterministically from the SOURCE table (min conv_id among
    matching rows), so the oracle re-derives it in SQL and anti-joins the
    whole conversation; re-runs are no-ops (victims already tombstoned
    leave the live view)."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader

    df = _transcripts_table(spark)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=4096)
    ckey = hashlib.md5((cfg.to_json() + ":gdpr").encode()).hexdigest()[:8]
    path = os.path.join(_CACHE_ROOT, f"gdpr_idx_{ckey}")
    writer = BloomIndexWriter(spark, cfg)
    writer.build(df, path, resume=True)
    r = BloomIndexReader(spark, path)
    toks = r.transcript_query_tokens("assistant", "Bash", ["w00002"])
    w = F.split(F.trim("text"), r"\s+")
    victim = (df.where((F.col("role") == "assistant")
                       & (F.col("tool") == "Bash")
                       & F.array_contains(w, "w00002"))
              .agg(F.min("conv_id")).head()[0])
    writer.remove_where(f"conv_id = '{victim}'", path)
    return (r.search_verified(toks, df)
            .select("conv_id", "turn_idx", "role", "tool")
            .orderBy("conv_id", "turn_idx"))


def q51_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (`textops.stratified_sample`) —
    the reproducible language-rebalance step of a training mix, keyed on
    CONTENT hash (top 60 md5 bits) instead of `df.sample`'s
    partition-seeded RNG: membership is a pure codegen filter, identical
    on any cluster shape, and the DuckDB oracle re-derives the exact
    same row set from the same thresholds. Keeps all of zh, half of es,
    a quarter of en, and 10% of everything else."""
    from mdbloom.spark.textops import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(docs, "lang",
                            {"en": 0.25, "zh": 1.0, "es": 0.5},
                            ["doc_id"], default_fraction=0.1, salt="q51")
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


def q52_corpus_mix(spark, sf_dir):
    """Deterministic weighted corpus mixing (`textops.mix_corpora`) —
    blend three sources at 5:3:1 with maximum data retention: the
    binding source is kept whole, the rest hash-downsample to match.
    Thresholds are EXACT integer arithmetic from the per-source counts
    (floor(2^60 * min_j(n_j/w_j) * w_i / n_i) as a min of integer-
    division terms), so the oracle recomputes them bit-for-bit in
    128-bit SQL ints from the same table."""
    from mdbloom.spark.textops import mix_corpora

    docs = _t(spark, sf_dir, "documents")
    parts = [(docs.where(F.col("source") == s), w)
             for s, w in [("src0", 5), ("src1", 3), ("src2", 1)]]
    out = mix_corpora(parts, ["doc_id"], salt="q52")
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


def q53_asof_join(spark, sf_dir):
    """As-of join (`joins.asof_join`) — Spark has no ASOF JOIN and plans
    raw inequality joins as cartesian products; this is the sort-based
    union+window re-expression (one shuffle of |L|+|R| rows on the key):
    every click event gets the latest prior-or-equal 'view' event of the
    same user (left-join semantics, NULLs when no prior view). The right
    side is deduped to unique (user, ts) with a deterministic tiebreak —
    duplicate timestamps make the as-of match ambiguous in any engine —
    and DuckDB's native ASOF LEFT JOIN is the oracle."""
    from mdbloom.spark.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (views.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") == 1)
             .select("user_id", "ts", "event_id", "value"))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    out = asof_join(clicks, views, "user_id", left_ts="ts")
    return (out.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id_r").alias("view_event_id"),
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("view_ts_us"),
        F.col("value").alias("view_value"))
        .orderBy("event_id"))


def q54_range_join(spark, sf_dir):
    """Point-in-interval range join (`joins.range_join_point`) — interval
    binning turns the inequality join Spark would run as
    BroadcastNestedLoopJoin into a bin-bucketed equi-join + exact refine
    (O(points + intervals·span/w) shuffle rows). Parts match OVERLAPPING
    price bands (width 25, stride 12), so multi-match explode
    correctness is exercised; the oracle is DuckDB's plain inequality
    join against the same generated bands."""
    from mdbloom.spark.joins import range_join_point

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    bands = spark.range(10).select(
        F.col("id").cast("int").alias("band_id"),
        (895.0 + 12.0 * F.col("id")).alias("lo"),
        (920.0 + 12.0 * F.col("id")).alias("hi"))
    out = range_join_point(part, bands, "p_retailprice", "lo", "hi", 16.0)
    return (out.select("p_partkey", "band_id")
            .orderBy("p_partkey", "band_id"))


def q55_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS (`textops.dedup_clusters`): connected
    components over the q16 MinHash pair set via iterative min-label
    propagation (2 shuffles/round, rounds = component diameter), the
    step that turns pairwise near-dup output into keep/drop decisions —
    one canonical doc (the min id) per cluster. q16 runs at recall 1 and
    exact verification, so the pair set equals the exact-Jaccard pairs
    and the oracle can cluster the SAME graph with a recursive CTE
    (min reachable id == component min on a symmetric graph)."""
    from mdbloom.spark.textops import dedup_clusters, minhash_near_dups

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dups(docs, num_perm=64, bands=64, n=3,
                              threshold=0.5)
    cl = dedup_clusters(pairs)
    return (cl.select(F.col("node").alias("doc_id"),
                      F.col("cluster").alias("cluster_id"),
                      (F.col("node") == F.col("cluster"))
                      .alias("is_canonical"))
            .orderBy("doc_id"))


def q56_exact_sample(spark, sf_dir):
    """Exact-size deterministic sample (`textops.sample_exact_n`): the
    100 documents with the smallest content hash — reproducible on any
    cluster shape, planned as TakeOrderedAndProject (per-partition
    top-n, no full sort shuffle), and nested (the 150-sample contains
    the 100-sample). The oracle re-derives the identical hash order in
    SQL and takes the same LIMIT."""
    from mdbloom.spark.textops import sample_exact_n

    docs = _t(spark, sf_dir, "documents")
    out = sample_exact_n(docs, ["doc_id"], 100, salt="q56")
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


def q57_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (`similarity.IvfFlatIndex`) — the coarse-quantizer
    scale path next to q22's LSH variant: 8 deterministic hash-sampled
    centroids, vectors partitioned by nearest-centroid list at build
    time, probe reads only the nprobe=2 closest lists (PartitionFilters
    on list_id) + exact cosine top-10. The oracle re-derives the
    centroid sample (same md5 order), every assignment (argmax cosine,
    ties to the lower centroid rank), the probed lists, and the re-rank
    — entirely in SQL.

    Float-order discipline (ADVICE r4, same assumption as q12/q22): the
    Spark side assigns lists via NumPy float64 normalized-matmul argmax
    while the oracle uses DuckDB list_cosine_similarity — for
    near-TIED centroid cosines the two arithmetics could disagree at
    ulp scale and flip an assignment. The synthetic embeddings have no
    such ties (verified empirically by the hash match); a production
    port wanting guaranteed parity would quantize scores before the
    argmax on both sides."""
    import numpy as np
    from mdbloom.spark.similarity import IvfFlatIndex
    emb = _t(spark, sf_dir, "embeddings")
    probe_row = emb.where(F.col("vec_id") == 0).select("embedding").head()
    probe = np.asarray(probe_row[0], dtype=np.float64)
    key = hashlib.md5(f"{sf_dir}:ivf:8".encode()).hexdigest()[:12]
    path = os.path.join(_CACHE_ROOT, f"ivf_idx_{key}")
    try:
        # constructor validates format_version — a cached dir from an
        # older layout raises instead of being silently reinterpreted
        idx = IvfFlatIndex(spark, path)
    except (OSError, ValueError, KeyError):
        shutil.rmtree(path, ignore_errors=True)
        idx = IvfFlatIndex.build(emb.where(F.col("vec_id") != 0), path,
                                 nlist=8, salt="ivf")
    return idx.topk(probe, k=10, nprobe=2).select("vec_id") \
        .orderBy("vec_id")


def q58_conversation_rollup(spark, sf_dir):
    """Per-conversation rollup with the order-pinned text fingerprint
    (`transcripts.conversation_rollup`) — the north rule's 'per-turn
    text equality under stable (conv_id, turn_idx) ordering' invariant
    as a driver-checked query: the oracle recomputes every fingerprint
    with `string_agg(text, chr(1) ORDER BY turn_idx)`, so a single
    reordered / dropped / mutated turn anywhere in the corpus breaks
    the value hash."""
    from mdbloom.spark.transcripts import conversation_rollup
    df = _transcripts_table(spark)
    return (conversation_rollup(df)
            .withColumn("chars", F.col("chars").cast("long"))
            .orderBy("conv_id"))


def q59_context_windows(spark, sf_dir):
    """Sliding context-window assembly (`transcripts.conversation_windows`):
    per turn, the last 4 turns of its conversation as a model context —
    fingerprinted (md5 over \\x01-joined texts) so the oracle pins every
    byte of every window via windowed `string_agg(... ORDER BY
    turn_idx)` without the result carrying the windows themselves."""
    from mdbloom.spark.transcripts import conversation_windows
    df = _transcripts_table(spark)
    return (conversation_windows(df, k=4)
            .orderBy("conv_id", "turn_idx"))


def q60_redaction(spark, sf_dir):
    """PII-style scrubbing (`textops.redact`): replace rare-token
    mentions (w049xx — the tail of the Zipf vocabulary) and count
    matches per document; output fingerprints the rewritten text.
    All-JVM regexp_replace/regexp_count, map-only."""
    from mdbloom.spark.textops import redact
    df = _transcripts_table(spark)
    out = redact(df, r"w049[0-9]{2}", "<RARE>")
    return (out.select("conv_id", "turn_idx", "n_redactions",
                       F.md5("text").alias("text_fp"))
            .where(F.col("n_redactions") > 0)
            .orderBy("conv_id", "turn_idx"))


def q61_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (`textops.pack_sequences`):
    documents laid out in deterministic content-hash order and cut into
    2048-token bins — pure integer window arithmetic, so the oracle
    reproduces every (bin_id, bin_offset) exactly from the same hash
    order and running sum."""
    from mdbloom.spark.textops import pack_sequences, words_col
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(words_col("text")).cast("long"))
    out = pack_sequences(docs, budget=2048, key_cols=["doc_id"],
                         salt="q61")
    return (out.select("doc_id", "n_tokens", "bin_id", "bin_offset")
            .orderBy("doc_id"))


def q62_sft_pairs(spark, sf_dir):
    """SFT (prompt, response) pair extraction (`transcripts.sft_pairs`):
    assistant turns immediately preceded by a user turn in the same
    conversation; both texts pinned via pair_fp = md5(prompt || \\x01 ||
    response). One window lag — the oracle is the same lag in ANSI
    SQL."""
    from mdbloom.spark.transcripts import sft_pairs
    return sft_pairs(_transcripts_table(spark)) \
        .orderBy("conv_id", "turn_idx")


def q63_decontaminate(spark, sf_dir):
    """Benchmark decontamination (`textops.decontaminate`): flag train
    documents sharing any word 5-gram with a 25-doc held-out eval set
    (the deterministic q56-style hash sample, salt 'q63'). Eval-side
    shingles broadcast; the corpus streams map-only through the join —
    the standard pre-training hygiene pass at its real scale shape."""
    from mdbloom.spark.textops import decontaminate, sample_exact_n
    docs = _t(spark, sf_dir, "documents")
    ev = sample_exact_n(docs, ["doc_id"], 25, salt="q63")
    train = docs.join(ev.select("doc_id"), "doc_id", "left_anti")
    return (decontaminate(train, ev, n=5)
            .orderBy("doc_id"))


def q64_repetition_stats(spark, sf_dir):
    """Gopher-rule repetition signals (`textops.repetition_stats`):
    duplicate word/2-gram/3-gram fractions + top-word share per
    document — integer counts divided once at the end, so every double
    is engine-deterministic. The flagged rows (any Gopher threshold
    exceeded) are what a pre-training pipeline drops."""
    from mdbloom.spark.textops import repetition_stats
    docs = _t(spark, sf_dir, "documents")
    out = repetition_stats(docs, max_ngram=3)
    return (out.where(F.col("n_tokens") >= 3)
            .select("doc_id", "n_tokens", "dup_word_frac",
                    "dup_2gram_frac", "dup_3gram_frac", "top_word_frac")
            .orderBy("doc_id"))


def q65_bpe_tokens(spark, sf_dir):
    """BPE-ish regex pretokenization (`textops.bpe_tokens`): GPT-2-shape
    token counts next to whitespace counts, the exact token stream
    pinned by md5 — the prompt's 'token counting (whitespace + a
    BPE-ish regex)' as one map-only query; the oracle recomputes every
    token with the same RE2-safe pattern."""
    from mdbloom.spark.textops import bpe_tokens
    docs = _t(spark, sf_dir, "documents")
    return bpe_tokens(docs).orderBy("doc_id")


_CONV_PQ = os.path.join(_CACHE_ROOT, "conv_table_4000_s42.parquet")


def _conv_table(spark: SparkSession) -> DataFrame:
    """Conversation-granularity view of the flagship transcripts: one row
    per conv_id, texts joined in turn_idx order (deterministic content,
    so the index build's resume fingerprints are stable and the DuckDB
    oracle reads the SAME stored table)."""
    if not os.path.exists(os.path.join(_CONV_PQ, "_SUCCESS")):
        df = _transcripts_table(spark)
        ordered = F.array_sort(
            F.collect_list(F.struct("turn_idx", "text")))
        (df.groupBy("conv_id")
         .agg(F.array_join(F.transform(ordered, lambda s: s["text"]),
                           " ").alias("text"))
         .write.mode("overwrite").parquet(_CONV_PQ))
    return spark.read.parquet(_CONV_PQ)


def q66_conv_membership(spark, sf_dir):
    """CONVERSATION-granularity membership — the Bloofi 'coarser filter
    over merged children' idea (`InnerNode.java:37-52`'s OR-merge) as a
    user-facing operator: per-conversation filters indexed over
    turn-merged texts answer cross-turn conjunctions a per-turn index
    cannot express (token A in one turn AND token B in another).
    Verified search, so the oracle is exact: conversations where both
    tokens appear in ANY turn."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader
    conv = _conv_table(spark)
    cfg = IndexConfig(n_per_record=768, probability=1e-3, n_shards=4,
                      chunk_slots=4096, text_column="text",
                      id_columns=("conv_id",))
    ckey = hashlib.md5(cfg.to_json().encode()).hexdigest()[:8]
    path = os.path.join(_CACHE_ROOT, f"conv_idx_{ckey}")
    BloomIndexWriter(spark, cfg).build(conv, path, resume=True)
    r = BloomIndexReader(spark, path)
    return (r.search_verified(["tok=w00002", "tok=w00042"], conv)
            .select("conv_id").orderBy("conv_id"))


def q67_tool_transitions(spark, sf_dir):
    """Tool-transition mining (`transcripts.tool_transitions`): corpus-
    wide (prev_tool -> tool) bigram counts over consecutive tool-bearing
    turns per conversation — one window lag + one hash-aggregate; the
    oracle is the same lag + GROUP BY in ANSI SQL."""
    from mdbloom.spark.transcripts import tool_transitions
    return (tool_transitions(_transcripts_table(spark))
            .orderBy("prev_tool", "tool"))


def q68_hybrid_search(spark, sf_dir):
    """Hybrid retrieval — the RAG-shaped pipeline composed from the
    engine's own pieces: the Bloom index prunes to documents containing
    BOTH query tokens (verified, exact), then the probe embedding ranks
    the survivors by exact cosine and returns the top-5 ids. At scale
    this is the two-stage shape retrieval systems actually run —
    sub-linear candidate generation feeding a small exact re-rank —
    with both stages already oracle-checked separately (q13, q12)."""
    import numpy as np
    from mdbloom.spark.similarity import cosine_topk
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    cands = (r.search_verified(["tok=spark", "tok=window"], docs)
             .select(F.col("doc_id").alias("vec_id")))
    emb = _t(spark, sf_dir, "embeddings")
    probe = np.asarray(
        emb.where(F.col("vec_id") == 0).head()["embedding"], np.float64)
    vecs = emb.join(cands, "vec_id", "left_semi")
    return (cosine_topk(vecs, probe, k=5)
            .select("vec_id").orderBy("vec_id"))


def q69_ingest_gate(spark, sf_dir):
    """The COMPOSITE pre-training ingest gate — the three hygiene passes
    a batch goes through before touching the corpus, composed in one
    plan: (1) cross-run novelty vs the EXISTING index (`novel_rows` —
    already-indexed content drops out), (2) Gopher quality
    (dup_word_frac <= 0.55), (3) within-batch exact dedup (canonical =
    min id per normalized-text fingerprint). Probe batch = 40 indexed
    docs (all must drop at step 1) + their token-mutated copies (pass
    1, then face 2 and 3). Each stage is oracle-checked alone
    (q34/q64/q07); this query pins their COMPOSITION."""
    from mdbloom.spark.textops import dedup_exact, repetition_stats
    r = _doc_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 40)
    mutated = (base.withColumn("text", F.concat(F.col("text"),
                                                F.lit(" zznovel")))
               .withColumn("doc_id", F.col("doc_id") + 100000))
    probe = base.unionByName(mutated)
    novel = r.novel_rows(probe)
    good = (repetition_stats(novel)
            .where(F.col("dup_word_frac") <= 0.55).select("doc_id"))
    kept = novel.join(good, "doc_id", "left_semi")
    return (dedup_exact(kept).select("doc_id", "lang")
            .orderBy("doc_id"))


_ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness sf


def _ivf_trained_cents(sf_dir: str = _ORACLE_SF_DIR, nlist: int = 8,
                       iters: int = 3) -> "np.ndarray":
    """The q70 trained codebook, Spark-free: replay the engine's
    deterministic hash-sample order (``md5('ivf_' || vec_id)``, then
    vec_id — exactly `similarity.ivf_train_centroids`'s sort) over the
    parquet file and run the SAME `lloyd_spherical` float64 iterations.
    Training is a pure function of the ordered sample, so this equals
    the Spark-side codebook BITWISE (pinned by
    tests/test_textops_similarity.py) — which is what lets the q70
    oracle receive the final centroids as SQL literals."""
    import duckdb as _dd
    import numpy as np

    from mdbloom.spark.similarity import lloyd_spherical
    pdf = _dd.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') "
        f"WHERE vec_id <> 0").df()
    ids = pdf["vec_id"].to_numpy()
    keys = np.array([hashlib.md5(f"ivf_{i}".encode()).hexdigest()
                     for i in ids])
    order = np.lexsort((ids, keys))
    mat = np.stack(pdf["embedding"].to_numpy())[order].astype(np.float64)
    return lloyd_spherical(mat, nlist, iters=iters)


def q70_ivf_trained_topk(spark, sf_dir):
    """q57's IVF probe with a TRAINED codebook (VERDICT r4 item 5):
    `similarity.ivf_train_centroids` — deterministic hash-sample order +
    spherical Lloyd, no RNG, one matmul per iteration — replaces the
    sampled bootstrap through the unchanged ``centroids=`` injection
    point; build/probe/re-rank code is identical to q57. The oracle
    receives the FINAL trained centroids as DOUBLE[] literals
    (bit-identical by construction — `_ivf_trained_cents` replays the
    training Spark-free from the same parquet) and re-derives every
    list assignment, the nprobe=2 probe set and the exact top-10
    re-rank in SQL. Float-order discipline: the same near-tie
    assumption as q57 (see its docstring)."""
    import numpy as np

    from mdbloom.spark.similarity import IvfFlatIndex, ivf_train_centroids
    emb = _t(spark, sf_dir, "embeddings")
    probe = np.asarray(
        emb.where(F.col("vec_id") == 0).select("embedding").head()[0],
        dtype=np.float64)
    nlist, iters = 8, 3
    # keyed by the fixture's bytes too: a changed embeddings table
    # retrains instead of serving a stale codebook
    with open(f"{sf_dir}/embeddings.parquet", "rb") as f:
        token = hashlib.md5(f.read()).hexdigest()[:12]
    key = hashlib.md5(f"{sf_dir}:ivftrained:{nlist}:{iters}:{token}"
                      .encode()).hexdigest()[:12]
    path = os.path.join(_CACHE_ROOT, f"ivf_tr_idx_{key}")
    try:
        idx = IvfFlatIndex(spark, path)
    except (OSError, ValueError, KeyError):
        shutil.rmtree(path, ignore_errors=True)
        rest = emb.where(F.col("vec_id") != 0)
        cents = ivf_train_centroids(rest, nlist, iters=iters)
        idx = IvfFlatIndex.build(rest, path, nlist=nlist, centroids=cents)
    return (idx.topk(probe, k=10, nprobe=2).select("vec_id")
            .orderBy("vec_id"))


def _ivf_trained_oracle_sql() -> str:
    """q70 oracle: the trained centroids as literals (computed by the
    shared Spark-free replay — sf0.01, the driver's correctness scale),
    then q57's assignment/probe/re-rank SQL verbatim."""
    cmat = _ivf_trained_cents()
    rows = ",".join(
        "(%d, [%s]::DOUBLE[])" % (i, ",".join(repr(float(x)) for x in c))
        for i, c in enumerate(cmat))
    return f"""
        WITH cents AS (SELECT * FROM (VALUES {rows}) AS t(cid, cv)),
        assign AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                                    e.embedding, c.cv) DESC,
                                c.cid) AS rk
            FROM embeddings e, cents c WHERE e.vec_id <> 0),
        probe AS (SELECT embedding AS pv FROM embeddings
                  WHERE vec_id = 0),
        plists AS (
            SELECT cid FROM cents, probe
            ORDER BY list_cosine_similarity(pv, cv) DESC, cid
            LIMIT 2),
        cand AS (
            SELECT a.vec_id FROM assign a
            JOIN plists USING (cid) WHERE a.rk = 1),
        scored AS (
            SELECT c.vec_id,
                   list_cosine_similarity(e.embedding, pv) AS cosine
            FROM cand c JOIN embeddings e USING (vec_id), probe)
        SELECT vec_id FROM (
            SELECT vec_id FROM scored
            ORDER BY cosine DESC, vec_id LIMIT 10)
        ORDER BY vec_id
    """


_KV_SERVER: list = []


def _socket_kv_port() -> int:
    """Spawn (once per driver process) the OUT-OF-PROCESS socket KV
    server q72's index stores its values in (`kvserver.spawn_kv_server`
    — a stdlib TCP subprocess, the reference's IgniteStorage deployment
    shape), terminated at interpreter exit. A fresh driver process gets
    a fresh empty server, so the build's storage-existence guard forces
    a clean rebuild instead of resuming onto missing values."""
    if not _KV_SERVER:
        import atexit

        from mdbloom.spark.kvserver import spawn_kv_server
        proc, port = spawn_kv_server()
        atexit.register(proc.terminate)
        _KV_SERVER.append((proc, port))
    return _KV_SERVER[0][1]


def q72_socket_storage_search(spark, sf_dir):
    """q38's verified-search semantics with the value multimap living
    ACROSS A REAL PROCESS BOUNDARY (VERDICT r4 item 8): a stdlib TCP KV
    server subprocess (`mdbloom/spark/kvserver.py` — the live
    counterpart of `IgniteStorage.java:48-101`, client put/get/scan
    through a `Serde`) holds every payload row; the shared index
    artifacts stay on disk. Same ANSI oracle as q13/q38: storage
    placement — in-process, driver-resident, or networked — cannot
    change query answers. Failure semantics (server killed -> resume
    guard fires; unreachable read fails loudly) are pinned by
    tests/test_kv_socket_storage.py."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.kvserver import SocketKVStorage
    from mdbloom.spark.query import BloomIndexReader
    from mdbloom.spark.storage import register_storage_backend

    register_storage_backend(
        "socket", SocketKVStorage("127.0.0.1", _socket_kv_port()))
    cfg = IndexConfig(n_per_record=32, probability=1e-3, n_shards=8,
                      chunk_slots=4096, tag_columns=("lang", "source"),
                      text_column="text", id_columns=("doc_id",),
                      payload_columns=("lang", "source"),
                      storage_backend="socket")
    key = hashlib.md5((sf_dir + cfg.to_json()).encode()).hexdigest()[:12]
    path = os.path.join(_CACHE_ROOT, f"docs_idx_sock_{key}")
    docs = _t(spark, sf_dir, "documents")
    BloomIndexWriter(spark, cfg).build(docs, path, resume=True)
    r = BloomIndexReader(spark, path)
    toks = ["lang=es", "tok=spark", "tok=window"]
    return (r.search_verified(toks, docs)
            .select("doc_id", "lang")
            .orderBy("doc_id"))


# q73's staged fixture: rows of (event_type, minutes past the anchor,
# stage) for each availableNow run, and the (window, watermark) pair.
# Their content token names the cache dir, so a changed fixture stages a
# fresh source and sink instead of serving a stale sink. Run 1 advances
# the watermark to 10:35 - 10min = 10:25, closing 10:00-10:10. In run 2,
# D@10:02 is beyond the watermark (window end 10:10 <= 10:25 -> dropped);
# L@10:28's window (10:20-10:30) is still open -> counted; C@11:00
# counts; F@11:55 advances the final watermark to 11:45 but its own
# window stays open.
_Q73_BASE = 1767261600  # 2026-01-01T10:00:00Z — fixture anchor
_Q73_WINDOW = ("10 minutes", "10 minutes")
_Q73_STAGES = (
    (("A", 0, 1), ("A", 5, 1), ("B", 30, 1), ("B", 35, 1)),
    (("D", 2, 2), ("L", 28, 2), ("C", 60, 2), ("F", 115, 2)),
)
_Q73_TOKEN = hashlib.md5(repr((_Q73_BASE, _Q73_WINDOW, _Q73_STAGES))
                         .encode()).hexdigest()[:12]
_Q73_SRC = os.path.join(_CACHE_ROOT, f"q73_latedata_{_Q73_TOKEN}", "src")


def q73_watermark_late_data(spark, sf_dir):
    """Streaming LATE-DATA semantics under an oracle (VERDICT r4 item
    9; q49 covers windowed aggregation itself): two sequential
    availableNow runs over one checkpoint in APPEND mode, with the
    second batch planting (a) a late row INSIDE the watermark — its
    window is still open, it must be counted — and (b) a late row
    BEYOND the watermark — its window's state was evicted after run 1,
    it must be dropped — plus a flush row whose own window stays open
    (excluded from the sink). The staged source parquet carries the
    stage number, so the DuckDB oracle re-derives the watermark rule
    DECLARATIVELY: wm₁ = max(stage-1 ts) − delay; drop stage-2 rows
    whose window end ≤ wm₁; emit only windows closed by the final
    watermark. Fixture times sit well away from boundary equality, so
    <=-vs-< eviction conventions cannot flip a row."""
    from mdbloom.spark.streaming import windowed_counts
    root = os.path.dirname(_Q73_SRC)
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(_Q73_SRC, exist_ok=True)

        def stage(rows):
            (spark.createDataFrame(
                rows, "event_type string, minutes int, stage int")
             .select("event_type",
                     F.timestamp_seconds(F.lit(_Q73_BASE)
                                         + F.col("minutes") * 60)
                     .alias("ts"), "stage")
             .coalesce(1).write.mode("append").parquet(_Q73_SRC))

        def run_once():
            import uuid
            stream = (spark.readStream
                      .schema("event_type string, ts timestamp, "
                              "stage int")
                      .parquet(_Q73_SRC))
            window, watermark = _Q73_WINDOW
            agg = windowed_counts(stream, "ts", "event_type",
                                  window=window, watermark=watermark)
            q = (agg.writeStream.outputMode("append").format("parquet")
                 .option("path", sink)
                 .option("checkpointLocation", ckpt)
                 .queryName(f"q73_{uuid.uuid4().hex[:8]}")
                 .trigger(availableNow=True).start())
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError("q73 streaming run stalled")

        for rows in _Q73_STAGES:
            stage(rows)
            run_once()
        with open(done, "w") as f:
            f.write("ok")
    out = spark.read.parquet(sink)
    return (out.select(F.unix_micros(F.col("window.start"))
                       .alias("win_start_us"),
                       "event_type",
                       F.col("n").cast("long").alias("n_events"))
            .orderBy("win_start_us", "event_type"))


def _bpe_piece_rows(sf_dir: str = _ORACLE_SF_DIR,
                    num_merges: int = 150) -> list[tuple[str, int]]:
    """(pretoken, n_pieces) for every distinct corpus pretoken,
    Spark-free: re-pretokenize the parquet with Python ``re`` (the
    pattern is the RE2∩Java common subset q65 already proves
    cross-engine), retrain the merge table with the SAME
    `train_bpe_from_vocab` pure function, and greedy-apply — the q71
    oracle materializes this derived piece table as literals
    (bit-equality of the two training paths pinned by
    tests/test_textops_similarity.py). The merge ALGORITHM itself is
    verified against the published toy example + property tests, not by
    the oracle (iterative pair merging is not reasonably expressible in
    ANSI SQL)."""
    import collections
    import re

    import duckdb as _dd

    from mdbloom.spark.textops import (BPE_ISH_PATTERN, bpe_segment,
                                       train_bpe_from_vocab)
    texts = _dd.sql(
        f"SELECT text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')").df()["text"]
    pat = re.compile(BPE_ISH_PATTERN)
    counts: collections.Counter = collections.Counter()
    for t in texts:
        counts.update(pat.findall(t))
    vocab = dict(sorted(counts.items(),
                        key=lambda kv: (-kv[1], kv[0]))[:32768])
    merges = train_bpe_from_vocab(vocab, num_merges)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    return sorted((pt, len(bpe_segment(pt, ranks))) for pt in counts)


def q71_bpe_merged_counts(spark, sf_dir):
    """REAL BPE over the corpus (VERDICT r4 item 7 — the upgrade over
    q65's pretokenize-only counts): `textops.bpe_train_merges` learns
    150 merges from the exact pretoken frequency table (deterministic,
    ties lexicographic), `textops.bpe_encode_counts` applies them
    engine-side to the DISTINCT pretokens only (vocabulary-scale Arrow
    batch) and broadcast-joins the piece counts back. The oracle
    receives the derived (pretoken -> piece count) table as literals
    from the Spark-free training replay (`_bpe_piece_rows`) and
    recomputes every document's merged-token count in SQL."""
    from mdbloom.spark.textops import bpe_encode_counts, bpe_train_merges
    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train_merges(docs, num_merges=150)
    return bpe_encode_counts(docs, merges).orderBy("doc_id")


def _bpe_oracle_sql() -> str:
    rows = ",".join(
        "('%s', %d)" % (pt.replace("'", "''"), n)
        for pt, n in _bpe_piece_rows())
    return f"""
        WITH pieces(pt, n_pieces) AS (VALUES {rows}),
        ex AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(text, '{_BPE_PAT}')) AS pt
            FROM documents)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pretokens,
               CAST(SUM(n_pieces) AS BIGINT) AS n_bpe_pieces
        FROM ex JOIN pieces USING (pt)
        GROUP BY doc_id
        ORDER BY doc_id
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_top_revenue_orders": q02_top_revenue_orders,
        "q03_events_by_type": q03_events_by_type,
        "q04_user_top_event": q04_user_top_event,
        "q05_sessionize": q05_sessionize,
        "q06_rollup_events": q06_rollup_events,
        "q07_dedup_exact": q07_dedup_exact,
        "q08_fingerprint": q08_fingerprint,
        "q09_token_stats": q09_token_stats,
        "q10_lang_quality": q10_lang_quality,
        "q11_ngram_jaccard": q11_ngram_jaccard,
        "q12_cosine_topk": q12_cosine_topk,
        "q13_bloom_search_verified": q13_bloom_search_verified,
        "q14_bloom_search_raw": q14_bloom_search_raw,
        "q15_bloom_exact_get": q15_bloom_exact_get,
        "q16_minhash_near_dups": q16_minhash_near_dups,
        "q17_simhash_near_dups": q17_simhash_near_dups,
        "q18_hll_distinct": q18_hll_distinct,
        "q19_cms_heavy_hitters": q19_cms_heavy_hitters,
        "q20_kll_quantiles": q20_kll_quantiles,
        "q21_tdigest_quantiles": q21_tdigest_quantiles,
        "q22_ann_lsh_topk": q22_ann_lsh_topk,
        "q23_multimodal_features": q23_multimodal_features,
        "q24_transcript_membership": q24_transcript_membership,
        "q25_bloom_get_payload": q25_bloom_get_payload,
        "q26_set_ops": q26_set_ops,
        "q27_json_props": q27_json_props,
        "q28_cosine_near_dups": q28_cosine_near_dups,
        "q29_bloom_search_linear": q29_bloom_search_linear,
        "q30_bloom_get_many": q30_bloom_get_many,
        "q31_bloom_search_linear_many": q31_bloom_search_linear_many,
        "q32_remove_exact_search": q32_remove_exact_search,
        "q33_search_verified_many": q33_search_verified_many,
        "q34_novelty_filter": q34_novelty_filter,
        "q35_bloom_search_slab_sql": q35_bloom_search_slab_sql,
        "q36_datasource_search": q36_datasource_search,
        "q37_sink_write_search": q37_sink_write_search,
        "q38_storage_spi_memory": q38_storage_spi_memory,
        "q39_bitexact_get": q39_bitexact_get,
        "q40_container_counts": q40_container_counts,
        "q41_shape_math": q41_shape_math,
        "q42_tree_pruned_search": q42_tree_pruned_search,
        "q43_incremental_resume_search": q43_incremental_resume_search,
        "q44_skew_salted_search": q44_skew_salted_search,
        "q45_memory_storage_get": q45_memory_storage_get,
        "q46_ewah_bitmap_index": q46_ewah_bitmap_index,
        "q47_all_strategies_search": q47_all_strategies_search,
        "q48_partition_lineage": q48_partition_lineage,
        "q49_streaming_windowed_agg": q49_streaming_windowed_agg,
        "q50_remove_where_search": q50_remove_where_search,
        "q51_stratified_sample": q51_stratified_sample,
        "q52_corpus_mix": q52_corpus_mix,
        "q53_asof_join": q53_asof_join,
        "q54_range_join": q54_range_join,
        "q55_dedup_clusters": q55_dedup_clusters,
        "q56_exact_sample": q56_exact_sample,
        "q57_ivf_topk": q57_ivf_topk,
        "q58_conversation_rollup": q58_conversation_rollup,
        "q59_context_windows": q59_context_windows,
        "q60_redaction": q60_redaction,
        "q61_pack_sequences": q61_pack_sequences,
        "q62_sft_pairs": q62_sft_pairs,
        "q63_decontaminate": q63_decontaminate,
        "q64_repetition_stats": q64_repetition_stats,
        "q65_bpe_tokens": q65_bpe_tokens,
        "q66_conv_membership": q66_conv_membership,
        "q67_tool_transitions": q67_tool_transitions,
        "q68_hybrid_search": q68_hybrid_search,
        "q69_ingest_gate": q69_ingest_gate,
        "q70_ivf_trained_topk": q70_ivf_trained_topk,
        "q71_bpe_merged_counts": q71_bpe_merged_counts,
        "q72_socket_storage_search": q72_socket_storage_search,
        "q73_watermark_late_data": q73_watermark_late_data,
    }


# ----------------------------------------------------------------- oracles

_WORDS = r"regexp_split_to_array(trim(text), '\s+')"

# the ONE source of the BPE-ish pretokenizer pattern (textops), so the
# Spark query and the q65 oracle cannot drift
from mdbloom.spark.textops import BPE_ISH_PATTERN as _BPE_PAT  # noqa: E402


def _jaccard_oracle_sql(max_shingle_df: int | None,
                        threshold: float = 0.5) -> str:
    """Exact word-3-gram Jaccard pairs in DuckDB SQL, optionally applying
    the same shingle document-frequency cap as the Spark side."""
    cap = ""
    src = "sh"
    if max_shingle_df:
        cap = f""",
            keep AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) <= {max_shingle_df}),
            shc AS (SELECT doc_id, shingle FROM sh JOIN keep USING (shingle))"""
        src = "shc"
    return rf"""
        WITH d AS (
            SELECT doc_id, {_WORDS} AS words FROM documents
            WHERE len({_WORDS}) >= 3),
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(words[i:i+2], ' ') AS shingle
            FROM d, UNNEST(range(1, len(words) - 1)) AS t(i)){cap},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM {src} GROUP BY 1),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) AS shared
            FROM {src} a JOIN {src} b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT id_a, id_b,
               CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared)
                   AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared)
              >= {threshold}
        ORDER BY id_a, id_b
    """


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """All-pairs hamming over the same md5-derived 64-bit SimHash the
    Spark side computes (textops.simhash64_sql) — bit-for-bit mirror
    (UBIGINT carries the same bit pattern as Spark's signed long; shifts
    are replaced by decimal literals because DuckDB's `1<<63` overflows)."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64))
    assemble = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::UBIGINT ELSE 0::UBIGINT END)"
        for b in range(64))
    return rf"""
        WITH tok AS (
            SELECT doc_id, unnest({_WORDS}) AS w FROM documents),
        h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h
              FROM tok),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
        s AS (SELECT doc_id, {assemble} AS simhash FROM v)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                   AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        ORDER BY id_a, id_b
    """


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_disc_price,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(12,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(12,4)))) AS DECIMAL(28,6)) AS DOUBLE) AS sum_charge,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS avg_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS avg_price,
                   CAST(sum(CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q02_top_revenue_orders": """
            SELECT o_orderkey, c_name,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS DECIMAL(28,4)) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
            GROUP BY o_orderkey, c_name
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "q03_events_by_type": """
            SELECT event_type,
                   count(*) AS n,
                   count(DISTINCT user_id) AS n_users,
                   CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value,
                   CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS avg_value
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q04_user_top_event": """
            SELECT user_id, event_id, value FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id) AS rn
                FROM events) WHERE rn = 1 ORDER BY user_id
        """,
        "q05_sessionize": """
            WITH g AS (
                SELECT user_id,
                       CASE WHEN lag(CAST(epoch(ts) AS BIGINT)) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id)
                                 IS NULL
                         OR CAST(epoch(ts) AS BIGINT)
                            - lag(CAST(epoch(ts) AS BIGINT)) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id)
                            > 1800
                       THEN 1 ELSE 0 END AS new_s
                FROM events)
            SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "q06_rollup_events": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY ROLLUP (event_type)
            ORDER BY event_type NULLS FIRST
        """,
        "q07_dedup_exact": r"""
            SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
                   count(*) AS n_dups,
                   min(doc_id) AS canonical_id
            FROM documents
            GROUP BY 1 HAVING count(*) > 1 ORDER BY fp
        """,
        "q08_fingerprint": r"""
            SELECT doc_id,
                   md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
            FROM documents ORDER BY doc_id
        """,
        "q09_token_stats": rf"""
            SELECT doc_id,
                   CAST(len({_WORDS}) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len(list_distinct({_WORDS})) AS BIGINT) AS n_distinct_tokens,
                   CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                       / len({_WORDS}) AS avg_token_len
            FROM documents ORDER BY doc_id
        """,
        "q10_lang_quality": rf"""
            SELECT doc_id,
                   CAST(len(list_intersect(list_distinct({_WORDS}),
                        ['the','and','of','to','in','is','a','for'])) AS DOUBLE) / 8 AS score_en,
                   CAST(len(list_intersect(list_distinct({_WORDS}),
                        ['el','la','de','que','y','en','los','se'])) AS DOUBLE) / 8 AS score_es,
                   CAST(len(list_intersect(list_distinct({_WORDS}),
                        ['der','die','und','das','von','zu','mit','ist'])) AS DOUBLE) / 8 AS score_de,
                   CAST(len(list_intersect(list_distinct({_WORDS}),
                        ['le','la','de','et','les','des','en','une'])) AS DOUBLE) / 8 AS score_fr,
                   CAST(len(list_filter({_WORDS},
                        x -> regexp_matches(x, '^[A-Za-z]{{2,20}}$'))) AS DOUBLE)
                       / len({_WORDS}) AS quality
            FROM documents ORDER BY doc_id
        """,
        "q11_ngram_jaccard": _jaccard_oracle_sql(max_shingle_df=100),
        # q14: the oracle rebuilds every Bloom filter from the raw tables
        # (md5 -> LE (h1,h2) -> enhanced double hashing, bit-identical to
        # hashing.py) and reproduces the raw hit set INCLUDING false
        # positives — see _bloom_raw_oracle_sql
        "q14_bloom_search_raw": _bloom_raw_oracle_sql(
            ["tok=spark", "tok=window"]),
        # q36 = q14's raw semantics via spark.read.format("mdbloom") —
        # fourth read surface, same independently-re-derived oracle
        "q36_datasource_search": _bloom_raw_oracle_sql(
            ["tok=spark", "tok=window"]),
        # q37 = the same raw semantics over an index created through the
        # WRITE sink (overwrite -> fold -> unfolded append): the oracle
        # re-derives stored AND pending-tail filters from raw documents
        "q37_sink_write_search": _bloom_raw_oracle_sql(
            ["tok=spark", "tok=window"]),
        "q15_bloom_exact_get": rf"""
            WITH q AS (
                SELECT lang, source,
                       list_sort(list_distinct({_WORDS})) AS ws
                FROM documents WHERE doc_id = 0)
            SELECT d.doc_id
            FROM documents d, q
            WHERE d.lang = q.lang AND d.source = q.source
              AND list_sort(list_distinct(regexp_split_to_array(
                      trim(d.text), '\s+'))) = q.ws
            ORDER BY d.doc_id
        """,
        # q39 = q15's exact-get semantics via the PHYSICAL bit-compare
        # path (slab narrowing + popcount equality, no content key) ->
        # identical oracle: get strategy cannot change answers
        "q39_bitexact_get": rf"""
            WITH q AS (
                SELECT lang, source,
                       list_sort(list_distinct({_WORDS})) AS ws
                FROM documents WHERE doc_id = 0)
            SELECT d.doc_id
            FROM documents d, q
            WHERE d.lang = q.lang AND d.source = q.source
              AND list_sort(list_distinct(regexp_split_to_array(
                      trim(d.text), '\s+'))) = q.ws
            ORDER BY d.doc_id
        """,
        # q40: value_count = live rows; filter_count = distinct
        # content-addressed filters = distinct canonical token sets
        "q40_container_counts": rf"""
            SELECT CAST(COUNT(*) AS BIGINT) AS value_count,
                   CAST(COUNT(DISTINCT lang || '|' || source || '|' ||
                        array_to_string(list_sort(list_distinct({_WORDS})),
                                        ' ')) AS BIGINT) AS filter_count
            FROM documents
        """,
        # q41: Shape (n,p)->(m,k) recomputed from the published formulas
        "q41_shape_math": """
            WITH s(n, p) AS (VALUES (3, 1e-4), (3, 1.0/3000000),
                             (32, 1e-3), (40, 1e-3)),
            c AS (SELECT n,
                         CAST(ceil(n * ln(p) / -(ln(2)*ln(2))) AS INT)
                             AS m
                  FROM s)
            SELECT n, m,
                   CAST(round((CAST(m AS DOUBLE) / n) * ln(2), 0) AS INT)
                       AS k,
                   CAST(floor((m + 63) / 64.0) AS INT) AS words
            FROM c ORDER BY n, m
        """,
        # q16 at bands=num_perm has recall 1 (up to 2^-64 per pair) and
        # precision 1 (exact verify) -> its output IS the exact-Jaccard
        # pair set, uncapped
        "q16_minhash_near_dups": _jaccard_oracle_sql(max_shingle_df=None),
        "q17_simhash_near_dups": _simhash_oracle_sql(max_hamming=3),
        # q18: the ENTIRE HLL path is deterministic ANSI SQL (60-bit
        # md5-prefix hash, p=14 buckets, rho via exact bin-length, max per
        # register, alpha/linear-counting estimate), so DuckDB recomputes
        # the identical registers and estimate; round(6) both sides
        # absorbs libm ulp in ln/pow. m = 2^14 = 16384, width = 46.
        "q18_hll_distinct": """
            WITH h AS (
                SELECT event_type,
                       ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                           ::BIGINT AS hv
                FROM events WHERE user_id IS NOT NULL),
            r AS (
                SELECT event_type, hv >> 46 AS idx,
                       MAX(CASE WHEN (hv & 70368744177663) = 0 THEN 47
                           ELSE 47 - length(bin(hv & 70368744177663))
                           END) AS rho
                FROM h GROUP BY 1, 2),
            agg AS (
                SELECT event_type, COUNT(*) AS nz,
                       SUM(POWER(2.0, -rho)) AS ssum
                FROM r GROUP BY 1),
            est AS (
                SELECT event_type, 16384 - nz AS v,
                       (0.7213 / (1.0 + 1.079 / 16384)) * 16384.0 * 16384.0
                           / (ssum + (16384 - nz)) AS e
                FROM agg)
            SELECT event_type,
                   ROUND(CASE WHEN e <= 2.5 * 16384 AND v > 0
                              THEN 16384.0 * LN(16384.0 / v)
                              ELSE e END, 6) AS hll_users
            FROM est ORDER BY event_type
        """,
        # CMS is deterministic and, when #distinct keys << sketch width
        # (5 event types vs w=e/eps~27k cells/row), provably collision-free
        # -> estimates EQUAL exact counts; the oracle asserts exactly that
        "q19_cms_heavy_hitters": """
            SELECT event_type, count(*) AS est_count
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # q22: md5-Rademacher hyperplanes -> every LSH signature, the
        # multiprobe candidate set (hamming <= 1) and the exact-cosine
        # re-rank are all recomputed independently in SQL
        "q22_ann_lsh_topk": """
            WITH s AS (
                SELECT t, b, d,
                       CASE WHEN ('0x' || substr(md5('lsh_1234_' || t ||
                                  '_' || b || '_' || d), 1, 1))::INT >= 8
                            THEN -1.0 ELSE 1.0 END AS sgn
                FROM range(4) tt(t), range(10) bb(b), range(64) dd(d)),
            elem AS (
                SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
                FROM embeddings, range(64) r(i)),
            proj AS (
                SELECT e.vec_id, s.t, s.b, SUM(e.x * s.sgn) AS p
                FROM elem e JOIN s ON s.d = e.i
                GROUP BY 1, 2, 3),
            sig AS (
                SELECT vec_id, t,
                       SUM(CASE WHEN p > 0 THEN (1::BIGINT << b)
                           ELSE 0 END) AS bucket
                FROM proj GROUP BY 1, 2),
            pr AS (SELECT t, bucket AS pb FROM sig WHERE vec_id = 0),
            cand AS (
                SELECT DISTINCT g.vec_id
                FROM sig g JOIN pr ON g.t = pr.t
                WHERE g.vec_id <> 0
                  AND bit_count(xor(g.bucket, pr.pb)) <= 1),
            probe AS (SELECT embedding AS pv FROM embeddings
                      WHERE vec_id = 0),
            scored AS (
                SELECT c.vec_id,
                       list_cosine_similarity(e.embedding, pv) AS cosine
                FROM cand c JOIN embeddings e USING (vec_id), probe)
            SELECT vec_id FROM (
                SELECT vec_id FROM scored
                ORDER BY cosine DESC, vec_id LIMIT 10)
            ORDER BY vec_id
        """,
        # q28: same md5-Rademacher planes as q22 (nbits=8, 2 tables);
        # candidate pairs share a (table, bucket), verified at exact
        # cosine >= 0.9 — the full near-dup pipeline recomputed in SQL
        "q28_cosine_near_dups": """
            WITH s AS (
                SELECT t, b, d,
                       CASE WHEN ('0x' || substr(md5('lsh_1234_' || t ||
                                  '_' || b || '_' || d), 1, 1))::INT >= 8
                            THEN -1.0 ELSE 1.0 END AS sgn
                FROM range(2) tt(t), range(8) bb(b), range(64) dd(d)),
            elem AS (
                SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
                FROM embeddings, range(64) r(i)),
            proj AS (
                SELECT e.vec_id, s.t, s.b, SUM(e.x * s.sgn) AS p
                FROM elem e JOIN s ON s.d = e.i
                GROUP BY 1, 2, 3),
            sig AS (
                SELECT vec_id, t,
                       SUM(CASE WHEN p > 0 THEN (1::BIGINT << b)
                           ELSE 0 END) AS bucket
                FROM proj GROUP BY 1, 2),
            cand AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM sig a JOIN sig b
                  ON a.t = b.t AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id)
            SELECT id_a, id_b
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.id_a
            JOIN embeddings eb ON eb.vec_id = c.id_b
            WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.9
            ORDER BY id_a, id_b
        """,
        # q21: delta=1e6 t-digest over globally pre-aggregated
        # (value, count) centroids = the exact weighted histogram; the
        # quantile is np.interp over (cum(w) - w/2, mean) with
        # mean = (w*v)/w — every IEEE op mirrored below in the same order
        "q21_tdigest_quantiles": """
            WITH qs(q) AS (
                SELECT * FROM (VALUES (0.001), (0.01), (0.5), (0.99),
                               (0.999))),
            cent AS (
                SELECT value,
                       CAST(COUNT(*) AS DOUBLE) AS w,
                       (CAST(COUNT(*) AS DOUBLE) * value)
                           / CAST(COUNT(*) AS DOUBLE) AS m
                FROM events WHERE value IS NOT NULL GROUP BY value),
            c2 AS (
                SELECT m, w,
                       SUM(w) OVER (ORDER BY value) - w / 2 AS cum,
                       ROW_NUMBER() OVER (ORDER BY value) AS r
                FROM cent),
            bounds AS (
                SELECT MIN(value) AS mn, MAX(value) AS mx,
                       CAST(COUNT(value) AS DOUBLE) AS total
                FROM events),
            t AS (
                SELECT CAST(q AS DOUBLE) AS q,
                       CAST(q AS DOUBLE) * total AS tt, mn, mx
                FROM qs, bounds),
            j AS (
                SELECT t.q, t.tt, t.mn, t.mx,
                       (SELECT MAX(r) FROM c2 WHERE cum <= t.tt) AS jj
                FROM t)
            SELECT j.q AS q,
                   CASE WHEN j.jj IS NULL THEN j.mn
                        WHEN j.jj >= (SELECT MAX(r) FROM c2) THEN j.mx
                        ELSE lo.m + ((hi.m - lo.m) / (hi.cum - lo.cum))
                                 * (j.tt - lo.cum)
                   END AS value
            FROM j
            LEFT JOIN c2 lo ON lo.r = j.jj
            LEFT JOIN c2 hi ON hi.r = j.jj + 1
            ORDER BY q
        """,
        # q20: at k=32768 the KLL never compacts at this scale (10k rows)
        # -> every item kept at weight 1, quantile = exact order statistic
        # at 1-based rank max(ceil(q*n), 1); q*n formed in float64 on both
        # sides so the ceil agrees (0.01*10000 is NOT exactly 100 in
        # binary; DECIMAL arithmetic here would disagree with the engine)
        "q20_kll_quantiles": """
            WITH qs(q) AS (
                SELECT * FROM (VALUES (0.01), (0.25), (0.5), (0.75),
                               (0.99))),
            ordered AS (
                SELECT value, row_number() OVER (ORDER BY value) AS r
                FROM events WHERE value IS NOT NULL),
            n AS (SELECT COUNT(value) AS c FROM events)
            SELECT CAST(q AS DOUBLE) AS q, value
            FROM qs, ordered, n
            WHERE r = GREATEST(CAST(CEIL(CAST(q AS DOUBLE) * c)
                                    AS BIGINT), 1)
            ORDER BY q
        """,
        "q12_cosine_topk": """
            WITH probe AS (SELECT embedding AS p FROM embeddings
                           WHERE vec_id = 0),
            scored AS (
                SELECT vec_id,
                       list_cosine_similarity(embedding, p) AS cosine
                FROM embeddings, probe WHERE vec_id <> 0)
            SELECT CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
                        AS INT) AS rank,
                   vec_id
            FROM scored
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """,
        "q13_bloom_search_verified": rf"""
            SELECT doc_id, lang FROM documents
            WHERE lang = 'es'
              AND list_contains({_WORDS}, 'spark')
              AND list_contains({_WORDS}, 'window')
            ORDER BY doc_id
        """,
        # q29 = q13's semantics via the distributed Linear (I1) strategy
        # -> identical oracle (two physical paths, one ANSI-SQL truth)
        "q29_bloom_search_linear": rf"""
            SELECT doc_id, lang FROM documents
            WHERE lang = 'es'
              AND list_contains({_WORDS}, 'spark')
              AND list_contains({_WORDS}, 'window')
            ORDER BY doc_id
        """,
        # q35 = q13's semantics via the all-JVM bit-sliced slab kernel
        # -> identical oracle (THREE physical paths, one ANSI-SQL truth)
        "q35_bloom_search_slab_sql": rf"""
            SELECT doc_id, lang FROM documents
            WHERE lang = 'es'
              AND list_contains({_WORDS}, 'spark')
              AND list_contains({_WORDS}, 'window')
            ORDER BY doc_id
        """,
        # q38 = q13's semantics with the value multimap in the MEMORY
        # storage backend (Storage/Serde SPI) -> identical oracle:
        # storage placement must not change answers
        "q38_storage_spi_memory": rf"""
            SELECT doc_id, lang FROM documents
            WHERE lang = 'es'
              AND list_contains({_WORDS}, 'spark')
              AND list_contains({_WORDS}, 'window')
            ORDER BY doc_id
        """,
        # q72 = q38's exact semantics with the values across a real
        # process boundary (socket KV subprocess) — same oracle.
        "q72_socket_storage_search": rf"""
            SELECT doc_id, lang FROM documents
            WHERE lang = 'es'
              AND list_contains({_WORDS}, 'spark')
              AND list_contains({_WORDS}, 'window')
            ORDER BY doc_id
        """,
        "q25_bloom_get_payload": rf"""
            WITH q AS (
                SELECT lang, source,
                       list_sort(list_distinct({_WORDS})) AS ws
                FROM documents WHERE doc_id = 0)
            SELECT d.doc_id, d.lang, d.source
            FROM documents d, q
            WHERE d.lang = q.lang AND d.source = q.source
              AND list_sort(list_distinct(regexp_split_to_array(
                      trim(d.text), '\s+'))) = q.ws
            ORDER BY d.doc_id
        """,
        "q26_set_ops": """
            SELECT user_id FROM (
                SELECT user_id FROM events
                WHERE event_type = 'click' AND value > 95
                INTERSECT
                SELECT user_id FROM events
                WHERE event_type = 'purchase' AND value > 95
                EXCEPT
                SELECT user_id FROM events
                WHERE event_type = 'error' AND value > 99)
            ORDER BY user_id
        """,
        "q27_json_props": """
            SELECT CAST(floor(CAST(props->>'k' AS INT) / 10) AS BIGINT)
                       AS k_bucket,
                   count(*) AS n,
                   CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k
            FROM events
            GROUP BY 1 ORDER BY k_bucket
        """,
        # q24: the flagship verified containment search over the
        # deterministic synthetic transcripts — materialized as parquet by
        # _transcripts_table (the Spark query writes it before returning),
        # read by DuckDB via read_parquet. Same verified-containment
        # pattern as q13, on the north-star input shape.
        "q24_transcript_membership": rf"""
            SELECT conv_id, turn_idx, role, tool
            FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')
            WHERE role = 'assistant' AND tool = 'Bash'
              AND list_contains(regexp_split_to_array(trim(text), '\s+'),
                                'w00002')
            ORDER BY conv_id, turn_idx
        """,
        # q30: batched exact get == UNION ALL of token-set-equality selects
        "q30_bloom_get_many": rf"""
            WITH sets AS (
                SELECT doc_id, lang, source,
                       list_sort(list_distinct({_WORDS})) AS ws
                FROM documents),
            probes AS (
                SELECT 'doc' || CAST(doc_id AS VARCHAR) AS query,
                       lang, source, ws
                FROM sets WHERE doc_id IN (0, 1))
            SELECT p.query, d.doc_id
            FROM sets d JOIN probes p
              ON d.lang = p.lang AND d.source = p.source AND d.ws = p.ws
            ORDER BY p.query, d.doc_id
        """,
        # q31: batched linear containment (verified) == UNION ALL of
        # per-query verified-containment selects
        "q31_bloom_search_linear_many": rf"""
            SELECT 'es_spark_window' AS query, doc_id FROM documents
            WHERE lang = 'es'
              AND list_contains({_WORDS}, 'spark')
              AND list_contains({_WORDS}, 'window')
            UNION ALL
            SELECT 'de_stream' AS query, doc_id FROM documents
            WHERE lang = 'de'
              AND list_contains({_WORDS}, 'stream')
            ORDER BY query, doc_id
        """,
        # q32: exact-remove of the FIRST flagship hit, then the same
        # verified search — the oracle derives the removed (conv_id,
        # turn_idx) itself (min over the hit set), so no ids are
        # hardcoded; tombstone semantics checked as an anti-join.
        "q32_remove_exact_search": rf"""
            WITH hits AS (
                SELECT conv_id, turn_idx, role, tool
                FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')
                WHERE role = 'assistant' AND tool = 'Bash'
                  AND list_contains(
                        regexp_split_to_array(trim(text), '\s+'),
                        'w00002')),
            victim AS (
                SELECT conv_id, turn_idx FROM hits
                ORDER BY conv_id, turn_idx LIMIT 1)
            SELECT h.conv_id, h.turn_idx, h.role, h.tool
            FROM hits h
            WHERE NOT EXISTS (
                SELECT 1 FROM victim v
                WHERE v.conv_id = h.conv_id AND v.turn_idx = h.turn_idx)
            ORDER BY h.conv_id, h.turn_idx
        """,
        # q33: batched verified search == UNION ALL of per-query verified
        # containment selects (the absent query contributes zero rows)
        "q33_search_verified_many": rf"""
            WITH t AS (
                SELECT conv_id, turn_idx, role, tool,
                       regexp_split_to_array(trim(text), '\s+') AS ws
                FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet'))
            SELECT * FROM (
                SELECT 'bash_w2' AS query, conv_id, turn_idx, role, tool
                FROM t
                WHERE role = 'assistant' AND tool = 'Bash'
                  AND list_contains(ws, 'w00002')
                UNION ALL
                SELECT 'user_w0', conv_id, turn_idx, role, tool FROM t
                WHERE role = 'user'
                  AND list_contains(ws, 'w00000')
                  AND list_contains(ws, 'w00003')
                UNION ALL
                SELECT 'grep_w1', conv_id, turn_idx, role, tool FROM t
                WHERE tool = 'Grep' AND list_contains(ws, 'w00001'))
            ORDER BY query, conv_id, turn_idx
        """,
        # q42: tree-pruned batched search — descent is lossless, so the
        # oracle is the same verified-containment UNION as q33's shape;
        # a group wrongly pruned by the tree would drop rows here.
        "q42_tree_pruned_search": rf"""
            WITH t AS (
                SELECT conv_id, turn_idx, role, tool,
                       regexp_split_to_array(trim(text), '\s+') AS ws
                FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet'))
            SELECT * FROM (
                SELECT 'bash_w2' AS query, conv_id, turn_idx, role, tool
                FROM t
                WHERE role = 'assistant' AND tool = 'Bash'
                  AND list_contains(ws, 'w00002')
                UNION ALL
                SELECT 'user_w0', conv_id, turn_idx, role, tool FROM t
                WHERE role = 'user'
                  AND list_contains(ws, 'w00000')
                  AND list_contains(ws, 'w00003'))
            ORDER BY query, conv_id, turn_idx
        """,
        # q43: resume + incremental tree refresh — the final index state
        # must equal a from-scratch index over the full table, and the
        # incrementally-refreshed tree must not prune the resumed shard,
        # so the oracle is the same verified-containment UNION shape.
        "q43_incremental_resume_search": rf"""
            WITH t AS (
                SELECT conv_id, turn_idx, role, tool,
                       regexp_split_to_array(trim(text), '\s+') AS ws
                FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet'))
            SELECT * FROM (
                SELECT 'bash_w2' AS query, conv_id, turn_idx, role, tool
                FROM t
                WHERE role = 'assistant' AND tool = 'Bash'
                  AND list_contains(ws, 'w00002')
                UNION ALL
                SELECT 'user_w4', conv_id, turn_idx, role, tool FROM t
                WHERE role = 'user'
                  AND list_contains(ws, 'w00004'))
            ORDER BY query, conv_id, turn_idx
        """,
        # q44: the heavy-tailed corpus indexed under the SALTED shard key
        # (explicit skew control) must answer the flagship verified
        # containment exactly — physical placement is invisible to query
        # semantics; the Spark side additionally asserts shard balance.
        "q44_skew_salted_search": rf"""
            SELECT conv_id, turn_idx, role, tool
            FROM read_parquet('{_HEAVY_PQ}/*.parquet')
            WHERE role = 'assistant' AND tool = 'Bash'
              AND list_contains(regexp_split_to_array(trim(text), '\s+'),
                                'w00002')
            ORDER BY conv_id, turn_idx
        """,
        # q45: exact get answered from the KV storage backend — content-key
        # identity (role, tool-unless-null, distinct word set) of the probe
        # row re-derived in SQL; text+ts payloads must survive the Serde
        # round-trip bit-exactly.
        "q45_memory_storage_get": rf"""
            WITH t AS (
                SELECT conv_id, turn_idx, role, tool, text, ts,
                       list_sort(list_distinct(
                           regexp_split_to_array(trim(text), '\s+'))) AS ws
                FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')),
            probe AS (
                SELECT 'turn' || CAST(turn_idx AS VARCHAR) AS query,
                       role, tool, ws
                FROM t
                WHERE conv_id = 'conv00000000' AND turn_idx < 3)
            SELECT p.query, t.conv_id, t.turn_idx, t.text,
                   epoch_us(t.ts) AS ts_us
            FROM t JOIN probe p
              ON t.role = p.role
             AND t.tool IS NOT DISTINCT FROM p.tool
             AND t.ws = p.ws
            ORDER BY p.query, t.conv_id, t.turn_idx
        """,
        # q46: the EWAH bitmap-index set algebra re-derived relationally —
        # per-type distinct-user cardinalities and pairwise intersections,
        # union/xor by inclusion-exclusion.
        "q46_ewah_bitmap_index": """
            WITH u AS (SELECT DISTINCT event_type, user_id FROM events
                       WHERE value > 90),
            c AS (SELECT event_type, count(*) AS card
                  FROM u GROUP BY event_type),
            p AS (SELECT a.event_type AS type_a, b.event_type AS type_b
                  FROM c a JOIN c b ON a.event_type < b.event_type),
            i AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                         count(*) AS inter_card
                  FROM u x JOIN u y
                    ON x.user_id = y.user_id
                   AND x.event_type < y.event_type
                  GROUP BY 1, 2)
            SELECT p.type_a, p.type_b,
                   ca.card AS card_a, cb.card AS card_b,
                   COALESCE(i.inter_card, 0) AS inter_card,
                   ca.card + cb.card
                     - COALESCE(i.inter_card, 0) AS union_card,
                   ca.card + cb.card
                     - 2 * COALESCE(i.inter_card, 0) AS xor_card
            FROM p
            JOIN c ca ON ca.event_type = p.type_a
            JOIN c cb ON cb.event_type = p.type_b
            LEFT JOIN i ON i.type_a = p.type_a AND i.type_b = p.type_b
            ORDER BY p.type_a, p.type_b
        """,
        # q47: the raw FP-exact hit set (q14's oracle) replicated per
        # local strategy — all 7 strategies must return EXACTLY it
        "q47_all_strategies_search": rf"""
            WITH s(strategy) AS (VALUES ('blocked'), ('bloofi'), ('flat'),
                                 ('linear'), ('tree'), ('trie4'),
                                 ('trie8')),
            h AS ({_bloom_raw_oracle_sql(['tok=spark', 'tok=window'])})
            SELECT s.strategy, h.doc_id
            FROM s CROSS JOIN h
            ORDER BY s.strategy, h.doc_id
        """,
        # q48: per-partition lineage metrics re-derived from the raw
        # table (single-shard py config: shard 0 holds everything)
        "q48_partition_lineage": rf"""
            WITH dtok AS (
                SELECT doc_id, 'lang=' || lang AS tok FROM documents
                WHERE lang IS NOT NULL AND lang <> 'none'
                UNION
                SELECT doc_id, 'source=' || source FROM documents
                WHERE source IS NOT NULL AND source <> 'none'
                UNION
                SELECT DISTINCT doc_id, 'tok=' || w.tok
                FROM documents,
                     unnest({_WORDS}) AS w(tok)
                WHERE length(trim(text)) > 0),
            keys AS (
                SELECT COUNT(DISTINCT lang || '|' || source || '|' ||
                       array_to_string(list_sort(list_distinct({_WORDS})),
                                       ' ')) AS n_slots
                FROM documents)
            SELECT CAST(0 AS INT) AS shard,
                   (SELECT COUNT(*) FROM documents) AS n_turns,
                   k.n_slots AS n_slots,
                   CAST(ceil(k.n_slots /
                        {float(_doc_idx_py_cfg().chunk_slots)}) AS INT)
                       AS n_chunks,
                   (SELECT COUNT(DISTINCT tok) FROM dtok) AS n_tokens
            FROM keys k
        """,
        # q49: streaming windowed counts == batch day-truncated GROUP BY
        # (complete mode over a bounded replay; UTC session + NTZ parquet
        # timestamps make epoch arithmetic identical on both sides)
        "q49_streaming_windowed_agg": """
            SELECT epoch_us(date_trunc('day', ts)) AS win_start_us,
                   event_type,
                   count(*) AS n_events
            FROM events
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        # q73: append-mode late-data semantics re-derived declaratively
        # from the staged source: wm1 = max(stage-1 ts) - 10min drops
        # stage-2 rows whose window closed; only final-watermark-closed
        # windows emit.
        "q73_watermark_late_data": rf"""
            WITH src AS (
                SELECT * FROM read_parquet('{_Q73_SRC}/*.parquet')),
            wm1 AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w
                    FROM src WHERE stage = 1),
            wmf AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM src),
            b AS (SELECT event_type, stage,
                         time_bucket(INTERVAL 10 MINUTE, ts) AS ws
                  FROM src),
            kept AS (
                SELECT * FROM b
                WHERE NOT (stage = 2 AND ws + INTERVAL 10 MINUTE
                           <= (SELECT w FROM wm1)))
            SELECT epoch_us(ws) AS win_start_us, event_type,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM kept
            WHERE ws + INTERVAL 10 MINUTE <= (SELECT w FROM wmf)
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        # q50: GDPR predicate delete — the whole victim conversation
        # (min conv_id among the flagship hits) vanishes from the
        # verified search; an engine that missed a shard's tombstones or
        # deleted too much breaks the hash.
        "q50_remove_where_search": rf"""
            WITH hits AS (
                SELECT conv_id, turn_idx, role, tool
                FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')
                WHERE role = 'assistant' AND tool = 'Bash'
                  AND list_contains(
                        regexp_split_to_array(trim(text), '\s+'),
                        'w00002'))
            SELECT conv_id, turn_idx, role, tool
            FROM hits
            WHERE conv_id <> (SELECT min(conv_id) FROM hits)
            ORDER BY conv_id, turn_idx
        """,
        # q51/q52: deterministic sampling — membership is a pure function
        # of md5(key||US||salt)'s top 60 bits, so DuckDB re-derives the
        # exact row set. q52's thresholds are recomputed from the same
        # counts in exact 128-bit integer arithmetic (floor division is
        # monotone, so min-of-floors == floor-of-min-rational).
        "q51_stratified_sample": f"""
            SELECT doc_id, lang, source
            FROM documents
            WHERE ('0x' || substr(md5(cast(doc_id AS VARCHAR)
                                      || chr(31) || 'q51'), 1, 15))::UBIGINT
                  < CASE lang WHEN 'en' THEN {int(0.25 * (1 << 60))}
                              WHEN 'zh' THEN {int(1.0 * (1 << 60))}
                              WHEN 'es' THEN {int(0.5 * (1 << 60))}
                              ELSE {int(0.1 * (1 << 60))} END
            ORDER BY doc_id
        """,
        "q52_corpus_mix": f"""
            WITH sz AS (
                SELECT s.source, s.wt, count(*) AS n
                FROM (VALUES ('src0', 5), ('src1', 3), ('src2', 1))
                     s(source, wt)
                JOIN documents d ON d.source = s.source
                GROUP BY 1, 2),
            thr AS (
                SELECT i.source,
                       min(({1 << 60}::HUGEINT * j.n * i.wt)
                           // (j.wt * i.n)) AS thr
                FROM sz i CROSS JOIN sz j
                GROUP BY i.source)
            SELECT d.doc_id, d.lang, d.source
            FROM documents d JOIN thr ON d.source = thr.source
            WHERE ('0x' || substr(md5(cast(d.doc_id AS VARCHAR)
                                      || chr(31) || 'q52'), 1, 15))::UBIGINT
                  < thr.thr
            ORDER BY d.doc_id
        """,
        # q55: connected components over the exact-Jaccard pair graph
        # (q16's pairs at recall 1): a recursive CTE propagates labels
        # along the symmetric edges, so min(reachable id) per node is
        # the component min — the same cluster ids the iterative Spark
        # label propagation converges to.
        "q55_dedup_clusters": f"""
            WITH RECURSIVE pairs AS (
                SELECT id_a, id_b FROM ({_jaccard_oracle_sql(None)})),
            e AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs),
            reach(node, lab) AS (
                SELECT src, src FROM e
                UNION
                SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node),
            lab AS (
                SELECT node, min(lab) AS cluster_id FROM reach
                GROUP BY node)
            SELECT node AS doc_id, cluster_id,
                   node = cluster_id AS is_canonical
            FROM lab ORDER BY doc_id
        """,
        # q56: exact-n deterministic sample — same hash order, same LIMIT.
        "q56_exact_sample": """
            SELECT doc_id, lang, source FROM (
                SELECT doc_id, lang, source FROM documents
                ORDER BY ('0x' || substr(md5(cast(doc_id AS VARCHAR)
                              || chr(31) || 'q56'), 1, 15))::UBIGINT
                LIMIT 100)
            ORDER BY doc_id
        """,
        # q57: the WHOLE IVF pipeline in SQL — hash-sampled centroids
        # (same md5 order as `similarity.ivf_centroids`), argmax-cosine
        # assignment (ties to the lower centroid rank), probed lists,
        # exact re-rank.
        "q57_ivf_topk": """
            WITH cents AS (
                SELECT row_number() OVER (
                           ORDER BY md5('ivf' || '_' ||
                                        CAST(vec_id AS VARCHAR)),
                                    vec_id) - 1 AS cid,
                       embedding AS cv
                FROM (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id <> 0
                      ORDER BY md5('ivf' || '_' ||
                                   CAST(vec_id AS VARCHAR)), vec_id
                      LIMIT 8)),
            assign AS (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                                        e.embedding, c.cv) DESC,
                                    c.cid) AS rk
                FROM embeddings e, cents c WHERE e.vec_id <> 0),
            probe AS (SELECT embedding AS pv FROM embeddings
                      WHERE vec_id = 0),
            plists AS (
                SELECT cid FROM cents, probe
                ORDER BY list_cosine_similarity(pv, cv) DESC, cid
                LIMIT 2),
            cand AS (
                SELECT a.vec_id FROM assign a
                JOIN plists USING (cid) WHERE a.rk = 1),
            scored AS (
                SELECT c.vec_id,
                       list_cosine_similarity(e.embedding, pv) AS cosine
                FROM cand c JOIN embeddings e USING (vec_id), probe)
            SELECT vec_id FROM (
                SELECT vec_id FROM scored
                ORDER BY cosine DESC, vec_id LIMIT 10)
            ORDER BY vec_id
        """,
        # q58: order-pinned conversation fingerprints — string_agg with
        # an explicit ORDER BY turn_idx is the ANSI mirror of the
        # array_sort(collect_list(struct)) aggregate.
        "q58_conversation_rollup": rf"""
            SELECT conv_id,
                   COUNT(*) AS n_turns,
                   COUNT(DISTINCT role) AS n_roles,
                   COUNT(tool) AS n_tool_turns,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
                   md5(string_agg(text, chr(1) ORDER BY turn_idx))
                       AS text_fp
            FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')
            GROUP BY conv_id
            ORDER BY conv_id
        """,
        # q59: windowed string_agg with the same ROWS frame is the ANSI
        # mirror of collect_list().over(rowsBetween) — every context
        # window byte-pinned through its md5.
        "q59_context_windows": rf"""
            SELECT conv_id, turn_idx,
                   COUNT(*) OVER w AS n_ctx_turns,
                   CAST(LENGTH(string_agg(text, chr(1)) OVER w)
                        AS BIGINT) AS ctx_chars,
                   md5(string_agg(text, chr(1)) OVER w) AS ctx_fp
            FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')
            WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
            ORDER BY conv_id, turn_idx
        """,
        # q60: redaction — regexp dialect kept to the common subset so
        # Java regex (Spark) and RE2 (DuckDB) agree token-for-token.
        "q60_redaction": rf"""
            SELECT conv_id, turn_idx,
                   CAST(LENGTH(regexp_extract_all(text, 'w049[0-9]{{2}}')
                        ) AS BIGINT) AS n_redactions,
                   md5(regexp_replace(text, 'w049[0-9]{{2}}', '<RARE>',
                                      'g')) AS text_fp
            FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')
            WHERE regexp_matches(text, 'w049[0-9]{{2}}')
            ORDER BY conv_id, turn_idx
        """,
        # q61: packing — same hash order (q56's md5 family), same running
        # sum, integer bin arithmetic (// because DuckDB / is float).
        "q61_pack_sequences": """
            WITH t AS (
                SELECT doc_id,
                       CAST(len(regexp_split_to_array(trim(text),
                                                      '\\s+'))
                            AS BIGINT) AS n_tokens,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                            || chr(31) || 'q61'), 1, 15))::UBIGINT AS h
                FROM documents),
            c AS (
                SELECT doc_id, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (
                           ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS pre
                FROM t)
            SELECT doc_id, n_tokens,
                   CAST(pre // 2048 AS BIGINT) AS bin_id,
                   CAST(pre % 2048 AS BIGINT) AS bin_offset
            FROM c ORDER BY doc_id
        """,
        # q62: SFT pairs — the same window lag in ANSI SQL.
        "q62_sft_pairs": rf"""
            WITH t AS (
                SELECT conv_id, turn_idx, role, text,
                       lag(role) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx) AS pr,
                       lag(text) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx) AS pt
                FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet'))
            SELECT conv_id, turn_idx,
                   CAST(LENGTH(pt) AS BIGINT) AS prompt_chars,
                   CAST(LENGTH(text) AS BIGINT) AS response_chars,
                   md5(pt || chr(1) || text) AS pair_fp
            FROM t WHERE role = 'assistant' AND pr = 'user'
            ORDER BY conv_id, turn_idx
        """,
        # q63: decontamination — same hash-sampled eval set, same
        # distinct 5-gram shingles, same overlap counts.
        "q63_decontaminate": rf"""
            WITH ev_ids AS (
                SELECT doc_id FROM documents
                ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                              || chr(31) || 'q63'), 1, 15))::UBIGINT
                LIMIT 25),
            d AS (SELECT doc_id, {_WORDS} AS words FROM documents
                  WHERE len({_WORDS}) >= 5),
            sh AS (
                SELECT DISTINCT doc_id,
                       array_to_string(words[i:i+4], ' ') AS shingle
                FROM d, UNNEST(range(1, len(words) - 3)) AS t(i)),
            tr AS (SELECT * FROM sh
                   WHERE doc_id NOT IN (SELECT doc_id FROM ev_ids)),
            ev AS (SELECT DISTINCT shingle, doc_id AS eval_id
                   FROM sh JOIN ev_ids USING (doc_id))
            SELECT tr.doc_id,
                   COUNT(DISTINCT tr.shingle) AS n_shared_shingles,
                   COUNT(DISTINCT ev.eval_id) AS n_eval_docs_hit
            FROM tr JOIN ev USING (shingle)
            GROUP BY tr.doc_id
            ORDER BY tr.doc_id
        """,
        # q64: repetition signals — identical integer counts, one final
        # double division per fraction.
        "q64_repetition_stats": rf"""
            WITH d AS (
                SELECT doc_id, {_WORDS} AS words FROM documents),
            base AS (
                SELECT doc_id, len(words) AS n,
                       len(list_distinct(words)) AS nd
                FROM d WHERE len(words) >= 3),
            g2 AS (
                SELECT doc_id, COUNT(*) AS tot,
                       COUNT(DISTINCT array_to_string(words[i:i+1], ' '))
                           AS dis
                FROM d, UNNEST(range(1, len(words))) AS t(i)
                GROUP BY doc_id),
            g3 AS (
                SELECT doc_id, COUNT(*) AS tot,
                       COUNT(DISTINCT array_to_string(words[i:i+2], ' '))
                           AS dis
                FROM d, UNNEST(range(1, len(words) - 1)) AS t(i)
                GROUP BY doc_id),
            tw AS (
                SELECT doc_id, MAX(c) AS mc FROM (
                    SELECT doc_id, w, COUNT(*) AS c FROM (
                        SELECT doc_id, unnest(words) AS w FROM d)
                    GROUP BY doc_id, w)
                GROUP BY doc_id)
            SELECT b.doc_id,
                   CAST(b.n AS INT) AS n_tokens,
                   1.0 - CAST(b.nd AS DOUBLE) / b.n AS dup_word_frac,
                   1.0 - CAST(g2.dis AS DOUBLE) / g2.tot
                       AS dup_2gram_frac,
                   1.0 - CAST(g3.dis AS DOUBLE) / g3.tot
                       AS dup_3gram_frac,
                   CAST(tw.mc AS DOUBLE) / b.n AS top_word_frac
            FROM base b
            JOIN g2 USING (doc_id) JOIN g3 USING (doc_id)
            JOIN tw USING (doc_id)
            ORDER BY b.doc_id
        """,
        # q65: BPE-ish pretokenization — same RE2-safe pattern, same
        # token stream (md5-pinned).
        "q65_bpe_tokens": rf"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '{_BPE_PAT}'))
                        AS BIGINT) AS n_bpe_tokens,
                   CAST(len(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) AS n_ws_tokens,
                   md5(array_to_string(regexp_extract_all(text,
                        '{_BPE_PAT}'),
                        chr(1))) AS bpe_fp
            FROM documents
            ORDER BY doc_id
        """,
        # q66: conversation-granularity membership — exact cross-turn
        # conjunction over the SAME stored transcripts.
        "q66_conv_membership": rf"""
            SELECT conv_id FROM (
                SELECT conv_id,
                       bool_or(list_contains(
                           regexp_split_to_array(trim(text), '\s+'),
                           'w00002')) AS has_a,
                       bool_or(list_contains(
                           regexp_split_to_array(trim(text), '\s+'),
                           'w00042')) AS has_b
                FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')
                GROUP BY conv_id)
            WHERE has_a AND has_b
            ORDER BY conv_id
        """,
        # q67: tool transitions — same lag over tool-bearing turns.
        "q67_tool_transitions": rf"""
            WITH tooled AS (
                SELECT conv_id, turn_idx, tool,
                       lag(tool) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx) AS prev_tool
                FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')
                WHERE tool IS NOT NULL)
            SELECT prev_tool, tool,
                   COUNT(*) AS n_transitions,
                   COUNT(DISTINCT conv_id) AS n_convs
            FROM tooled WHERE prev_tool IS NOT NULL
            GROUP BY prev_tool, tool
            ORDER BY prev_tool, tool
        """,
        # q68: hybrid retrieval — exact containment candidates, exact
        # cosine re-rank, ids only (q12's float-order discipline).
        "q68_hybrid_search": rf"""
            WITH cand AS (
                SELECT doc_id FROM documents
                WHERE list_contains({_WORDS}, 'spark')
                  AND list_contains({_WORDS}, 'window')),
            probe AS (SELECT embedding AS pv FROM embeddings
                      WHERE vec_id = 0),
            scored AS (
                SELECT e.vec_id,
                       list_cosine_similarity(e.embedding, pv) AS cosine
                FROM embeddings e JOIN cand c ON e.vec_id = c.doc_id,
                     probe)
            SELECT vec_id FROM (
                SELECT vec_id FROM scored
                ORDER BY cosine DESC, vec_id LIMIT 5)
            ORDER BY vec_id
        """,
        # q69: the composite ingest gate — novelty (token-set
        # non-membership incl. tag dims, q34/q15 semantics), Gopher
        # quality, canonical-per-fingerprint — composed in one SQL.
        "q69_ingest_gate": rf"""
            WITH base AS (
                SELECT doc_id, lang, source, text FROM documents
                WHERE doc_id < 40),
            probe AS (
                SELECT doc_id, lang, source, text FROM base
                UNION ALL
                SELECT doc_id + 100000, lang, source,
                       text || ' zznovel' FROM base),
            corpus AS (
                SELECT lang, source,
                       list_sort(list_distinct({_WORDS})) AS ws
                FROM documents),
            psets AS (
                SELECT doc_id, lang, source, text,
                       list_sort(list_distinct({_WORDS})) AS ws
                FROM probe),
            novel AS (
                SELECT p.doc_id, p.lang, p.text FROM psets p
                WHERE NOT EXISTS (
                    SELECT 1 FROM corpus c
                    WHERE c.lang = p.lang AND c.source = p.source
                      AND c.ws = p.ws)),
            good AS (
                SELECT doc_id, lang, text FROM novel
                WHERE 1.0 - CAST(len(list_distinct({_WORDS}))
                                 AS DOUBLE) / len({_WORDS}) <= 0.55)
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY md5(regexp_replace(trim(text),
                                            '\s+', ' ', 'g'))
                           ORDER BY doc_id) AS rn
                FROM good)
            WHERE rn = 1
            ORDER BY doc_id
        """,
        # q70: trained-codebook IVF — the centroids arrive as literals
        # from the Spark-free training replay; assignment/probe/re-rank
        # SQL is q57's verbatim.
        "q70_ivf_trained_topk": _ivf_trained_oracle_sql(),
        # q71: real BPE — the trained piece table arrives as literals
        # from the Spark-free training replay; SQL re-pretokenizes and
        # recounts every document.
        "q71_bpe_merged_counts": _bpe_oracle_sql(),
        # q53: as-of join — DuckDB's NATIVE ASOF LEFT JOIN is the oracle
        # for the union+window re-expression (ties at equal ts match;
        # right side deduped to unique (user, ts) in both engines).
        "q53_asof_join": """
            WITH v0 AS (
                SELECT user_id, ts, event_id, value,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'view'),
            v AS (SELECT user_id, ts, event_id, value FROM v0
                  WHERE rn = 1),
            c AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click')
            SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
                   v.event_id AS view_event_id,
                   epoch_us(v.ts) AS view_ts_us,
                   v.value AS view_value
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.ts
            ORDER BY c.event_id
        """,
        # q54: range join — the bin+refine equi-join must equal the plain
        # inequality join over the same generated overlapping bands.
        "q54_range_join": """
            SELECT p.p_partkey, b.band_id
            FROM part p
            JOIN (SELECT i::INTEGER AS band_id,
                         895.0 + 12.0 * i AS lo,
                         920.0 + 12.0 * i AS hi
                  FROM range(10) t(i)) b
              ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
            ORDER BY p.p_partkey, b.band_id
        """,
        # q34: novelty == token-SET non-membership. A row's content key is
        # determined by (role, tool-unless-none/null, distinct word set),
        # so the oracle rebuilds the same probe batch from the stored
        # parquet and keeps rows whose identity triple matches NO indexed
        # row (IS NOT DISTINCT FROM handles the null tool of user turns).
        "q34_novelty_filter": rf"""
            WITH t AS (
                SELECT * FROM read_parquet('{_TRANSCRIPTS_PQ}/*.parquet')),
            base AS (
                SELECT conv_id, turn_idx, role, text, tool FROM t
                WHERE turn_idx = 0 AND conv_id < 'conv00000040'),
            probe AS (
                SELECT * FROM base
                UNION ALL
                SELECT 'nv_' || conv_id, turn_idx, role,
                       text || ' zznovel', tool FROM base),
            psets AS (
                SELECT conv_id, turn_idx, role,
                       CASE WHEN tool IS NULL OR tool = 'none'
                            THEN NULL ELSE tool END AS tool_n,
                       list_sort(list_distinct(regexp_split_to_array(
                           trim(text), '\s+'))) AS ws
                FROM probe),
            isets AS (
                SELECT role,
                       CASE WHEN tool IS NULL OR tool = 'none'
                            THEN NULL ELSE tool END AS tool_n,
                       list_sort(list_distinct(regexp_split_to_array(
                           trim(text), '\s+'))) AS ws
                FROM t)
            SELECT p.conv_id, p.turn_idx, p.role
            FROM psets p
            WHERE NOT EXISTS (
                SELECT 1 FROM isets i
                WHERE i.role = p.role
                  AND i.tool_n IS NOT DISTINCT FROM p.tool_n
                  AND i.ws = p.ws)
            ORDER BY p.conv_id, p.turn_idx
        """,
        # q23: the stub decoder hashes the payload's lowercase-hex form,
        # so DuckDB recomputes the whole chain bit-for-bit: synthesize
        # payload = sha256('42:'||i) bytes repeated (4 + i%4) times, hash
        # with VARCHAR md5, decode hex-pair bytes 0..3 via strpos
        # arithmetic, apply the video frame-sampling rule (//10).
        "q23_multimodal_features": """
            WITH media AS (
                SELECT range AS media_id,
                       CASE CAST(range % 3 AS INT) WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                       repeat(unhex(sha256('42:' || range)),
                              CAST(4 + range % 4 AS INT)) AS payload
                FROM range(0, 128)),
            h AS (
                SELECT media_id, kind,
                       md5(lower(hex(payload))) AS hx
                FROM media),
            b AS (
                SELECT media_id, kind,
                       (strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substring(hx, 2, 1)) - 1 AS b0,
                       (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substring(hx, 4, 1)) - 1 AS b1,
                       (strpos('0123456789abcdef', substring(hx, 5, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substring(hx, 6, 1)) - 1 AS b2,
                       (strpos('0123456789abcdef', substring(hx, 7, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substring(hx, 8, 1)) - 1 AS b3
                FROM h)
            SELECT media_id, kind,
                   CAST(16 + b0 % 64 AS INT) AS height,
                   CAST(16 + b1 % 64 AS INT) AS width,
                   CAST(1 + b2 % 3 AS INT) AS channels,
                   CAST(CASE WHEN kind = 'image' THEN 1
                             WHEN kind = 'video'
                                THEN greatest(1, (1 + b3 % 120) // 10)
                             ELSE 1 + b3 % 120 END AS INT) AS n_frames
            FROM b ORDER BY media_id
        """,
        # Every queries() entry above has an oracle — kept in lockstep
        # (scripts/selfcheck.py asserts the key sets match).
    }
