"""Storage SPI (mdbloom.spark.storage) — the reference's pluggable
``Storage<E,I>`` / ``Serde<E>`` plug point (`Container.java:171-221`,
`InMemory.java:29-74`, `IgniteStorage.java:48-101`, `Serde.java:20-24`)
re-expressed table-level: same index, two interchangeable value stores,
identical query results."""

import datetime

import pytest

from mdbloom.spark.build import BloomIndexWriter, IndexConfig
from mdbloom.spark.query import BloomIndexReader
from mdbloom.spark.storage import (JsonSerde, MemoryKVStorage,
                                   StorageBackend, register_storage_backend,
                                   storage_backend)
from mdbloom.spark.transcripts import synthesize_transcripts

N_TURNS = 600


def _rows(df, cols=("conv_id", "turn_idx")):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def small_df(spark):
    # synthesize_transcripts sizes conversations stochastically, so the
    # realized turn count lands near (not exactly at) N_TURNS
    return synthesize_transcripts(spark, N_TURNS, seed=42).cache()


@pytest.fixture(scope="module")
def n_rows(small_df):
    return small_df.count()


@pytest.fixture(scope="module")
def two_backends(spark, small_df, n_rows, tmp_path_factory):
    """The SAME input built under each backend."""
    base = tmp_path_factory.mktemp("spi")
    paths = {}
    for name in ("parquet", "memory"):
        cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                          chunk_slots=256, storage_backend=name)
        p = str(base / name)
        BloomIndexWriter(spark, cfg).build(small_df, p)
        paths[name] = p
    return paths


def test_json_serde_round_trips_spark_scalars():
    s = JsonSerde()
    payload = {
        "text": "héllo world", "n": 7, "x": 1.5, "none": None,
        "ts": datetime.datetime(2026, 8, 18, 12, 0, 0, 123456),
        "d": datetime.date(2026, 8, 18),
        "blob": b"\x00\xffbytes",
        # nested map/array payloads (Spark MapType/ArrayType values)
        "m": {"a": 1, "ts": datetime.datetime(2026, 1, 1)},
        "arr": [1, "two", b"\x03"],
    }
    assert s.deserialize(s.serialize(payload)) == payload


def test_json_serde_marker_lookalikes_cannot_collide():
    """r4 review finding: user keys/values that LOOK like encoding
    markers must round-trip verbatim — the tagged encoding leaves no
    dict shape for a user value to collide with."""
    s = JsonSerde()
    payload = {
        "__b64__": "not really bytes",
        "__dt__": "2026-01-01T00:00:00",
        "m": {"__d__": "x", "__b64__": 5},
    }
    assert s.deserialize(s.serialize(payload)) == payload


def test_unknown_backend_rejected():
    with pytest.raises(ValueError, match="unknown storage backend"):
        storage_backend("ignite")
    with pytest.raises(ValueError, match="unknown storage backend"):
        IndexConfig(storage_backend="nope") and \
            BloomIndexWriter(None, IndexConfig(storage_backend="nope"))\
            ._storage()


def test_backends_answer_identically(spark, two_backends):
    """search / get / batched search return THE SAME ROWS from either
    store — the index artifacts are shared logic, only the value multimap
    moved. Includes the Bloom-false-positive-bearing raw search."""
    rp = BloomIndexReader(spark, two_backends["parquet"])
    rm = BloomIndexReader(spark, two_backends["memory"])
    assert rm.cfg.storage_backend == "memory"
    q = rp.transcript_query_tokens("assistant", "Bash", ["w00001"])
    assert _rows(rp.search(q)) == _rows(rm.search(q))
    assert _rows(rp.search_linear(q)) == _rows(rm.search_linear(q))
    batch = {"a": q, "b": rp.transcript_query_tokens("user", None, []),
             "miss": ["tok=absentzz"]}
    cols = ("query", "conv_id", "turn_idx")
    assert _rows(rp.search_many(batch), cols) \
        == _rows(rm.search_many(batch), cols)


def test_memory_backend_keeps_disk_clean_and_survives_resume(
        spark, small_df, n_rows, tmp_path):
    import os
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                      chunk_slots=256, storage_backend="memory")
    p = str(tmp_path / "idx")
    w = BloomIndexWriter(spark, cfg)
    w.build(small_df, p)
    assert not os.path.exists(os.path.join(p, "storage"))  # no parquet
    # resume with identical input: all shards skip, storage retained
    stats = w.build(small_df, p, resume=True)
    assert stats["built"] == 0 and stats["skipped"] == 4
    r = BloomIndexReader(spark, p)
    assert r.storage().count() == n_rows


def test_memory_backend_remove_tombstones_still_parquet(
        spark, small_df, n_rows, tmp_path):
    """Deletes are durable regardless of storage backend: tombstones stay
    an on-disk parquet log, and the reader's anti-join hides the removed
    rows from the in-memory store too."""
    import os
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                      chunk_slots=256, storage_backend="memory")
    p = str(tmp_path / "idx")
    w = BloomIndexWriter(spark, cfg)
    w.build(small_df, p)
    victim = small_df.orderBy("conv_id", "turn_idx").limit(1)
    w.remove(victim.select("conv_id", "turn_idx"), p)
    assert os.path.isdir(os.path.join(p, "tombstones"))
    r = BloomIndexReader(spark, p)
    assert r.storage().count() == n_rows - 1


def test_memory_read_in_fresh_process_semantics(spark, tmp_path):
    """Opening a memory-backed index whose store is absent from this
    process fails with the documented remedy, not an obscure error."""
    from mdbloom.spark.storage import _MEMORY_STORES
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=2,
                      chunk_slots=256, storage_backend="memory")
    p = str(tmp_path / "idx")
    df = synthesize_transcripts(spark, 50, seed=1)
    BloomIndexWriter(spark, cfg).build(df, p)
    _MEMORY_STORES.clear()  # simulate a new driver process
    r = BloomIndexReader(spark, p)
    with pytest.raises(KeyError, match="driver-resident"):
        r.storage().count()
    # the documented remedy: build(resume=True) detects the absent store
    # (StorageBackend.exists) and forces a full rebuild instead of
    # skipping fingerprint-matched shards onto missing values
    stats = BloomIndexWriter(spark, cfg).build(df, p, resume=True)
    assert stats["built"] == 2 and stats["skipped"] == 0
    assert BloomIndexReader(spark, p).storage().count() == df.count()


def test_custom_backend_registration(spark, small_df, tmp_path):
    """The IgniteStorage role: a user-registered backend slots in by
    name. This one is a thin veneer over MemoryKVStorage with a custom
    Serde, proving both plug points compose."""
    calls = {"ser": 0, "de": 0}

    class CountingSerde(JsonSerde):
        def serialize(self, payload):
            calls["ser"] += 1
            return super().serialize(payload)

        def deserialize(self, data):
            calls["de"] += 1
            return super().deserialize(data)

    register_storage_backend("kv-test", MemoryKVStorage(CountingSerde()))
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=2,
                      chunk_slots=256, storage_backend="kv-test")
    p = str(tmp_path / "idx")
    src = synthesize_transcripts(spark, 80, seed=3).cache()
    n = src.count()
    BloomIndexWriter(spark, cfg).build(src, p)
    assert calls["ser"] == n
    r = BloomIndexReader(spark, p)
    assert r.storage().count() == n and calls["de"] >= n
    assert isinstance(storage_backend("kv-test"), StorageBackend)


def test_datasource_rejects_kv_backed_index(spark, small_df, tmp_path):
    """spark.read.format('mdbloom') streams the storage PARQUET files
    directly, so a KV-backed index must be rejected with the remedy, not
    fail mid-scan on a missing directory."""
    from mdbloom.spark.datasource import MdbloomDataSource, _load_cfg
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=2,
                      chunk_slots=256, storage_backend="memory")
    p = str(tmp_path / "idx")
    BloomIndexWriter(spark, cfg).build(small_df, p)
    spark.dataSource.register(MdbloomDataSource)
    with pytest.raises(Exception, match="only 'parquet' storage"):
        _load_cfg(p)
    with pytest.raises(Exception, match="only 'parquet' storage"):
        (spark.read.format("mdbloom").option("path", p).load()
         .limit(1).collect())


def test_backend_switch_clears_old_backend(spark, small_df, n_rows,
                                           tmp_path):
    """r4 review finding: rebuilding the same path under a DIFFERENT
    storage_backend must clear the previous backend's rows — a ghost
    storage/ parquet dir (or a leaked in-memory store) would otherwise
    shadow or strand data."""
    import os

    from mdbloom.spark.storage import _MEMORY_STORES
    p = str(tmp_path / "idx")
    parquet_cfg = IndexConfig(n_per_record=40, probability=1e-3,
                              n_shards=4, chunk_slots=256)
    BloomIndexWriter(spark, parquet_cfg).build(small_df, p)
    assert os.path.isdir(os.path.join(p, "storage"))
    mem_cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                          chunk_slots=256, storage_backend="memory")
    BloomIndexWriter(spark, mem_cfg).build(small_df, p)
    assert not os.path.exists(os.path.join(p, "storage"))  # ghost gone
    assert BloomIndexReader(spark, p).storage().count() == n_rows
    # and back: the in-memory store is dropped when parquet takes over
    BloomIndexWriter(spark, parquet_cfg).build(small_df, p)
    assert os.path.abspath(p) not in _MEMORY_STORES
    assert BloomIndexReader(spark, p).storage().count() == n_rows


def _key_filters(spark, path):
    """One ``(file, n_keys, bitset_bytes, all_keys_positive)`` per
    ``key`` column chunk of every ``storage/`` parquet file, read through
    parquet-mr's own ``ParquetFileReader.readBloomFilter`` — the filter
    the exact-get row-group pruning consults."""
    import glob
    import os
    jvm = spark._jvm
    pq = jvm.org.apache.parquet
    conf = spark._jsc.hadoopConfiguration()
    out = []
    for f in sorted(glob.glob(os.path.join(path, "storage", "shard=*",
                                           "*.parquet"))):
        keys = [r[0] for r in spark.read.parquet(f).select("key").collect()]
        reader = pq.hadoop.ParquetFileReader.open(
            pq.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf))
        try:
            for block in reader.getFooter().getBlocks():
                for col in block.getColumns():
                    if col.getPath().toDotString() != "key":
                        continue
                    bf = reader.readBloomFilter(col)
                    assert bf is not None, f"no key bloom filter in {f}"
                    hit = all(bf.findHash(bf.hash(
                        pq.io.api.Binary.fromString(k))) for k in keys)
                    out.append((f, int(col.getValueCount()),
                                int(bf.getBitsetSize()), hit))
        finally:
            reader.close()
    assert out, f"no storage files under {path}"
    return out


def test_parquet_key_filter_sized_to_each_file(spark, small_df, tmp_path):
    """The content-key bloom filter stays on (exact get/get_many prune
    row groups by it) and is sized from each file's own keys, not at
    parquet's fixed 1 MiB, on every write path into storage/: a full
    build, a resume that rebuilds one shard, and compact_artifacts.

    Bound: parquet's adaptive writer keeps the smallest power-of-two
    candidate whose expected key count covers the chunk, and it derives
    that count in steps of 500 keys. So the bitset is at most twice the
    1%-fpp optimum for ``n + 500`` keys (at ~1,250 keys a file it is
    2,048 B, within twice the optimum for ``n`` itself)."""
    from pyspark.sql import functions as F
    bits = (spark._jvm.org.apache.parquet.column.values.bloomfilter
            .BlockSplitBloomFilter.optimalNumOfBits)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=2,
                      chunk_slots=256)
    p = str(tmp_path / "idx")
    w = BloomIndexWriter(spark, cfg)

    def check():
        for f, n, size, hit in _key_filters(spark, p):
            assert hit, f"a stored key tests negative in {f}"
            assert size <= 2 * bits(n + 500, 0.01) // 8, (f, n, size)

    w.build(small_df, p)
    check()
    drop = small_df.select("conv_id").orderBy("conv_id").first()[0]
    stats = w.build(small_df.where(F.col("conv_id") != drop), p,
                    resume=True)
    assert stats["built"] == 1
    check()
    # rows still in the index (the first conversation was dropped above)
    w.remove(small_df.orderBy(F.desc("conv_id")).limit(5)
             .select("conv_id", "turn_idx"), p)
    assert w.compact_artifacts(p)["built"] >= 1
    check()
