"""Distributed remove (append-only tombstones) + compaction — the scale
re-expression of `ContainerImpl.remove` (`ContainerImpl.java:134-153`,
designed per SURVEY §7 hard part (b))."""

import pytest
from pyspark.sql import functions as F

from mdbloom.spark.build import BloomIndexWriter, IndexConfig
from mdbloom.spark.query import BloomIndexReader
from mdbloom.spark.transcripts import synthesize_transcripts


def _search(r, toks, *cols):
    """Rows of ``r.search(toks)`` projected to ``cols``, as a sorted list —
    read through BOTH strategies (the slab artifacts and the storage
    scan), which must agree at every point of a remove/compact history."""
    got = [sorted(map(tuple, r.search(toks, via=via).select(*cols)
                      .collect()))
           for via in ("slab", "linear")]
    assert got[0] == got[1], toks
    return got[0]


@pytest.fixture()
def setup(spark, tmp_path):
    path = str(tmp_path / "idx")
    df = synthesize_transcripts(spark, 1200, seed=42).cache()
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                      chunk_slots=256)
    w = BloomIndexWriter(spark, cfg)
    w.build(df, path)
    return spark, df, w, path


def test_remove_hides_rows_and_compact_rebuilds(setup):
    spark, df, w, path = setup
    r = BloomIndexReader(spark, path)
    total = r.value_count()
    victims = df.where(F.col("role") == "system").select("conv_id",
                                                         "turn_idx")
    n_dead = victims.count()
    assert n_dead > 0

    removed = w.remove(victims, path)
    assert removed == n_dead

    # tombstoned rows vanish from search and counts immediately
    r2 = BloomIndexReader(spark, path)
    assert r2.value_count() == total - n_dead
    # empty query = all values
    got = set(_search(r2, [], "conv_id", "turn_idx"))
    dead = set(map(tuple, victims.toPandas().itertuples(index=False)))
    assert got.isdisjoint(dead)
    assert len(got) == total - n_dead

    # verified search still exact after deletes
    toks = r2.transcript_query_tokens("system", None, [])
    assert r2.search_verified(toks, df.join(
        victims, ["conv_id", "turn_idx"], "left_anti")).count() == 0

    # compaction rebuilds only affected shards and drops tombstones
    alive_src = df.join(victims, ["conv_id", "turn_idx"], "left_anti")
    stats = w.compact(df, path)
    assert stats["built"] >= 1
    import os
    assert not os.path.exists(os.path.join(path, "tombstones"))
    r3 = BloomIndexReader(spark, path)
    assert r3.value_count() == total - n_dead
    assert r3.storage().count() == total - n_dead
    # post-compaction result identical to a fresh build on surviving rows
    fresh = str(path) + "_fresh"
    w.build(alive_src, fresh)
    rf = BloomIndexReader(spark, fresh)
    q = r3.transcript_query_tokens("assistant", None, ["w00001"])
    assert (_search(r3, q, "conv_id", "turn_idx")
            == _search(rf, q, "conv_id", "turn_idx"))


def test_compact_artifacts_no_source(setup):
    """Artifact-only compaction (VERDICT r3 item 2): fold tombstones
    using ONLY the index's own artifacts — storage rows carry the filter
    words the slab rebuild needs, so no source table is required."""
    import os
    spark, df, w, path = setup
    r = BloomIndexReader(spark, path)
    total = r.value_count()
    victims = df.where(F.col("role") == "system").select("conv_id",
                                                         "turn_idx")
    n_dead = victims.count()
    assert w.remove(victims, path) == n_dead

    r2 = BloomIndexReader(spark, path)
    q = r2.transcript_query_tokens("assistant", None, ["w00001"])
    def ids(r, toks):
        return _search(r, toks, "conv_id", "turn_idx")
    before = ids(r2, q)
    all_before = ids(r2, [])

    slots_before = r2.slot_count()
    stats = w.compact_artifacts(path)
    assert stats["built"] >= 1
    assert not os.path.exists(os.path.join(path, "tombstones"))

    r3 = BloomIndexReader(spark, path)
    assert r3.value_count() == total - n_dead
    assert r3.storage().count() == total - n_dead
    # live results bit-identical across the compaction
    assert ids(r3, q) == before
    assert ids(r3, []) == all_before
    # physical slots for tombstoned keys are actually gone (every
    # victim key was unique enough that SOME slots must drop), and the
    # slab invariant slots >= live distinct filters still holds
    assert r3.slot_count() < slots_before
    assert r3.slot_count() >= r3.filter_count()
    # compacted shards carry a NULL fingerprint: no source corresponds
    man = r3.manifest()
    assert man["fingerprint"].isna().sum() == stats["built"]

    # idempotent: no tombstones -> no-op
    again = w.compact_artifacts(path)
    assert again["built"] == 0 and again["removed"] == 0

    # a later SOURCE-level resume rebuilds exactly the compacted shards
    # (null fingerprint never matches) and restores real fingerprints
    alive_src = df.join(victims, ["conv_id", "turn_idx"], "left_anti")
    st2 = w.build(alive_src, path, resume=True)
    assert st2["built"] == stats["built"]
    r4 = BloomIndexReader(spark, path)
    assert r4.value_count() == total - n_dead
    assert ids(r4, q) == before
    assert r4.manifest()["fingerprint"].notna().all()


def test_compact_artifacts_drops_emptied_shard(setup):
    """A shard whose every row is tombstoned disappears entirely:
    storage partition, slab dir and manifest row (the distributed
    analogue of `ContainerImpl.java:147-151` index cleanup)."""
    import os
    spark, df, w, path = setup
    shard_col = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(4)).cast("int")
    victims = (df.withColumn("shard", shard_col)
               .where(F.col("shard") == 0)
               .select("conv_id", "turn_idx"))
    n_dead = victims.count()
    assert n_dead > 0
    total = BloomIndexReader(spark, path).value_count()
    w.remove(victims, path)

    stats = w.compact_artifacts(path)
    assert stats["removed"] == 1 and stats["built"] == 0
    assert not os.path.isdir(os.path.join(path, "slabs", "shard=0"))
    assert not os.path.isdir(os.path.join(path, "storage", "shard=0"))

    r = BloomIndexReader(spark, path)
    man = r.manifest()
    assert 0 not in set(man["shard"])
    assert r.value_count() == total - n_dead
    assert r.storage().count() == total - n_dead
    assert r.storage().where(
        F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 0).count() == 0


def _doc_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, "
                                       "text string")


@pytest.fixture()
def docs_setup(spark, tmp_path):
    """Small documents index with a payload column and two values sharing
    one filter (same token set) — the multimap shape remove_exact needs."""
    path = str(tmp_path / "docs_idx")
    rows = [
        (1, "en", "hello world alpha"),
        (2, "en", "hello world alpha"),     # same tokens as doc 1 -> same key
        (3, "en", "completely different beta"),
        (4, "es", "hola mundo gamma"),
    ]
    df = _doc_frame(spark, rows)
    cfg = IndexConfig(n_per_record=8, probability=1e-3, n_shards=2,
                      chunk_slots=64, tag_columns=("lang",),
                      text_column="text", id_columns=("doc_id",),
                      payload_columns=("text",))
    w = BloomIndexWriter(spark, cfg)
    w.build(df, path)
    return spark, df, w, path


def _toks(row):
    return [f"lang={row[1]}"] + [f"tok={t}" for t in row[2].split()]


def test_remove_exact_reference_semantics(docs_setup):
    """Port of `removeTest` (`ContainerImplTest.java:109-132`) to the
    distributed path: remove only on exact filter match AND value match;
    wrong value or subset filter is a no-op; counts update live."""
    spark, df, w, path = docs_setup
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 4
    n_filters = r.filter_count()
    assert n_filters == 3  # docs 1+2 share one content-addressed filter

    one = _doc_frame(spark, [(1, "en", "hello world alpha")])

    # wrong FILTER (subset of doc 1's dimensions) -> no-op
    assert w.remove_exact(["lang=en", "tok=hello"], one, path) == 0
    # wrong VALUE (doc 3 never stored under doc 1's filter) -> no-op
    three = _doc_frame(spark, [(3, "en", "x")])
    assert w.remove_exact(_toks((1, "en", "hello world alpha")),
                          three, path) == 0
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 4 and r.filter_count() == n_filters

    # exact filter + value: removes doc 1 ONLY; doc 2 (same filter)
    # survives, so the filter entry itself survives
    assert w.remove_exact(_toks((1, "en", "hello world alpha")),
                          one, path) == 1
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 3
    assert r.filter_count() == n_filters
    assert _search(r, ["tok=hello"], "doc_id") == [(2,)]
    # payload column comes straight from storage (no source-table join)
    assert r.get(_toks((2, "en", "hello world alpha"))) \
        .select("text").collect()[0][0] == "hello world alpha"

    # removing the last value under the filter empties it -> filter_count
    # drops (`ContainerImpl.java:147-151` index cleanup)
    two = _doc_frame(spark, [(2, "en", "hello world alpha")])
    assert w.remove_exact(_toks((2, "en", "hello world alpha")),
                          two, path) == 1
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 2
    assert r.filter_count() == n_filters - 1
    # idempotent: removing again is a no-op
    assert w.remove_exact(_toks((2, "en", "hello world alpha")),
                          two, path) == 0
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 2


def test_remove_exact_uses_planner_regime(docs_setup, monkeypatch):
    """remove_exact plans through the reader's shared planner, so past
    DRIVER_PRUNE_MAX_SHARDS it takes the distributed regime and never
    loads the whole manifest onto the driver. The threshold is patched
    on the class: remove_exact opens its own reader."""
    spark, df, w, path = docs_setup
    monkeypatch.setattr(BloomIndexReader, "DRIVER_PRUNE_MAX_SHARDS", 0)

    def no_driver_matrices(self):
        raise AssertionError("driver prune matrices loaded")
    monkeypatch.setattr(BloomIndexReader, "_prune_matrices",
                        no_driver_matrices)
    one = _doc_frame(spark, [(1, "en", "hello world alpha")])
    assert w.remove_exact(["tok=zzznope"], one, path) == 0
    assert w.remove_exact(_toks((1, "en", "hello world alpha")),
                          one, path) == 1
    assert BloomIndexReader(spark, path).value_count() == 3


def test_payload_multimap_roundtrip(docs_setup):
    """Generic payload storage (VERDICT r1 item 8): several values under
    one filter, payload returned from storage without re-joining source
    (`Container.java:171-221` multimap)."""
    spark, df, w, path = docs_setup
    r = BloomIndexReader(spark, path)
    hits = r.get(_toks((1, "en", "hello world alpha"))) \
        .select("doc_id", "text").toPandas().sort_values("doc_id")
    assert hits["doc_id"].tolist() == [1, 2]
    assert set(hits["text"]) == {"hello world alpha"}
    # search returns the payload too
    assert _search(r, ["lang=es"], "doc_id", "text") \
        == [(4, "hola mundo gamma")]


def test_remove_where_predicate_delete(docs_setup):
    """Predicate-driven bulk delete (GDPR right-to-be-forgotten): one
    distributed filter over the LIVE storage view tombstones every
    matching stored value — id or payload predicate alike — and is
    idempotent because already-tombstoned rows leave the live view."""
    spark, df, w, path = docs_setup
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 4

    # payload-column predicate: both copies of the duplicated doc go
    assert w.remove_where("text = 'hello world alpha'", path) == 2
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 2
    assert _search(r, [], "doc_id") == [(3,), (4,)]
    assert _search(r, ["tok=hello"], "doc_id") == []

    # idempotent: the victims are no longer live, so a re-run is a no-op
    assert w.remove_where("text = 'hello world alpha'", path) == 0
    # no-match predicate is a no-op too
    assert w.remove_where("doc_id = 999", path) == 0
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 2

    # id-column predicate composes with earlier tombstones
    assert w.remove_where("doc_id = 4", path) == 1
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 1
    assert _search(r, [], "doc_id") == [(3,)]


def test_metrics_dataframe(setup):
    spark, df, w, path = setup
    r = BloomIndexReader(spark, path)
    m = r.metrics().toPandas()
    assert len(m) == 4  # one row per shard
    assert (m["n_turns"] > 0).all()
    assert (m["build_ms"] > 0).all()
    assert m["n_turns"].sum() == 1200 or m["n_turns"].sum() == df.count()
