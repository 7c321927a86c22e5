"""Regression tests for build/resume/compact consistency holes found by
round-3 review: ghost partitions, resurrected tombstones, resume blind
spots, and duplicate-slot search inflation. Each test is a distilled
repro of an empirically confirmed end-to-end failure."""

import numpy as np
import pytest

from mdbloom.spark.build import BloomIndexWriter, IndexConfig
from mdbloom.spark.query import BloomIndexReader
from mdbloom.spark.transcripts import synthesize_transcripts


def _cfg(**kw):
    base = dict(n_per_record=40, probability=1e-3, n_shards=4,
                chunk_slots=64)
    base.update(kw)
    return IndexConfig(**base)


def _count(r, toks) -> int:
    """``r.search(toks).count()`` through BOTH strategies (slab artifacts
    and storage scan), which must agree."""
    n = [r.search(toks, via=via).count() for via in ("slab", "linear")]
    assert n[0] == n[1], (toks, n)
    return n[0]


def _docs(spark, n):
    """n rows with guaranteed-nonempty text (nothing drops at build)."""
    rows = [(f"conv{i:03d}", 0, "user", f"word{i} common tail{i % 5}",
             "Bash") for i in range(n)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string")


def test_compact_removes_fully_tombstoned_shard(spark, tmp_path):
    """Deleting EVERY row of a shard and compacting must not resurrect
    them: the shard has no fingerprint row in the surviving input, so the
    resume loop never rewrites it — build() must remove its artifacts and
    manifest row explicitly."""
    path = str(tmp_path / "idx")
    df = _docs(spark, 40)
    w = BloomIndexWriter(spark, _cfg())
    w.build(df, path)
    r = BloomIndexReader(spark, path)
    total = r.value_count()
    assert total == 40
    st = r.storage().toPandas()
    shard = int(st["shard"].mode()[0])
    doomed_ids = st[st["shard"] == shard][["conv_id", "turn_idx"]]
    n_doomed = len(doomed_ids)
    assert 0 < n_doomed < total
    w.remove(spark.createDataFrame(doomed_ids), path)
    assert BloomIndexReader(spark, path).value_count() == total - n_doomed
    stats = w.compact(df, path)
    assert stats["removed"] == 1
    r2 = BloomIndexReader(spark, path)
    assert r2.value_count() == total - n_doomed
    st2 = r2.storage().toPandas()
    assert (st2["shard"] == shard).sum() == 0
    assert shard not in set(r2.manifest()["shard"])
    # empty-query search (matches everything) sees no resurrected rows
    assert _count(r2, []) == total - n_doomed


def test_resume_sees_tag_and_payload_changes(spark, tmp_path):
    """Changing ONLY a tag column (ids + text identical) changes every
    filter; the fingerprint must flag the shard dirty so resume rebuilds
    it rather than serving the stale index."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "idx")
    df = _docs(spark, 20).withColumn("tool", F.lit("grep"))
    w = BloomIndexWriter(spark, _cfg(n_shards=2))
    w.build(df, path)
    r0 = BloomIndexReader(spark, path)
    n_shards_live = r0.storage().select("shard").distinct().count()
    assert _count(r0, ["tool=grep"]) == 20
    changed = df.withColumn("tool", F.lit("bash"))
    stats = w.build(changed, path, resume=True)
    assert stats["built"] == n_shards_live, \
        "tag change must dirty every populated shard"
    r = BloomIndexReader(spark, path)
    for via in ("slab", "linear"):
        assert r.search_verified(["tool=bash"], changed,
                                 via=via).count() == 20, via
        assert r.search_verified(["tool=grep"], changed,
                                 via=via).count() == 0, via


def test_fresh_rebuild_drops_ghost_shards(spark, tmp_path):
    """A resume=False rebuild with fewer shards/rows must fully replace
    the index: partition-overwrite alone keeps partitions absent from the
    new build, leaving ghost rows visible to storage() and empty-query
    search."""
    path = str(tmp_path / "idx")
    df = _docs(spark, 40)
    w = BloomIndexWriter(spark, _cfg())
    w.build(df, path)
    r0 = BloomIndexReader(spark, path)
    st = r0.storage().toPandas()
    # second build covers only SOME shards — the old-partition ghosts
    # live exactly in the shards the new build never writes
    keep_shards = sorted(set(st["shard"]))[:2]
    keep_convs = set(st[st["shard"].isin(keep_shards)]["conv_id"])
    assert 0 < len(keep_convs) < 40
    sub = df.where(df.conv_id.isin(list(keep_convs)))
    n_sub = sub.count()
    w.build(sub, path)  # resume=False: full overwrite semantics
    r = BloomIndexReader(spark, path)
    assert r.value_count() == n_sub
    assert r.storage().count() == n_sub
    assert _count(r, []) == n_sub  # empty query matches everything
    assert int(r.manifest()["n_turns"].sum()) == n_sub
    assert set(r.manifest()["shard"]) == set(keep_shards)


def test_duplicate_filters_across_batches_search_once(spark, tmp_path):
    """Identical token sets under different ids may get several slab
    slots (cross-Arrow-batch duplicates are data-dependent); the
    reference keeps one index entry per distinct filter
    (`FlatBloofi.java:153-154`), so batched search must return each
    matching storage row exactly once."""
    path = str(tmp_path / "idx")
    rows = []
    texts = [f"alpha{i} beta{i} gamma{i}" for i in range(8)]
    for j in range(2):          # same 8 texts again -> duplicate filters
        for i, t in enumerate(texts):
            rows.append((f"conv{j}_{i}", 0, "user", t, None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string").repartition(1)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        w = BloomIndexWriter(spark, _cfg(n_shards=1, chunk_slots=4))
        w.build(df, path)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    r = BloomIndexReader(spark, path)
    for via in ("slab", "linear"):
        out = r.search_many({"q": ["tok=alpha0"]}, via=via).toPandas()
        # exactly the two storage rows carrying alpha0, each once
        assert len(out) == len(out.drop_duplicates(["query", "conv_id",
                                                    "turn_idx"])), via
        assert sorted(out["conv_id"]) == ["conv0_0", "conv1_0"], via
    # single-query path agrees
    assert _count(r, ["tok=alpha0"]) == 2


def test_jvm_tokenizer_nonstring_and_missing_tag_columns(spark, tmp_path):
    """The jvm tokenizer must match the pandas backend's tolerance: an
    int tag column must not crash (ANSI cast of 'none' to bigint) or
    silently drop its tokens, and a configured tag column absent from
    the input is skipped, not an AnalysisException."""
    cfg = IndexConfig(n_per_record=8, probability=1e-3, n_shards=2,
                      chunk_slots=64,
                      tag_columns=("role", "priority", "tool"))
    rows = [(f"c{i:02d}", 0, "user", f"w{i} shared", i % 3)
            for i in range(12)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "priority int")  # no 'tool' column at all
    path = str(tmp_path / "jvmidx")
    BloomIndexWriter(spark, cfg).build(df, path)
    r = BloomIndexReader(spark, path)
    assert r.value_count() == 12
    got = r.search_verified(["priority=1"], df) \
        .select("conv_id").toPandas()["conv_id"]
    assert sorted(got) == ["c01", "c04", "c07", "c10"]
