"""Pluggable value-storage SPI: where the index's multimap values live.

Reference parity: the reference's only cross-process component is its
``Storage<E,I>`` SPI (`Container.java:171-221` — "More than one object may
be stored with a single Bloom filter") with two shipped backends — the
``HashMap`` multimap `InMemory.java:29-74` and the networked KV cache
`IgniteStorage.java:48-101`, whose ``Serde<E>`` (`Serde.java:20-24`)
serializes values to ``byte[]``. This module re-expresses that SPI at the
Spark layer: a :class:`StorageBackend` owns the whole storage TABLE
(``(shard, key, *payload, filter)`` rows — the Spark-native unit, instead
of the reference's per-key get/put, because every engine read of storage is
a table scan or join, never a point lookup), and :class:`Serde` keeps the
reference's byte-oriented value-serialization plug point for KV-style
backends.

Backends shipped:

* :class:`ParquetStorage` (default) — shard-partitioned parquet with a
  key bloom filter; the lake-native 100 TB path. Everything the engine
  did before this SPI existed, unchanged.
* :class:`MemoryKVStorage` — a driver-resident ``{shard -> rows}`` map
  with values pushed through a :class:`Serde`, mirroring the reference's
  InMemory/Ignite *client-cache* shape. Test/dev scale by design (the
  reference's InMemory is too); it exists to prove the plug point — a
  real networked KV backend implements the same four methods and calls
  :func:`register_storage_backend`.

The index artifacts (slabs, manifest, tombstones) are NOT pluggable: they
are the distributed re-expression of the reference's ``Index`` (which
always lives with the engine), and tombstones remain an append-only
parquet log even for KV storage — deletes must survive a driver restart
regardless of where values live.
"""

from __future__ import annotations

import base64
import datetime
import json
import os
import shutil
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


# ---------------------------------------------------------------- Serde
class Serde(ABC):
    """Value serialization for KV-style backends (`Serde.java:20-24`):
    payload dict -> bytes -> payload dict. Index-native columns (shard,
    key, filter) never pass through a Serde — only the opaque value E."""

    @abstractmethod
    def serialize(self, payload: dict) -> bytes: ...

    @abstractmethod
    def deserialize(self, data: bytes) -> dict: ...


class JsonSerde(Serde):
    """Default Serde: JSON with type-faithful markers for the non-JSON
    Spark types (timestamp/date -> ISO strings, binary -> base64, nested
    maps/arrays tagged), so a deserialized payload reconstructs the exact
    DataFrame row. Non-JSON-native values are wrapped in EXPLICIT
    ``[tag, value]`` pairs and decoded by recursion — not a json
    object_hook — so no user key or value that merely LOOKS like a
    marker can collide with the encoding (r4 review finding)."""

    @staticmethod
    def _enc(v):
        if v is None or isinstance(v, (str, int, float, bool)):
            return v
        if isinstance(v, datetime.datetime):
            return ["dt", v.isoformat()]
        if isinstance(v, datetime.date):
            return ["d", v.isoformat()]
        if isinstance(v, (bytes, bytearray)):
            return ["b64", base64.b64encode(bytes(v)).decode()]
        if isinstance(v, dict):
            return ["m", {k: JsonSerde._enc(x) for k, x in v.items()}]
        if isinstance(v, (list, tuple)):
            return ["l", [JsonSerde._enc(x) for x in v]]
        raise TypeError(f"JsonSerde cannot serialize {type(v).__name__}")

    @staticmethod
    def _dec(v):
        if isinstance(v, list):
            tag, x = v
            if tag == "dt":
                return datetime.datetime.fromisoformat(x)
            if tag == "d":
                return datetime.date.fromisoformat(x)
            if tag == "b64":
                return base64.b64decode(x)
            if tag == "m":
                return {k: JsonSerde._dec(y) for k, y in x.items()}
            if tag == "l":
                return [JsonSerde._dec(y) for y in x]
            raise ValueError(f"unknown JsonSerde tag {tag!r}")
        return v

    def serialize(self, payload: dict) -> bytes:
        return json.dumps({k: self._enc(v) for k, v in payload.items()},
                          sort_keys=True).encode()

    def deserialize(self, data: bytes) -> dict:
        return {k: self._dec(v)
                for k, v in json.loads(data.decode()).items()}


# ---------------------------------------------------------- backend SPI
class StorageBackend(ABC):
    """Table-level storage SPI. ``path`` is always the INDEX directory;
    the backend decides its own layout under (or outside) it. All four
    methods must be idempotent — build() retries call them again."""

    name: str

    @abstractmethod
    def write(self, df: DataFrame, path: str) -> None:
        """Persist the storage rows, replacing exactly the shards present
        in ``df`` (dynamic-partition-overwrite semantics — resume builds
        rewrite only changed shards)."""

    @abstractmethod
    def read(self, spark: SparkSession, path: str) -> DataFrame:
        """The full storage table as a DataFrame (same schema written)."""

    @abstractmethod
    def exists(self, path: str) -> bool:
        """True if this backend holds rows for ``path``. build(resume=
        True) consults this: matching fingerprints normally skip a
        shard's rebuild, but a backend whose store is gone (e.g. a
        driver-resident store in a NEW process) must force a full
        rebuild instead of resuming onto missing values."""

    @abstractmethod
    def clear(self, path: str) -> None:
        """Drop all storage rows (clean-slate rebuild)."""

    @abstractmethod
    def drop_shards(self, path: str, shards: list) -> None:
        """Drop the given shards' rows (fully-compacted-away shards)."""


class ParquetStorage(StorageBackend):
    """Default: shard-partitioned parquet under ``<path>/storage`` with a
    parquet bloom filter on the content key — exact-get (key equality)
    prunes row groups without reading them, the file-format face of the
    reference's O(1) content-addressed get.

    The filter is sized per column chunk from the keys it holds. The
    adaptive writer holds 12 power-of-two candidates, from the 1 MiB
    ``parquet.bloom.filter.max.bytes`` cap down to 512 B, and writes the
    smallest that meets the default 1% fpp for the chunk's distinct
    keys (parquet sizes candidates in 500-key steps, so the smallest
    written is 1 KiB; ~1,250 keys get 2 KiB). A fixed-size filter is
    always 1 MiB, about 10x a 1k-key file's column data. The sizing is
    parquet-internal (readers take the bitset size from the file), so
    it needs no ``FORMAT_VERSION`` bump. The adaptive switch is read
    only under its global key; parquet 1.16 ignores
    ``parquet.bloom.filter.adaptive.enabled#key``."""

    name = "parquet"

    def _dir(self, path: str) -> str:
        return os.path.join(path, "storage")

    def write(self, df: DataFrame, path: str) -> None:
        (df.write.mode("overwrite").partitionBy("shard")
         .option("partitionOverwriteMode", "dynamic")
         .option("parquet.bloom.filter.enabled#key", "true")
         .option("parquet.bloom.filter.adaptive.enabled", "true")
         .option("parquet.bloom.filter.candidates.number#key", "12")
         .parquet(self._dir(path)))

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.parquet(self._dir(path))

    def exists(self, path: str) -> bool:
        return os.path.isdir(self._dir(path))

    def clear(self, path: str) -> None:
        shutil.rmtree(self._dir(path), ignore_errors=True)

    def drop_shards(self, path: str, shards: list) -> None:
        for s in shards:
            shutil.rmtree(os.path.join(self._dir(path), f"shard={s}"),
                          ignore_errors=True)


# process-global stores, keyed by absolute index path — the same-process
# visibility contract the reference's InMemory HashMap has
_MEMORY_STORES: dict[str, dict] = {}


class MemoryKVStorage(StorageBackend):
    """Driver-resident KV multimap behind a :class:`Serde` — the
    reference's `InMemory.java:29-74` / `IgniteStorage.java:48-101`
    client-cache shape. Rows live as ``(native index columns..., value
    bytes)`` per shard; reads rebuild the exact DataFrame (schema
    round-tripped via StructType json).

    Scale contract (stated, not hidden): values are collect()ed to the
    driver on write — use it for tests, notebooks, and as the SPI
    reference implementation, not for the 100 TB path (the reference's
    InMemory carries the same caveat). A networked KV backend would keep
    this exact interface and stream per-partition instead."""

    name = "memory"
    # index-native columns that bypass the Serde (the reference
    # serializes only E, never I — `IgniteStorage.java:43-46`)
    NATIVE = ("shard", "key", "filter")

    def __init__(self, serde: Serde | None = None):
        self.serde = serde or JsonSerde()

    @staticmethod
    def _store(path: str) -> dict:
        return _MEMORY_STORES.setdefault(
            os.path.abspath(path), {"schema": None, "shards": {}})

    def write(self, df: DataFrame, path: str) -> None:
        store = self._store(path)
        store["schema"] = df.schema.json()
        cols = df.columns
        native = [c for c in cols if c in self.NATIVE]
        payload = [c for c in cols if c not in self.NATIVE]
        by_shard: dict[int, list] = {}
        for row in df.collect():
            d = row.asDict()
            rec = ({c: d[c] for c in native},
                   self.serde.serialize({c: d[c] for c in payload}))
            by_shard.setdefault(int(d["shard"]), []).append(rec)
        # dynamic-overwrite semantics: replace only the shards present
        store["shards"].update(by_shard)

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        store = _MEMORY_STORES.get(os.path.abspath(path))
        if store is None or store["schema"] is None:
            raise KeyError(
                f"no in-memory storage for index {path!r} in this process "
                "— the 'memory' backend is driver-resident (reference "
                "InMemory semantics); rebuild the index in this process "
                "or use the 'parquet' backend")
        schema = StructType.fromJson(json.loads(store["schema"]))
        rows = []
        for recs in store["shards"].values():
            for native, blob in recs:
                d = dict(native)
                d.update(self.serde.deserialize(blob))
                rows.append(tuple(d[f.name] for f in schema.fields))
        return spark.createDataFrame(rows, schema)

    def exists(self, path: str) -> bool:
        store = _MEMORY_STORES.get(os.path.abspath(path))
        return store is not None and store["schema"] is not None

    def clear(self, path: str) -> None:
        _MEMORY_STORES.pop(os.path.abspath(path), None)

    def drop_shards(self, path: str, shards: list) -> None:
        store = _MEMORY_STORES.get(os.path.abspath(path))
        if store is not None:
            for s in shards:
                store["shards"].pop(int(s), None)


STORAGE_BACKENDS: dict[str, StorageBackend] = {
    "parquet": ParquetStorage(),
    "memory": MemoryKVStorage(),
}


def register_storage_backend(name: str, backend: StorageBackend) -> None:
    """Plug in a custom backend (e.g. a networked KV cache — the
    IgniteStorage role). The name is recorded in the index's config.json,
    so every process opening the index must register it first."""
    backend.name = name
    STORAGE_BACKENDS[name] = backend


def storage_backend(name: str) -> StorageBackend:
    try:
        return STORAGE_BACKENDS[name]
    except KeyError:
        raise ValueError(
            f"unknown storage backend {name!r}; known: "
            f"{sorted(STORAGE_BACKENDS)} — register custom backends with "
            "register_storage_backend()") from None
