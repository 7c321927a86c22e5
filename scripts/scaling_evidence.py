"""Host-attribution scaling evidence: measure, in ONE time window,

  (a) the host's pure-CPU parallel ceiling      — K processes of integer
      arithmetic (no memory traffic),
  (b) the host's parallel-DRAM ceiling          — K processes of the same
      NumPy scatter the slab kernels use,
  (c) a register-only Spark codegen job         — xxhash64 fold over
      spark.range (the JVM analogue of (a)),
  (d) the engine's build stages (STAGES_CHILD: each build stage timed
      separately on the identical input),

each at N and 4N parallelism. If (b) scales far below 0.8 in the same
window where (a)/(c) scale well, any engine stage that streams memory
(shuffle write, parquet write, NumPy slab transpose) is capped by the
HOST's aggregate DRAM bandwidth, not by the plan shape — the evidence
BASELINE.md's protocol calls for when no healthy window can be caught.

Usage: python scripts/scaling_evidence.py [N] [n_turns] [reps]
Writes a JSON report to stdout; append the table to BENCH.md by hand or
via scripts/scaling_bench.py for full end-to-end pairs.

reps (default 3) interleaves every measurement low/high within each rep
(r3 advice: single-rep cross-level efficiencies are weak evidence on a
host with episodic bandwidth collapse); efficiencies are computed from
each level's BEST rep and the per-rep lists are reported alongside.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_LOW = int(sys.argv[1]) if len(sys.argv) > 1 else 8
N_TURNS = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
N_REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
N_HIGH = N_LOW * 4
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


CPU_CHILD = r"""
import sys, time
n = 20_000_000
t0 = time.monotonic()
acc = 0
x = 0x9E3779B97F4A7C15
for i in range(n):
    x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
    acc ^= x
print(time.monotonic() - t0)
"""

DRAM_CHILD = r"""
import sys, time
import numpy as np
rng = np.random.default_rng(0)
t = 720_000
pos = rng.integers(0, 576, (t, 10), dtype=np.int64)
out = np.zeros((t, 9), dtype=np.uint64)
rows = np.repeat(np.arange(t), 10)
flat = pos.ravel()
masks = np.uint64(1) << (flat & 63).astype(np.uint64)
t0 = time.monotonic()
for _ in range(4):
    np.bitwise_or.at(out, (rows, flat >> 6), masks)
print(time.monotonic() - t0)
"""


def parallel_throughput(child_src: str, k: int) -> float:
    """Aggregate units/sec of k pinned concurrent copies of child_src."""
    procs = []
    for i in range(k):
        procs.append(subprocess.Popen(
            ["taskset", "-c", str(i % os.cpu_count()), sys.executable,
             "-c", child_src],
            stdout=subprocess.PIPE, text=True))
    secs = [float(p.communicate()[0].strip()) for p in procs]
    return sum(1.0 / s for s in secs)  # aggregate jobs/sec


SPARK_CPU = r"""
import sys, time
sys.path.insert(0, ".")
from mdbloom.spark.session import get_spark
cores = int(sys.argv[1])
spark = get_spark(f"cpu{cores}", master=f"local[{cores}]",
                  shuffle_partitions=cores)
# warm-up
spark.range(10_000_000, numPartitions=cores * 4) \
    .selectExpr("bit_xor(xxhash64(id))").collect()
t0 = time.monotonic()
spark.range(3_000_000_000, numPartitions=cores * 8) \
    .selectExpr("bit_xor(xxhash64(id, id + 1, id + 2))").collect()
print("RESULT", time.monotonic() - t0)
"""


def spark_cpu(cores: int) -> float:
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c",
         SPARK_CPU, str(cores)],
        capture_output=True, text=True, cwd=REPO)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT"):
            return float(line.split()[1])
    raise RuntimeError(out.stderr[-2000:])


# (d) one build stage at a time, mirroring build()'s fused flow; prints
# one RESULT line of per-stage seconds
STAGES_CHILD = r"""
import json, os, shutil, sys, time
sys.path.insert(0, ".")
from pyspark.sql import functions as F
from mdbloom.spark.build import BloomIndexWriter, IndexConfig
from mdbloom.spark.session import get_spark
from mdbloom.spark.transcripts import synthesize_transcripts

cores = int(sys.argv[1]); n_turns = int(sys.argv[2])
spark = get_spark(f"stages{cores}", master=f"local[{cores}]",
                  shuffle_partitions=cores)
idx = f"/tmp/mdbloom_prof_{cores}"
# keyed by size: a cached corpus from a different-n run must
# never be silently reused (same rule as scaling_bench)
src = f"/tmp/mdbloom_prof_src_{n_turns}"
shutil.rmtree(idx, ignore_errors=True)
os.makedirs(idx, exist_ok=True)
# 256 shards: match the scaling_bench protocol layout so stage timings
# attribute the same end-to-end build the N-vs-4N pairs measure
cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=256,
                  chunk_slots=65536)
if not os.path.exists(src + "/_SUCCESS"):
    synthesize_transcripts(spark, n_turns, seed=42, n_partitions=128) \
        .write.mode("overwrite").parquet(src)
tdf = spark.read.parquet(src)
w = BloomIndexWriter(spark, cfg)
stages = {}

def t(name, fn):
    t0 = time.monotonic(); r = fn(); stages[name] = time.monotonic() - t0
    return r

fp = t("fingerprints_toPandas", lambda: w.fingerprints(tdf).toPandas())
# mirror build()'s fused v2 flow: the jvm backend repartitions internally
# (its wide exchange happens pre-aggregation on raw records); the hash
# pass streams straight into the partitioned storage write (no persist)
filters = w.filters_df(tdf)
if cfg.hash_backend != "jvm":
    filters = filters.repartition(cfg.n_shards, "shard")
t("hash_storage_write", lambda: w._storage().write(
    filters.select("shard", "key", *cfg.id_columns, "filter"), idx))
from mdbloom.spark.build import SLAB_SCHEMA, MANIFEST_SCHEMA
stored = spark.read.parquet(os.path.join(idx, "storage")) \
    .select("shard", "key", "filter")
t("slab_write", lambda: (stored
    .mapInPandas(w._slab_mapper(), schema=SLAB_SCHEMA)
    .write.mode("overwrite").partitionBy("shard")
    .parquet(os.path.join(idx, "slabs"))))
t("token_stream", lambda: w._write_token_hashes(
    w._token_stream_df(tdf), idx))
t("token_gate", lambda: w.token_gate_df(
    spark.read.parquet(os.path.join(idx, "token_hashes"))).count())
slabs_rd = spark.read.parquet(os.path.join(idx, "slabs"))
t("manifest_agg", lambda: (slabs_rd.groupBy("shard")
    .applyInPandas(w._manifest_udf(), schema=MANIFEST_SCHEMA).count()))
stages["total"] = sum(stages.values())
print("RESULT " + json.dumps({"cores": cores, "stages": stages}))
"""


def treatment_env() -> dict:
    """Fault-path mitigation env (same as scaling_bench.run): pre-touched
    JVM heap + reusable malloc/Arrow arenas, see BENCH.md."""
    env = dict(os.environ)
    if os.environ.get("MDBLOOM_SCALE_PRETOUCH", "1") == "1":
        env.update({
            "MDBLOOM_JVM_PRETOUCH": "1",
            "MALLOC_MMAP_THRESHOLD_": "17179869184",
            "MALLOC_TRIM_THRESHOLD_": "17179869184",
            "ARROW_DEFAULT_MEMORY_POOL": "system",
        })
    return env


def canary_ms() -> float:
    from scripts.scaling_bench import canary_ms as c
    return c()


def main():
    report: dict = {"n_low": N_LOW, "n_high": N_HIGH, "reps": N_REPS,
                    "canary_start_ms": round(canary_ms(), 1)}
    cpu = {N_LOW: [], N_HIGH: []}      # throughputs (higher better)
    dram = {N_LOW: [], N_HIGH: []}     # throughputs
    sc = {N_LOW: [], N_HIGH: []}       # seconds (lower better)
    stages: dict[int, list[dict]] = {N_LOW: [], N_HIGH: []}
    canaries = []

    def stage_run(cores: int) -> dict:
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c",
             STAGES_CHILD, str(cores), str(N_TURNS)],
            capture_output=True, text=True, env=treatment_env(), cwd=REPO)
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                return json.loads(line[len("RESULT "):])["stages"]
        raise RuntimeError(out.stderr[-2000:])

    for rep in range(N_REPS):
        # every measurement interleaves low/high INSIDE the rep, so a
        # window shift mid-protocol degrades a pair, not one level
        for k in (N_LOW, N_HIGH):
            cpu[k].append(parallel_throughput(CPU_CHILD, k))
        for k in (N_LOW, N_HIGH):
            dram[k].append(parallel_throughput(DRAM_CHILD, k))
        for k in (N_LOW, N_HIGH):
            sc[k].append(spark_cpu(k))
        for k in (N_LOW, N_HIGH):
            stages[k].append(stage_run(k))
        canaries.append(round(canary_ms(), 1))
        print(f"# rep {rep}: cpu {cpu[N_LOW][-1]:.2f}/{cpu[N_HIGH][-1]:.2f}"
              f" dram {dram[N_LOW][-1]:.2f}/{dram[N_HIGH][-1]:.2f}"
              f" spark {sc[N_LOW][-1]:.1f}s/{sc[N_HIGH][-1]:.1f}s"
              f" canary {canaries[-1]}ms", file=sys.stderr, flush=True)

    # (a) pure-CPU parallel ceiling — best throughput per level
    report["cpu_parallel_eff"] = round(
        (max(cpu[N_HIGH]) / max(cpu[N_LOW])) / 4, 3)
    report["cpu_parallel_eff_all"] = [
        round((h / l) / 4, 3) for l, h in zip(cpu[N_LOW], cpu[N_HIGH])]

    # (b) parallel-DRAM ceiling (the slab kernels' access pattern)
    report["dram_parallel_eff"] = round(
        (max(dram[N_HIGH]) / max(dram[N_LOW])) / 4, 3)
    report["dram_parallel_eff_all"] = [
        round((h / l) / 4, 3) for l, h in zip(dram[N_LOW], dram[N_HIGH])]

    # (c) register-only Spark codegen job — best (min) seconds per level
    report["spark_codegen_eff"] = round(
        (min(sc[N_LOW]) / min(sc[N_HIGH])) / 4, 3)
    report["spark_codegen_eff_all"] = [
        round((l / h) / 4, 3) for l, h in zip(sc[N_LOW], sc[N_HIGH])]
    report["spark_codegen_sec"] = {
        N_LOW: [round(x, 1) for x in sc[N_LOW]],
        N_HIGH: [round(x, 1) for x in sc[N_HIGH]]}

    # (d) engine build stages at both levels
    # presence-checked (not truthiness): a stage measured at 0.0 s, or
    # absent from rep 0 only, must not silently vanish from the report
    best = {}
    for k, reps_ in stages.items():
        if not reps_:
            continue
        names = sorted({s for r in reps_ for s in r})
        best[k] = {s: min(r[s] for r in reps_ if s in r)
                   for s in names}
    report["stage_sec"] = best
    report["stage_sec_all"] = stages
    if len(best) == 2:
        report["stage_eff"] = {
            k: round((best[N_LOW][k] / best[N_HIGH][k]) / 4, 2)
            for k in best[N_LOW] if best[N_HIGH].get(k)}

    report["canaries_ms"] = canaries
    report["canary_end_ms"] = round(canary_ms(), 1)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
