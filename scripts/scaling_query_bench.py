"""Phase-isolated N-vs-4N QUERY scaling evidence.

`scaling_bench.py` times build + query inside ONE session per parallelism
level, so the query phase inherits the build's JVM heap pressure and any
mid-session host-bandwidth swing. On a real cluster, query jobs run in
their own (long-lived, warm) executors against an already-built index —
this script reproduces that shape:

  1. build the index ONCE (identical artifact bytes for every level);
  2. per parallelism level, a FRESH ``taskset``-pinned session times the
     same batched query workload through each strategy pinned by
     ``via`` (NumPy slab, all-JVM linear, all-JVM slab-SQL), several
     reps, best per level reported;
  3. append the table to BENCH.md.

The canary/healthy-window protocol matches scaling_bench.py (this VM has
episodic memory-bandwidth collapse — BENCH.md).

Usage: python scripts/scaling_query_bench.py [n_turns] [N] [n_queries] [reps]
  defaults: n_turns=4_000_000, N=8 (8 vs 32 cores), n_queries=256, reps=3.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scaling_bench import wait_healthy  # noqa: E402

N_TURNS = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
N_LOW = int(sys.argv[2]) if len(sys.argv) > 2 else 8
N_QUERIES = int(sys.argv[3]) if len(sys.argv) > 3 else 256
N_REPS = int(sys.argv[4]) if len(sys.argv) > 4 else 3
N_HIGH = N_LOW * 4
IDX = f"/tmp/mdbloom_qscale_idx_{N_TURNS}"
# keyed by size: a cached corpus from a different-N run must never be
# silently reused (it would mislabel the BENCH.md evidence)
SRC = f"/tmp/mdbloom_scale_src_{N_TURNS}"

BUILD = r"""
import os, sys, time
sys.path.insert(0, ".")
from mdbloom.spark.build import BloomIndexWriter, IndexConfig
from mdbloom.spark.session import get_spark
from mdbloom.spark.transcripts import synthesize_transcripts

idx, src, n_turns, cores = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
spark = get_spark("qscale_build", master=f"local[{cores}]",
                  shuffle_partitions=cores,
                  extra={"spark.local.dir": f"/dev/shm/mdbloom_shuffle_{cores}"})
if not os.path.exists(src + "/_SUCCESS"):
    synthesize_transcripts(spark, n_turns, seed=42, n_partitions=128) \
        .write.mode("overwrite").parquet(src)
cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=256,
                  chunk_slots=65536)
BloomIndexWriter(spark, cfg).build(spark.read.parquet(src), idx)
print("BUILT")
"""

QUERY = r"""
import json, sys, time
sys.path.insert(0, ".")
from mdbloom.spark.query import BloomIndexReader
from mdbloom.spark.session import get_spark

idx, cores, n_queries, reps = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
spark = get_spark(f"qscale{cores}", master=f"local[{cores}]",
                  shuffle_partitions=cores,
                  extra={"spark.local.dir": f"/dev/shm/mdbloom_shuffle_{cores}"})
reader = BloomIndexReader(spark, idx)

def mk_queries(n):
    qs = {}
    for i in range(n):
        w = f"w{(i * 317) % 5000:05d}"
        role = ["user", "assistant", None, "tool"][i % 4]
        qs[f"q{i}"] = reader.transcript_query_tokens(role, None, [w])
    return qs

queries = mk_queries(n_queries)
# warm-up: JIT, python workers, parquet footers (real executors are warm)
reader.search_many(mk_queries(8), via="slab").count()
reader.search_linear_many(mk_queries(8)).count()
reader.search_slab_sql_many(mk_queries(8)).count()
slab, linear, slabsql, hits = [], [], [], set()
for _ in range(reps):
    t0 = time.monotonic(); h1 = reader.search_many(queries, via="slab").count()
    slab.append(time.monotonic() - t0)
    t0 = time.monotonic(); h2 = reader.search_linear_many(queries).count()
    linear.append(time.monotonic() - t0)
    t0 = time.monotonic(); h3 = reader.search_slab_sql_many(queries).count()
    slabsql.append(time.monotonic() - t0)
    hits.update((h1, h2, h3))
assert len(hits) == 1, hits
print("RESULT " + json.dumps({
    "cores": cores, "hits": hits.pop(), "slab_sec": slab,
    "linear_sec": linear, "slabsql_sec": slabsql,
    "best_slab_qps": n_queries / min(slab),
    "best_linear_qps": n_queries / min(linear),
    "best_slabsql_qps": n_queries / min(slabsql)}))
"""


def run(script: str, cores: int, args: list[str]) -> str:
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", script,
         *args],
        capture_output=True, text=True, cwd=os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ,
             "SPARK_SUBMIT_OPTS": "-Dspark.ui.showConsoleProgress=false"})
    for line in out.stdout.splitlines():
        if line.startswith(("RESULT ", "BUILT")):
            return line
    print(out.stdout[-2000:], file=sys.stderr)
    print(out.stderr[-2000:], file=sys.stderr)
    raise RuntimeError(f"worker at local[{cores}] produced no RESULT")


def _cached_index_current() -> bool:
    """True only if the cached index's config.json matches the CURRENT
    config byte-for-byte (same compare build(resume=True) makes) — an
    existence-only check once aborted a whole bench on a pre-v5 leftover
    (reader rejects the old format after 30 min of healthy-window
    polling)."""
    cfg_path = os.path.join(IDX, "config.json")
    if not os.path.exists(cfg_path):
        return False
    from mdbloom.spark.build import IndexConfig
    want = IndexConfig(n_per_record=40, probability=1e-3, n_shards=256,
                       chunk_slots=65536).to_json()
    with open(cfg_path) as f:
        return f.read() == want


def main():
    canaries = [round(wait_healthy(), 1)]
    if not _cached_index_current():
        import shutil
        shutil.rmtree(IDX, ignore_errors=True)
        print(f"building shared index at {IDX}", file=sys.stderr)
        run(BUILD, N_HIGH, [IDX, SRC, str(N_TURNS), str(N_HIGH)])
    results = {}
    for cores in (N_LOW, N_HIGH):
        canaries.append(round(wait_healthy(), 1))
        line = run(QUERY, cores, [IDX, str(cores), str(N_QUERIES),
                                  str(N_REPS)])
        results[cores] = json.loads(line[len("RESULT "):])
        print(f"local[{cores}]: {results[cores]}", file=sys.stderr)
    lo, hi = results[N_LOW], results[N_HIGH]
    eff_slab = (hi["best_slab_qps"] / lo["best_slab_qps"]) / (N_HIGH / N_LOW)
    eff_linear = (hi["best_linear_qps"] / lo["best_linear_qps"]) \
        / (N_HIGH / N_LOW)
    eff_slabsql = (hi["best_slabsql_qps"] / lo["best_slabsql_qps"]) \
        / (N_HIGH / N_LOW)
    report = {
        "n_turns": N_TURNS, "n_queries": N_QUERIES, "reps": N_REPS,
        "low": lo, "high": hi, "canaries_ms": canaries,
        "scaling_efficiency_query_slab": round(eff_slab, 3),
        "scaling_efficiency_query_linear": round(eff_linear, 3),
        "scaling_efficiency_query_slab_sql": round(eff_slabsql, 3),
    }
    print(json.dumps(report, indent=2))
    table = f"""
## Query-phase-isolated scaling ({time.strftime('%Y-%m-%d')}, N vs 4N)

Index built ONCE ({N_TURNS:,} turns, identical artifact for both levels);
each parallelism level then timed the same {N_QUERIES}-query batch in a
FRESH `taskset`-pinned session ({N_REPS} reps, best per level) — the
real-cluster query shape: warm dedicated executors, no build-phase heap
pressure. Canaries {canaries} ms. Identical hit counts at every
level/rep ({lo["hits"]}).

| parallelism | slab best sec | slab q/s | linear (JVM) best sec | linear q/s | slab-SQL (JVM) best sec | slab-SQL q/s |
|---|---|---|---|---|---|---|
| local[{N_LOW}] | {min(lo["slab_sec"]):.1f} | {lo["best_slab_qps"]:.2f} | {min(lo["linear_sec"]):.1f} | {lo["best_linear_qps"]:.2f} | {min(lo["slabsql_sec"]):.1f} | {lo["best_slabsql_qps"]:.2f} |
| local[{N_HIGH}] | {min(hi["slab_sec"]):.1f} | {hi["best_slab_qps"]:.2f} | {min(hi["linear_sec"]):.1f} | {hi["best_linear_qps"]:.2f} | {min(hi["slabsql_sec"]):.1f} | {hi["best_slabsql_qps"]:.2f} |

Scaling efficiency (throughput ratio / core ratio): **slab
{eff_slab:.2f}**, **linear (all-JVM) {eff_linear:.2f}**,
**slab-SQL (all-JVM bit-sliced) {eff_slabsql:.2f}**
(north-rule target >= 0.8).
"""
    if os.environ.get("SCALING_NO_APPEND"):
        # window-hunt mode: caller inspects the JSON and appends the
        # best window's table itself
        print(table)
        return
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH.md"), "a") as f:
        f.write(table)
    print("appended to BENCH.md", file=sys.stderr)


if __name__ == "__main__":
    main()
