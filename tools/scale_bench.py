#!/usr/bin/env python3
"""Scale-slope measurement: run a fixed entry subset at sf0.1 and at
the ~10x synthesized directory (tools/make_scale_data.py), recording
per-entry wall time, Spark job count, and driver RSS growth at each
scale.  Output: BENCH_SCALE.json at the repo root.

The question this answers (BENCH_NOTES regime analysis): do the
shuffle-bound entries scale ~linearly in data (regime A), and do the
job-floor-bound entries hold a ~constant job count while their
distributed stages absorb the growth (regime B)?  Any entry with a
superlinear time slope or data-proportional driver memory is a scale
bug.

Usage: python tools/scale_bench.py [small_dir] [big_dir] [factor]
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ENTRIES = [
    # regime A (shuffle/compute-bound — expect ~linear time, flat jobs)
    "pagerank_top20",
    "wcc_placed_components",
    "cdlp_communities",
    "lcc_triangle_coorder",
    "cypher_two_hop_agg",
    "minhash_lsh_dedup",
    "simhash_dedup",
    "corpus_pipeline_e2e",
    # regime B (job-floor-bound at toy scale — expect the floor to
    # amortize: slope well under the data factor)
    "cypher_shortest_paths",
    "ldbc_ic1_transitive_name",
    "cypher_var_length",
    "bfs_layers",
    # round-7 extensions: one entry per remaining family (vector
    # search, embedding dedup, temporal join, text metrics, weighted
    # paths, exact dedup)
    "cypher_knn",
    "semdedup_verdicts",
    "events_asof_join",
    "text_metrics",
    # round-8 extension: span-level dedup (fingerprint join over
    # exploded k-token windows)
    "substring_span_dedup",
    "sssp_weighted",
    "dedup_exact",
    # round-9 extensions: the newly gate-rotated curation operators
    # (one Lloyd round of spherical k-means; CCNet quantile bucketing)
    "embedding_kmeans",
    "quality_quantile_buckets",
    # round-10 extensions: the r10 gate rotation (corpus-wide line
    # dedup is the heaviest new shuffle — one row per line corpus-wide
    # through a hash-argmin aggregate; Gopher rules are map-only;
    # quotas are one best-first rank shuffle) plus the fixed-k SemDeDup
    # twin, kept to DOCUMENT its quadratic slope next to the gate's
    # linear derived-k row (semdedup_verdicts)
    "dedup_lines_corpuswide",
    "gopher_quality_rules",
    "source_quota_sample",
    "semdedup_fixed_k",
    # round-11 extensions: DSIR data selection (two bounded-key
    # histogram shuffles + broadcast LLR join-back — expect ~linear
    # time, flat jobs) and the any-offset rolling-hash substring
    # miner (Lee et al. 2022 granularity; windowed HOF + banded join)
    "dsir_weights",
    "substring_maximal_spans",
]


# (round-10: the scaled-k SemDeDup variant that used to live here is
# now the REGISTRY gate entry itself — semdedup_verdicts derives
# k = ceil(n / 50); the fixed-k trap is the semdedup_fixed_k registry
# twin, measured above.)
EXTRA_ENTRIES: dict = {}


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else "/tmp/testdata-sf1-synth"
    factor = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0

    from samyama_graph_spark.session import get_spark
    from samyama_graph_spark.workloads import REGISTRY, load_all_workloads

    load_all_workloads()
    spark = get_spark(app_name="samyama-scale-bench")
    st = spark.sparkContext.statusTracker()

    def maxjob() -> int:
        ids = st.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    # same load gate as bench.py: a fixed CPU probe brackets every
    # sample; samples with an inflated adjacent probe are rejected and
    # retaken (bounded).  Two earlier sweeps this round were poisoned
    # by co-tenant phases exactly this gate exists to catch.
    _sink = [0]

    def _probe_once() -> float:
        t0 = time.perf_counter()
        x = 0x9E3779B9
        for _ in range(120_000):
            x = (x * 6364136223846793005 + 1442695040888963407) & (
                (1 << 64) - 1
            )
        _sink[0] = x
        return time.perf_counter() - t0

    def probe() -> float:
        return min(_probe_once(), _probe_once())

    probe_best = [min(probe() for _ in range(5))]
    PROBE_TOL = 1.6

    def rss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def release_coorder(sf_dir: str) -> None:
        # the co-order stats and engine are session-memoized by design
        # (a materialized view, like the reference's resident CSR) —
        # but a SCALE artifact must price the build, not the memo read
        from samyama_graph_spark import lifecycle, workloads_cypher, workloads_graph

        for owner in (workloads_graph.COORDER_STATS, workloads_cypher.COORDER_ENGINE):
            lifecycle.release(spark, (owner, sf_dir))

    def cleanup(sf_dir: str) -> None:
        import gc

        from samyama_graph_spark.cypher.engine import clear_plan_caches

        clear_plan_caches()
        release_coorder(sf_dir)
        gc.collect()
        for _rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            rdd.unpersist()
        spark.sparkContext._jvm.System.gc()

    all_names = ENTRIES + list(EXTRA_ENTRIES)
    # debugging hook mirroring bench.py's: restrict the sweep to a
    # comma-separated subset and MERGE into the existing artifact
    # (full regeneration on the shipped tree stays the per-round rule)
    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY")
    if only:
        all_names = [n.strip() for n in only.split(",") if n.strip()]
    results: dict[str, dict] = {n: {} for n in all_names}
    for tag, sf_dir in (("small", small), ("big", big)):
        # warm parquet footers
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
        for name in all_names:
            fn = (
                EXTRA_ENTRIES[name]
                if name in EXTRA_ENTRIES
                else REGISTRY[name].fn
            )
            print(f"# scale[{tag}]: {name}", file=sys.stderr, flush=True)
            samples, jobs = [], []
            dirty_samples, dirty_jobs = [], []
            rejected = 0
            err = None
            attempts = 0
            while len(samples) < 3 and attempts < 8 and err is None:
                attempts += 1
                # per-SAMPLE memo release (not just per entry): the scale
                # slope must price every run's build, never a memo read
                release_coorder(sf_dir)
                p0 = probe()
                j0, t0 = maxjob(), time.perf_counter()
                try:
                    fn(spark, sf_dir).collect()
                except Exception as e:  # noqa: BLE001
                    err = str(e)[:200]
                    break
                elapsed = time.perf_counter() - t0
                p1 = probe()
                probe_best[0] = min(probe_best[0], p0, p1)
                if max(p0, p1) > probe_best[0] * PROBE_TOL:
                    rejected += 1
                    # keep as a flagged fallback — an entry must never
                    # end up with NO data because the box never went
                    # fully quiet
                    dirty_samples.append(elapsed)
                    dirty_jobs.append(maxjob() - j0)
                    print(
                        f"#   sample rejected (probe {p0*1e3:.1f}/"
                        f"{p1*1e3:.1f} ms)", file=sys.stderr, flush=True,
                    )
                    time.sleep(5.0)
                    continue
                samples.append(elapsed)
                jobs.append(maxjob() - j0)
            cleanup(sf_dir)
            dirty = False
            if not samples and dirty_samples:
                samples, jobs, dirty = dirty_samples, dirty_jobs, True
            if err or not samples:
                results[name][tag] = {"err": err}
                continue
            try:
                load1 = round(os.getloadavg()[0], 1)
            except OSError:
                load1 = -1.0
            results[name][tag] = {
                "sec_median": round(statistics.median(samples), 3),
                "sec_cold": round(samples[0], 3),
                "rejected_samples": rejected,
                # True = every sample was probe-rejected and the value
                # is a median of known-contended runs
                "dirty": dirty,
                # loadavg when the entry FINISHED: our own local[32]
                # run inflates this, but a value far above ~10 on this
                # box means external contention — audit signal only
                "load1_after": load1,
                # warm-run job count (plan caches populated) = the
                # steady-state execution jobs; cold includes compile
                # probes
                "jobs_cold": jobs[0],
                "jobs_warm": jobs[-1],
                "rss_mb": round(rss_mb(), 1),
            }

    for name, r in results.items():
        s, b = r.get("small", {}), r.get("big", {})
        if "sec_median" in s and "sec_median" in b:
            r["time_slope"] = round(
                b["sec_median"] / max(s["sec_median"], 1e-9), 2
            )
            r["slope_vs_data"] = round(r["time_slope"] / factor, 3)
            r["jobs_flat"] = b["jobs_warm"] <= s["jobs_warm"] * 1.5 + 2

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_SCALE.json",
    )
    entries = results
    if only and os.path.exists(path):
        with open(path) as f:
            prior = json.load(f)
        entries = {**prior.get("entries", {}), **results}
    out = {
        "factor": factor,
        "small_dir": small,
        "big_dir": big,
        "entries": entries,
    }
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(
        {n: {k: results[n].get(k) for k in ("time_slope", "jobs_flat")}
         for n in all_names},
        indent=1,
    ))
    spark.stop()


if __name__ == "__main__":
    main()
