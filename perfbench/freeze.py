#!/usr/bin/env python3
"""Rebuilds the frozen query pool. Not part of a benchmark run.

    python3 perfbench/freeze.py profile
        Runs every registry entry once warm and once timed, traced, at
        data/sf0.1 and writes perfbench/seed_profile.tsv (query, wall_s,
        build_s, shuffle_mb, digest).
    python3 perfbench/freeze.py pools <verify.log>
        Times each candidate entry's cold execution, each in a Spark
        session of its own, cuts the pool and writes perfbench/pools.json.
    python3 perfbench/freeze.py runtimes
        Times each pooled entry as a benchmark run does (a fresh JVM per
        chunk of 12 entries, the workload's warm passes, two steady
        passes) and stores the medians in pools.json as run_s: the
        stratified sample is drawn by these times.

<verify.log> is tools/verify_local.py's report for the pooled entries at
data/sf0.1 (graft.Verify writes the Spark side, verify_local.py compares
it with each entry's DuckDB twin, SparkEntry.oracleSql):

    java ... graft.Verify perfbench/data/sf0.1 <out> <comma-separated names>
    python3 tools/verify_local.py perfbench/data/sf0.1 <out> --skip-spark

The floor pool is every entry whose fully materialized steady wall is
< 0.6 s, whose DataFrame build is < 0.5 s, whose shuffle is < 5 MB and
whose cold execution, shared frames included, is < 2 s. The last limit
keeps the run's set-up time from hanging on which entries the seed draws.
A pooled entry keeps its digest when its DuckDB twin agrees (PASS) or
when it has no twin; an entry the twin disagrees with keeps its pool
place with digest null, so every run counts it as failed.
"""
import hashlib
import json
import sys

import run

COLUMNS = ["query", "wall_s", "build_s", "shuffle_mb", "digest"]
SELFTEST_ENTRIES = 3
COLD_LIMIT_S = 2.0
RUN_CHUNK = 12


def seed_profile():
    """Per registry entry at the seed: wall_s, build_s, shuffle_mb, digest."""
    rows = (run.HERE / "seed_profile.tsv").read_text().splitlines()
    cols = rows[0].split("\t")
    out = {}
    for line in rows[1:]:
        r = dict(zip(cols, line.split("\t")))
        name = r.pop("query")
        out[name] = {k: (v if k == "digest" else float(v)) for k, v in r.items()}
    return out


def harness(entries, data, trace, **extra):
    run.build()
    work = run.TARGET / "work" / "freeze"
    work.mkdir(parents=True, exist_ok=True)
    return run.java({"workload": "query_floor", "seed": 0, "seconds": 0,
                     "trace": trace, "min_passes": 1, "warm_passes": 1,
                     "entries": ",".join(entries),
                     "data": run.HERE / "data" / data, **extra}, work,
                    timeout=5400)


def runtimes():
    """Steady time of each pooled entry in benchmark conditions. The
    profile's times come from one JVM that ran the whole registry, whose
    code is warmer than a run's; they rank the entries differently."""
    pools = run.pools()
    order = sorted(pools["floor"],
                   key=lambda n: hashlib.sha256(n.encode()).hexdigest())
    warm = run.WORKLOADS["query_floor"]["warm_passes"]
    times = {}
    for i in range(0, len(order), RUN_CHUNK):
        rec = harness(order[i:i + RUN_CHUNK], "sf0.1", 0, warm_passes=warm,
                      min_passes=2)
        if rec["failed_entries"]:
            sys.exit(f"failed: {rec['failed_entries']}")
        times.update(rec["entry_median_s"])
    pools["run_s"] = {n: round(times[n], 4) for n in pools["floor"]}
    (run.HERE / "pools.json").write_text(json.dumps(pools, indent=1) + "\n")
    print(f"timed {len(times)} entries, {sum(times.values()):.1f} s in total")


def main():
    if sys.argv[1] == "runtimes":
        runtimes()
        return
    if sys.argv[1] == "profile":
        rec = harness(["*"], "sf0.1", 1)
        names = rec["entries"]
        lines = ["\t".join(COLUMNS)]
        for n in names:
            if n in rec["failed_entries"]:
                continue
            layer = rec["entry_layers"][n]
            lines.append("\t".join([n, f"{rec['entry_median_s'][n]:.4f}",
                                    f"{layer['build_s']:.4f}",
                                    f"{layer['shuffle_mb']:.3f}",
                                    rec["digests"][n]]))
        (run.HERE / "seed_profile.tsv").write_text("\n".join(lines) + "\n")
        print(f"profiled {len(lines) - 1}, failed {sorted(rec['failed_entries'])}")
        return
    verdict = {}
    for line in open(sys.argv[2]):
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL", "SKIP"):
            verdict[parts[1].rstrip(":")] = parts[0]
    prof = seed_profile()
    candidates = sorted(n for n, r in prof.items() if r["wall_s"] < 0.6
                        and r["build_s"] < 0.5 and r["shuffle_mb"] < 5)
    cold = harness(candidates, "sf0.1", 0, isolate=1,
                   min_passes=0)["entry_cold_s"]
    floor = [n for n in candidates if cold[n] < COLD_LIMIT_S]
    small = sorted(floor, key=lambda n: prof[n]["wall_s"])[:SELFTEST_ENTRIES]
    pools = {
        "rule": "fully materialized steady wall < 0.6 s, build < 0.5 s, "
                "shuffle < 5 MB, cold execution in a session of its own "
                f"< {COLD_LIMIT_S:g} s; graft registry at data/sf0.1, local[4]",
        "floor": floor,
        "cold_s": {n: round(cold[n], 3) for n in candidates},
        "oracle": {n: verdict.get(n, "not adjudicated") for n in floor},
        "digests": {
            "sf0.1": {n: (None if verdict.get(n) == "FAIL"
                          else prof[n]["digest"]) for n in floor},
            "sf0.001": harness(small, "sf0.001", 0)["digests"]},
    }
    (run.HERE / "pools.json").write_text(json.dumps(pools, indent=1) + "\n")
    print(f"floor {len(floor)} of {len(candidates)}, oracle verdicts "
          f"{ {v: list(pools['oracle'].values()).count(v) for v in set(pools['oracle'].values())} }")


if __name__ == "__main__":
    main()
