#!/usr/bin/env python3
"""Repository benchmark: batch and streaming ingest, and the per-query floor.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. A run builds the harness together with the
engine sources (sbt, offline, incremental) into perfbench/target whenever
those sources differ from the last build's; otherwise it reuses that
build. Every run checks the program's outputs against an oracle
that does not use the engine, prints each measured metric as
`metric <name> <value> <unit>`, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones. See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import collections
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
BUILD_OK = TARGET / "build.ok"

# Sizes chosen so that one run, set-up included, takes about a minute on
# four cores (see README.md, "Left out of the original specification").
WORKLOADS = {
    "ingest": {"envelopes": 20000, "warm_passes": 8,
               "rates": "1000,4000,32000"},
    "query_floor": {"pool": "floor", "sample": 12, "warm_passes": 1,
                    "min_passes": 3},
}
SEED_MOD = 2 ** 31
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_hash():
    """Hash of everything the harness build reads: the engine and harness
    sources, the build definition and the Spark distribution it links."""
    h = hashlib.sha256(os.environ["SPARK_HOME"].encode())
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compiles unless the last build was made from the same sources."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (src/main/scala) not found; run from a checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    digest = source_hash()
    if BUILD_OK.exists() and BUILD_OK.read_text().strip() == digest:
        return
    BUILD_OK.unlink(missing_ok=True)
    TARGET.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(TARGET / "build.log", "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HERE, env=env, stdout=log,
                           stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        fail(f"build failed, see {TARGET / 'build.log'}")
    BUILD_OK.write_text(digest + "\n")


def java(args, work, timeout=JVM_TIMEOUT_S):
    """Runs the harness; returns its JSON record."""
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = f"{TARGET}/scala-2.13/classes:{os.environ['SPARK_HOME']}/jars/*"
    out = work / "record.json"
    # a fixed, pre-touched heap: pass times do not drift with heap growth
    # (README.md, "Steady state")
    heap = ["-Xms3g", "-Xmx4g", "-Xmn1500m", "-XX:+AlwaysPreTouch"]
    cmd = (["java"] + opens + heap + ["-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()]
           + [f"work={work}", f"out={out}"])
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out, see {work / 'jvm.log'}")
    if r.returncode != 0 or not out.exists():
        fail(f"harness failed ({r.returncode}), see {work / 'jvm.log'}")
    return json.loads(out.read_text())


# ----------------------------------------------------------------- oracle
# An engine-free model of the synthetic generator and the ingest routes:
# SyntheticData.envelopes draws every field from a SHA-256 of the row id,
# so each envelope's route, key, sampling decision and normalized payload
# follow from (id, seed) alone.

def sha_prefix(s, n_hex):
    return int(hashlib.sha256(s.encode()).hexdigest()[:n_hex], 16)


def redelivered(i, seed):
    return (i * 2654435761 + seed) % 4294967296 % 10 == 0


def envelope_fate(i, seed, audit_rate):
    """(route, tag) of envelope i: route is events, dlq or sampled_out."""
    if i % 100 == 0:
        return "dlq", "invalid_json:422"
    if i % 50 == 0:
        return "dlq", "missing_fields:400"
    h = sha_prefix(f"syn:{i}:{seed}", 15)
    key = f"call-{i}"
    if audit_rate < 1.0 and sha_prefix(key, 8) / 4294967295.0 >= audit_rate:
        return "sampled_out", ["call.completed", "chat.message"][(h // 7) % 2]
    payload = ('{"call_id":"%s","caller":"+1415555%04d","callee":"+1415555%04d",'
               '"duration":%s,"status":"%s","metadata":{"test":"true",'
               '"sequence":"%d"}}') % (
        key, h % 10000, (h // 3) % 10000, float(h % 3600),
        ["completed", "failed", "missed"][(h // 11) % 3], i)
    return "events", hashlib.sha256(payload.encode()).hexdigest()[:15]


def read_pairs(path):
    out = collections.Counter()
    for line in Path(path).read_text().splitlines():
        i, tag = line.split("\t")
        out[(int(i), tag)] += 1
    return out


def check_ingest_batch(rec, work, seed, n):
    """Exact per-envelope routing: failed counts envelopes lost, mis-routed,
    emitted twice or carrying a wrong payload."""
    expected = {r: collections.Counter() for r in ("events", "dlq", "sampled_out")}
    rows = valid_sampled = 0
    for i in range(n):
        copies = 2 if redelivered(i, seed) else 1
        route, tag = envelope_fate(i, seed, 0.9)
        rows += copies
        if route == "events":
            # redeliveries of a valid sampled key collapse in the dedup
            valid_sampled += copies
            expected[route][(i, tag)] += 1
        else:
            expected[route][(i, tag)] += copies
    failed = 0
    counts = {}
    for route, exp in expected.items():
        got = read_pairs(work / f"{route}.tsv")
        counts[route] = sum(got.values())
        failed += max(sum((exp - got).values()), sum((got - exp).values()))
    problems = []
    if rec["input_rows"] != rows:
        problems.append(f"input rows {rec['input_rows']} != {rows}")
    if not rec.get("events_plan_has_normalize"):
        problems.append("timed events write did not run the payload normalization")
    layer = {"ingest.rows_valid": counts["events"],
             "ingest.rows_dlq": counts["dlq"],
             "ingest.rows_sampled_out": counts["sampled_out"],
             "ingest.rows_collapsed": valid_sampled - counts["events"]}
    return rows, failed, problems, layer


def check_ingest_stream(rec, work):
    """Every valid key emitted exactly once; ids are 0 .. n-1."""
    emitted = collections.Counter(
        int(x) for x in (work / "stream_keys.txt").read_text().split())
    n = rec["stream_envelopes"]
    expected = {i for i in range(n) if i % 50 != 0}
    missing = len(expected - set(emitted))
    unexpected = sum(c for k, c in emitted.items() if k not in expected)
    repeats = sum(c - 1 for c in emitted.values() if c > 1)
    return n, missing + unexpected + repeats


def check_queries(rec, expected):
    failed = []
    for name, want in expected.items():
        got = rec["digests"].get(name)
        if name in rec["failed_entries"] or want is None or got != want:
            failed.append(name)
    problems = [f"{n}: {rec['failed_entries'].get(n, 'digest mismatch')}"
                for n in failed]
    return len(expected), len(failed), problems, {}


# -------------------------------------------------------------------- run

def pools():
    return json.loads((HERE / "pools.json").read_text())


def stratified_sample(pool, k, seed, steady):
    """One entry from each of k strata of the pool ordered by its steady
    time in benchmark conditions, in a seeded order: every seed draws a
    similar mix of fast and slow entries."""
    rng = random.Random(seed)
    ranked = sorted(pool, key=lambda n: (steady[n], n))
    picks = [rng.choice(ranked[len(ranked) * i // k:len(ranked) * (i + 1) // k])
             for i in range(k)]
    rng.shuffle(picks)
    return picks


def run(workload, seed, seconds, trace, data="sf0.1", sizes=None,
        entries=None, fault=None):
    """One measured run; returns (correct, attempted, failed, metrics,
    record, problems)."""
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}; one of {sorted(WORKLOADS)}")
    seed %= SEED_MOD
    build()
    work = TARGET / "work" / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cfg = dict(WORKLOADS[workload], **(sizes or {}))
    args = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace}
    expected = None
    if workload == "ingest":
        args.update(envelopes=cfg["envelopes"], warm_passes=cfg["warm_passes"],
                    rates=cfg["rates"])
    else:
        p = pools()
        digests = p["digests"][data]
        if entries is None:
            entries = stratified_sample(p[cfg["pool"]], cfg["sample"], seed,
                                        p["run_s"])
        expected = {e: digests.get(e) for e in entries}
        args.update(entries=",".join(entries), data=HERE / "data" / data,
                    warm_passes=cfg["warm_passes"],
                    min_passes=cfg.get("min_passes", 2))
    rec = java(args, work)
    if fault:
        fault(workload, work, rec, expected)
    if workload == "ingest":
        attempted, failed, problems, layer = check_ingest_batch(
            rec, work, seed, cfg["envelopes"])
        s_attempted, s_failed = check_ingest_stream(rec, work)
        attempted += s_attempted
        failed += s_failed
    else:
        attempted, failed, problems, layer = check_queries(rec, expected)
    metrics = {k: (v["value"], v["unit"]) for k, v in rec["metrics"].items()}
    for k, v in layer.items():
        metrics[k] = (float(v), "count")
    metrics["ops_failed_ratio"] = (failed / max(attempted, 1), "ratio")
    return not problems and failed == 0, attempted, failed, metrics, rec, problems


def declared():
    b = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


# Layers each workload exercises; a per-layer metric of another layer did
# no work on this workload and reads 0.
LAYERS = {
    "ingest": ("ingest.", "stream."),
    "query_floor": ("query.", "cache."),
}


def report(metrics, trace, workload):
    """The declared metrics of this mode, each with its unit. A metric the
    workload should have measured and did not is an error."""
    out = {}
    for name, unit in declared()[trace]:
        exercised = not trace or name.startswith(LAYERS[workload])
        if name in metrics:
            value, got_unit = metrics[name]
        elif exercised:
            fail(f"{workload} did not measure {name}")
        else:
            value, got_unit = 0.0, unit
        if got_unit != unit:
            fail(f"metric {name} measured in {got_unit}, declared {unit}")
        out[name] = {"value": value, "unit": unit}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        sys.exit(selftest.main())
    if not a.workload:
        fail("--workload is required")
    correct, attempted, failed, metrics, rec, problems = run(
        a.workload, a.seed, a.seconds, a.trace)
    for name, (value, unit) in metrics.items():
        print(f"metric {name} {value} {unit}")
    for name, w in rec.get("cpu_windows", {}).items():
        print(f"cpu_window {name} wall_s={w['wall_s']:.3f} "
              f"self_cpu_s={w['self_cpu_s']:.2f} "
              f"foreign_cpu_s={w['foreign_cpu_s']:.2f}")
    for p in problems:
        print(f"check_failed {p}")
    # every run's metrics and foreign-CPU record, kept across runs
    with open(TARGET / "runs.jsonl", "a") as log:
        log.write(json.dumps({"workload": a.workload, "seed": a.seed,
                              "trace": a.trace, "correct": correct,
                              "cpu_windows": rec.get("cpu_windows"),
                              "metrics": metrics}) + "\n")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": report(metrics, a.trace, a.workload)}))


if __name__ == "__main__":
    main()
