"""Self-test of the benchmark at tiny size (sf0.001, a few thousand
envelopes): every check passes on the real outputs and trips on a planted
fault, and every declared metric prints with its unit in both modes.

    python3 perfbench/run.py --selftest
"""
import json

import run

TINY = {
    "ingest": {"envelopes": 3000, "warm_passes": 1, "rates": "200,400,800"},
    "query_floor": {"warm_passes": 0},
}


def drop_event_row(workload, work, rec, expected):
    p = work / "events.tsv"
    p.write_text("".join(p.read_text().splitlines(True)[1:]))


def duplicate_stream_key(workload, work, rec, expected):
    p = work / "stream_keys.txt"
    p.write_text(p.read_text() + p.read_text().splitlines(True)[0])


def corrupt_digest(workload, work, rec, expected):
    name = next(iter(expected))
    expected[name] = "0:" + expected[name]


FAULTS = {"ingest": [("dropped route row", drop_event_row),
                     ("duplicated stream key", duplicate_stream_key)],
          "query_floor": [("corrupted digest", corrupt_digest)]}


def main():
    entries = sorted(run.pools()["digests"]["sf0.001"])
    problems = []
    for workload, sizes in TINY.items():
        kw = {"sizes": sizes}
        if workload.startswith("query"):
            kw.update(data="sf0.001", entries=entries)
        for trace in (0, 1):
            correct, attempted, failed, metrics, _, why = run.run(
                workload, 7, 3, trace, **kw)
            printed = run.report(metrics, trace, workload)
            line = json.dumps({"correct": correct, "metrics": printed})
            print(f"{workload} trace={trace}: correct={correct} "
                  f"attempted={attempted} failed={failed}")
            if not correct:
                problems.append(f"{workload} trace={trace} failed clean: {why}")
            for name, unit in run.declared()[trace]:
                if f'"{name}": {{"value": ' not in line or \
                        printed[name]["unit"] != unit:
                    problems.append(f"{workload}: {name} not printed in {unit}")
        for label, fault in FAULTS[workload]:
            correct, _, failed, _, _, _ = run.run(
                workload, 7, 3, 0, fault=fault, **kw)
            tripped = not correct and failed >= 1
            print(f"{workload} with {label}: tripped={tripped} failed={failed}")
            if not tripped:
                problems.append(f"{workload}: check missed the {label}")
    for p in problems:
        print(f"SELFTEST FAIL {p}")
    print("SELFTEST " + ("FAIL" if problems else "OK"))
    return 1 if problems else 0
