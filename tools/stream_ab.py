"""Isolated streaming A/B: time one pipeline at several explicit
shuffle-partition counts, min-of-2, and write STREAM_AB_r{N}.json.

Round-7 process bug (verdict #5): the round notes quoted streaming
numbers from ad-hoc sessions that never landed in a committed artifact,
and the claims contradicted BENCH_r07.json. This tool is the fix — every
isolated number a round's notes cite comes from this file's committed
output, alongside the in-harness numbers in BENCH_SELF_r{N}.json.

The session's streaming width is 1 (session.get_spark: one state store
per stateful operator). `--parts` overrides `spark.sql.shuffle.partitions`
at runtime, which moves only the streaming queries: batch exchanges plan
at AQE's initial partition number, `max(cpus, 4)`.

Usage:
    python tools/stream_ab.py fraud_check ordered_concat [--parts 1,2,4]
    python tools/stream_ab.py --all          # session streaming width only
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import bench
    from kafka_streams_examples_spark.session import get_spark
    from kafka_streams_examples_spark.streaming.core import run_to_memory

    argv = [a for a in sys.argv[1:]]
    parts_list = None
    if "--parts" in argv:
        i = argv.index("--parts")
        parts_list = [int(x) for x in argv[i + 1].split(",")]
        del argv[i:i + 2]
    run_all = "--all" in argv
    if run_all:
        argv.remove("--all")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    bench.wait_for_idle()
    spark = get_spark("stream_ab", cpus=cpus)

    # same closure factory as the in-harness bench — the pipelines the
    # A/B times are IDENTICAL to the ones BENCH_SELF records
    cases = bench.stream_cases(spark, sf_dir)
    names = list(cases) if run_all else argv
    saved = spark.conf.get("spark.sql.shuffle.partitions")

    results: dict[str, dict] = {}
    for name in names:
        build, mode, rows_in = cases[name]
        for parts in (parts_list or [int(saved)]):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                _, q = run_to_memory(build(), mode=mode)
                best = min(best, time.time() - t0)
                q.stop()
            row = {"wall_sec": round(best, 3),
                   "rows_per_sec": round(rows_in / best, 1),
                   "rows_in": rows_in, "shuffle_partitions": parts,
                   "session_partitions": int(saved)}
            results.setdefault(name, {"runs": []})["runs"].append(row)
            print(json.dumps({"pipeline": name, **row}))
    spark.conf.set("spark.sql.shuffle.partitions", saved)

    payload = {"round": bench.round_number(), "sf_dir": sf_dir,
               "loadavg": [round(x, 2) for x in os.getloadavg()],
               "pipelines": results}
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), f"STREAM_AB_r{bench.round_number():02d}.json")
    # append-merge: several invocations in one round build one artifact
    if os.path.exists(out):
        with open(out) as f:
            prior = json.load(f)
        for k, v in prior.get("pipelines", {}).items():
            payload["pipelines"].setdefault(k, {"runs": []})["runs"] = (
                v["runs"] + payload["pipelines"].get(k, {"runs": []})["runs"])
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
