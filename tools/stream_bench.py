"""Standalone streaming-throughput run — the same pipelines bench.py times
in its "streaming" section (wordcount / windows / sessions / dedup /
stream-stream join replayed as file-stream micro-batches), runnable on its
own for quick iteration.

Usage:
    python tools/stream_bench.py [sf_dir]     # one-SF smoke (default sf0.1)
    python tools/stream_bench.py --scale      # sf0.1 vs sf1 (10x replay)

--scale replays every pipeline at sf0.1 AND at the density-preserving sf1
fixture (tools/scale_data.py; 10x events/tokens through the same state
machinery) and reports the throughput ratio — the streaming analog of the
batch scale curve. A fixed-cost-bound pipeline (query startup, state-store
open/commit: one store per stateful operator at the session's streaming
width of 1) shows ratio >> 1 at 10x input because the constant amortizes;
a pipeline whose state machinery scales super-linearly shows ratio << 1.
No pipeline sets maxFilesPerTrigger, so each multi-file sf1 table replays
as ONE micro-batch: the ratio measures bulk replay, not a multi-batch
stream.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

from bench import stream_bench
from kafka_streams_examples_spark.session import get_spark

SF1 = ".scale/sf1"
SF10 = ".scale/sf10"
# sf10 decade subset: one representative per streaming cost class —
# jvm complete-mode agg (wordcount), jvm dedup state (dedup_ttl),
# python applyInPandasWithState (fraud_check). One sf10 sample is
# minutes, so 2 samples and 3 pipelines instead of 3x8.
SCALE10_PIPELINES = ["wordcount", "dedup_ttl", "fraud_check"]


def scale_report(spark, lo_dir: str = "/root/testdata/sf0.1",
                 hi_dir: str = SF1, lo_key: str = "sf0.1",
                 hi_key: str = "sf1", only: list[str] | None = None,
                 n_samples: int = 3) -> dict:
    base = stream_bench(spark, lo_dir, only=only, n_samples=n_samples)
    big = stream_bench(spark, hi_dir, only=only, n_samples=n_samples)
    out: dict[str, dict] = {}
    for name in base:
        out[name] = {
            lo_key: base[name],
            hi_key: big[name],
            # >1 = per-row cost FELL at 10x input (fixed cost amortized);
            # ~0.1 would mean wall grew 100x for 10x data — super-linear.
            # Computed from the unrounded rows_in/wall_sec, not the
            # display-rounded rows_per_sec (the ratio is contract-gated).
            "throughput_ratio_10x": round(
                (big[name]["rows_in"] / big[name]["wall_sec"])
                / (base[name]["rows_in"] / base[name]["wall_sec"]), 2),
        }
    return out


def main():
    if "--scale10" in sys.argv[1:]:
        # the next streaming decade: sf1 -> sf10 for one pipeline per
        # cost class (state machinery at 10M events / 27M tokens). Merges
        # a "streaming_sf10" section into the given artifact.
        if not os.path.isdir(SF10):
            sys.exit(f"{SF10} missing — run "
                     f"`python tools/scale_data.py {SF10} 100` first")
        rest = [a for a in sys.argv[1:] if a != "--scale10"]
        names = rest[1:] or SCALE10_PIPELINES
        # The sf10 replay pushes 10M events through complete-mode /
        # mapGroupsWithState state stores in ONE local[32] JVM; the
        # session default (8g) OOM'd the driver heap mid-replay (r14).
        # Same convention as tools/scale_curve.py's --sf10 branch.
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
        import bench
        disk_start = bench.disk_probe()
        spark = get_spark("stream-bench")
        report = scale_report(spark, lo_dir=SF1, hi_dir=SF10,
                              lo_key="sf1", hi_key="sf10",
                              only=names, n_samples=2)
        if rest and rest[0].endswith(".json"):
            payload = {}
            if os.path.exists(rest[0]):
                with open(rest[0]) as f:
                    payload = json.load(f)
            sect = payload.setdefault("streaming_sf10", {
                "method": "per-pipeline file-stream replay at sf1 and the "
                          "density-preserving sf10 (100x of sf0.1); "
                          "min-of-2 wall; ratio = rows_per_sec(sf10) / "
                          "rows_per_sec(sf1), >1 means per-row cost still "
                          "falls one decade up",
                "pipelines": {}})
            sect["pipelines"].update(report)
            sect["disk_mb_s"] = {"start": disk_start,
                                 "end": bench.disk_probe()}
            with open(rest[0], "w") as f:
                json.dump(payload, f, indent=1)
            print(f"merged streaming_sf10 section into {rest[0]}")
        else:
            print(json.dumps({"metric": "streaming_scale_sf10",
                              "pipelines": report}))
        return
    if "--scale" in sys.argv[1:]:
        if not os.path.isdir(SF1):
            sys.exit(f"{SF1} missing — run `python tools/scale_data.py` first")
        import bench
        disk_start = bench.disk_probe()
        spark = get_spark("stream-bench")
        report = scale_report(spark)
        # optional merge target: `--scale SCALE_r06.json` embeds the
        # streaming section into the round's scale artifact so batch and
        # streaming sub-linearity evidence live in one file
        rest = [a for a in sys.argv[1:] if a != "--scale"]
        if rest and rest[0].endswith(".json"):
            payload = {}
            if os.path.exists(rest[0]):
                with open(rest[0]) as f:
                    payload = json.load(f)
            payload["streaming"] = {
                "method": "per-pipeline file-stream replay at sf0.1 and the "
                          "density-preserving sf1 (10x rows, multi-file -> "
                          "multi-batch); min-of-2 wall; ratio = "
                          "rows_per_sec(sf1) / rows_per_sec(sf0.1), so >1 "
                          "means per-row cost FELL at 10x input "
                          "(fixed cost amortized), <0.1 would be "
                          "super-linear state machinery",
                "pipelines": report,
                "disk_mb_s": {"start": disk_start,
                              "end": bench.disk_probe()},
            }
            with open(rest[0], "w") as f:
                json.dump(payload, f, indent=1)
            print(f"merged streaming section into {rest[0]}")
        else:
            print(json.dumps({"metric": "streaming_scale",
                              "pipelines": report}))
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("stream-bench")
    out = stream_bench(spark, sf_dir)
    print(json.dumps({"metric": "streaming_smoke", "sf_dir": sf_dir,
                      "pipelines": out}))


if __name__ == "__main__":
    main()
