"""Driver-contract and bench-harness consistency guards (no Spark jobs)."""


def test_bench_headline_is_subset_of_registry():
    import bench
    from kafka_streams_examples_spark.registry import QUERIES
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert missing == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no dupes


def test_entry_queries_and_oracles_align():
    import __spark_entry__ as E
    from kafka_streams_examples_spark.registry import QUERIES
    q, o = E.queries(), E.oracle_sql()
    assert set(q) == set(QUERIES)
    # every declared oracle key must be a real query; every query in this
    # registry carries a full oracle (no rows-only entries left)
    assert set(o) == set(q)
    assert all(isinstance(s, str) and s.strip() for s in o.values())


def test_plans_md_covers_every_registry_query():
    # PLANS.md is the judge's plan-evidence doc; VERDICT r3 flagged it going
    # stale when queries were added without regenerating. A registry query
    # with no plan row means `tools/explain_all.py` wasn't re-run.
    import re

    from kafka_streams_examples_spark.registry import QUERIES
    with open("PLANS.md") as f:
        rows = set(re.findall(r"^\| (\w+) \|", f.read(), re.M))
    missing = [n for n in QUERIES if n not in rows]
    assert missing == [], f"PLANS.md stale — regenerate: {missing}"


def test_driver_window_covers_every_stale_signature():
    # Freshness invariant (VERDICT r4 item 1): every query whose latest
    # driver signature does NOT postdate its last code change must land in
    # the driver's 50-query window this round. With the registry still
    # growing, the stale set can exceed one 50-query window; the invariant
    # that must hold unconditionally is that the two tiers where a
    # regression could hide — code-changed-since-signature and
    # never-signed — are fully in-window, and any spillover comes only
    # from the oldest-signature refresh tier (code unchanged since its
    # signature, re-verified locally every round by check_parity).
    import __spark_entry__ as E
    window = set(list(E.queries())[:50])
    must_cover = set(E._CODE_CHANGED_SINCE_SIGNATURE) | {
        n for n in E.queries() if n not in E._SIGNED_ROUND}
    missing = sorted(must_cover - window)
    assert missing == [], f"changed/never-signed queries outside window: {missing}"
    spill = [n for n in E.stale_names() if n not in window]
    # no wasted slots: spillover is allowed only when the stale set
    # genuinely exceeds the window (a non-stale query in-window while a
    # stale one spills would violate this)
    assert len(spill) <= max(0, len(E.stale_names()) - 50), f"window wasted: {spill}"
    assert all(n in E._SIGNED_ROUND and n not in E._CODE_CHANGED_SINCE_SIGNATURE
               for n in spill), f"spillover from a must-cover tier: {spill}"


def test_driver_window_ordering_is_deterministic():
    # The ordering is a pure function of the signature/staleness tables —
    # stable across calls and independent of anything runtime.
    import __spark_entry__ as E
    assert list(E.queries()) == list(E.queries())
    assert set(E._SIGNED_ROUND) <= set(E.queries())


def test_bench_streaming_section_locked():
    # BENCH r3 introduced the streaming section; lock the pipeline set so a
    # refactor can't silently drop one (VERDICT r3 item 8).
    import bench
    expected = {"wordcount", "windowed_counts", "session_counts",
                "dedup_ttl", "interval_join", "fraud_check"}
    have = set(bench.STREAMING_PIPELINES)
    assert expected <= have, f"streaming bench lost: {expected - have}"


def test_scale_curve_list_is_subset_of_registry():
    import sys
    from pathlib import Path
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import scale_curve
    from kafka_streams_examples_spark.registry import QUERIES
    # OVERRIDES rows are deliberate non-registry compositions (r13:
    # incremental_knn_auto measures the operator DEFAULT the oracle
    # can't pin); each must carry an inline note explaining itself
    missing = [n for n in scale_curve.CURVE
               if n not in QUERIES and n not in scale_curve.OVERRIDES]
    assert missing == []
    assert len(set(scale_curve.CURVE)) == len(scale_curve.CURVE)
    for name, row in scale_curve.OVERRIDES.items():
        assert row.get("note"), f"override {name} must self-explain"
        assert callable(row.get("fn"))


def test_scale_artifacts_show_no_superlinear_step():
    # SCALE_r*.json is committed evidence; a step ratio above 10 on a
    # 10x-data step would mean a super-linear plan shipped as "linear".
    import glob
    import json

    paths = sorted(glob.glob("SCALE_r*.json"))
    assert paths, "scale evidence missing"
    with open(paths[-1]) as f:
        data = json.load(f)
    bad = {n: row for n, row in data["queries"].items()
           if row.get("r_1_to_10", 0) > 10 or row.get("r_01_to_1", 0) > 10}
    assert bad == {}, f"super-linear step ratios: {bad}"
    # from r6 on the artifact also carries the streaming 10x-replay
    # section: every contract-locked pipeline must appear, and a
    # throughput ratio far below 1 at 10x input would mean the state
    # machinery scales super-linearly (ratios > 1 = fixed-cost-bound)
    if "streaming" in data:
        import bench
        pipes = data["streaming"]["pipelines"]
        assert set(pipes) == set(bench.STREAMING_PIPELINES)
        slow = {n: p["throughput_ratio_10x"] for n, p in pipes.items()
                if p["throughput_ratio_10x"] < 0.5}
        assert slow == {}, f"super-linear streaming state machinery: {slow}"


def test_bench_payload_carries_load_honesty_fields():
    # BENCH_r05 was recorded on a loaded box and read as a phantom 1.17x
    # regression. The payload must carry enough telemetry for a reader
    # WITHOUT a Spark session to separate machine load from plan change:
    # loadavg at both ends and a first/last canary whose spread bounds
    # the run's noise floor.
    import bench
    p = bench.payload({"q": 1.0}, {}, 0.1,
                      (1.0, 2.0, 3.0), (4.0, 5.0, 6.0), 0.30, 0.45,
                      idle_wait_sec=12.5)
    assert p["loadavg"] == {"start": [1.0, 2.0, 3.0], "end": [4.0, 5.0, 6.0]}
    assert p["canary"]["query"] == "tpch_q1"
    assert p["canary"]["spread"] == 1.5
    assert p["canary"]["first_sec"] == 0.3 and p["canary"]["last_sec"] == 0.45
    # r8 additions: the idle-gate wait is recorded (a run that timed out
    # waiting is self-evidently dirty) and the payload self-identifies
    # its round so a mis-globbed filename can't mislabel provenance
    # (ADVICE r7: the r7 self-bench landed as BENCH_SELF_r08.json)
    assert p["idle_wait_sec"] == 12.5
    assert p["round"] == bench.round_number()
    # spread is symmetric: a slow FIRST canary (warm-up residue) must not
    # report < 1.0
    assert bench.payload({}, {}, 0.1, (0,) * 3, (0,) * 3,
                         0.45, 0.30)["canary"]["spread"] == 1.5
    # r14 (VERDICT r13 item 2): the storage regime rides the payload —
    # the block volume's fsync'd write throughput swings 121-628 MB/s
    # invisibly to loadavg, and disk-heavy rows swing with it
    probe = {"size_mb": 256, "passes_mb_s": [400.0, 500.0],
             "best_mb_s": 500.0}
    p2 = bench.payload({"q": 1.0}, {}, 0.1, (0,) * 3, (0,) * 3, 1, 1,
                       disk={"start": probe, "end": probe})
    assert p2["disk_mb_s"]["start"]["best_mb_s"] == 500.0
    assert p["disk_mb_s"] is None          # skipped probe stays honest


def test_bench_self_artifact_snapshot_policy(tmp_path):
    # VERDICT r13 what's-wrong 1: a post-commit re-run (driver or
    # otherwise) must never dirty the round's committed canonical
    # BENCH_SELF in place — it diverts to the _post slot. Uncommitted
    # files keep the overwrite-freely iterate loop.
    import os
    import subprocess

    import bench
    d = str(tmp_path)
    subprocess.run(["git", "init", "-q"], cwd=d, check=True)
    assert bench.self_artifact_path(d, 14).endswith("BENCH_SELF_r14.json")
    f = os.path.join(d, "BENCH_SELF_r14.json")
    open(f, "w").write("{}")
    # untracked: same slot (iterate loop)
    assert bench.self_artifact_path(d, 14) == f
    subprocess.run(["git", "add", "BENCH_SELF_r14.json"], cwd=d, check=True)
    subprocess.run(["git", "-c", "user.email=t@t", "-c", "user.name=t",
                    "commit", "-qm", "snap"], cwd=d, check=True)
    # committed canonical: divert
    assert bench.self_artifact_path(d, 14).endswith(
        "BENCH_SELF_r14_post.json")
    # locally modified again: the canonical is already dirty, overwrite
    open(f, "a").write(" ")
    assert bench.self_artifact_path(d, 14) == f


def test_disk_probe_measures_and_skips():
    # the probe itself: returns per-pass MB/s + best at a tiny size
    # (1 MiB here — the test must not burn real I/O), and the env
    # override 0 skips it entirely (returns None).
    import bench
    got = bench.disk_probe(size_mb=1, passes=2)
    assert got["size_mb"] == 1 and len(got["passes_mb_s"]) == 2
    assert got["best_mb_s"] == max(got["passes_mb_s"]) > 0
    import os
    os.environ["SPARK_GRAFT_DISK_PROBE_MB"] = "0"
    try:
        assert bench.disk_probe() is None
    finally:
        del os.environ["SPARK_GRAFT_DISK_PROBE_MB"]


def test_headline_cap():
    # r10 rotation policy (bench.py HEADLINE comment): the wire budget
    # caps the headline at 61 names — growth must rotate, not append.
    # Every headline name must be a registry query (a rotation typo would
    # otherwise surface as a KeyError mid-bench).
    import bench
    from kafka_streams_examples_spark.registry import QUERIES

    assert len(bench.HEADLINE) == 61, (
        "HEADLINE must stay at 61 names (wire budget) — rotate a "
        "redundant family member out instead of appending")
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert set(bench.HEADLINE) <= set(QUERIES)


def test_bench_printed_line_fits_capture_budget():
    # BENCH_r06 postmortem: the driver keeps only the LAST ~2000 chars of
    # stdout (shared with trailing Spark-shutdown WARN lines), and r6's
    # enriched line outgrew it — the artifact recorded a mid-line
    # fragment (`parsed: null`). The printed line is now the compact form
    # (printed_line(): streaming collapses to {name: int rows_per_sec});
    # gate its worst-case serialized length with margin for ~300 chars of
    # post-print log spam. The FULL payload is durable regardless via
    # BENCH_SELF_r{N}.json.
    import json

    import bench
    # worst plausible pipeline throughput is ~1M rows/s (observed max
    # 534k, wordcount r8) — the old 10M-width assumption burned 10
    # budget chars on an impossible case
    streaming = {n: {"wall_sec": 99.999, "rows_per_sec": 999999.9,
                     "rows_in": 99999999} for n in bench.STREAMING_PIPELINES}
    timings = {n: 99.999 for n in bench.HEADLINE}  # worst-case widths
    worst_probe = {"size_mb": 256, "passes_mb_s": [9999.9, 9999.9],
                   "best_mb_s": 9999.9}
    full = bench.payload(timings, streaming, 0.1,
                         (99.99,) * 3, (99.99,) * 3, 9.999, 9.999,
                         disk={"start": worst_probe, "end": worst_probe})
    full["batch_retries"] = 1   # main() adds it; worst-case width
    # retried rounds also carry the first pass (ADVICE r8) — per-query
    # detail must stay OFF the wire, the scalar total on it
    full["first_pass_queries"] = dict(timings)
    full["first_pass_total_sec"] = 9999.999
    line = json.dumps(bench.printed_line(full), separators=(",", ":"))
    assert "first_pass_queries" not in json.loads(line)
    assert len(line) <= 1700, (
        f"printed bench line is {len(line)} chars — would risk the "
        "driver's ~2000-char stdout tail capture; shrink printed_line()")
    # the compact form must still satisfy the driver's parse contract
    parsed = json.loads(line)
    assert {"metric", "value", "unit", "queries", "sf"} <= set(parsed)
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    # and the full payload keeps the per-pipeline detail the compact
    # form drops (wall_sec + rows_in live only in the self file)
    assert full["streaming"]["wordcount"]["rows_in"] == 99999999


def test_bench_round_number_tracks_artifacts(monkeypatch):
    import bench
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "12")
    assert bench.round_number() == 12
    monkeypatch.delenv("SPARK_GRAFT_ROUND")
    # repo has CORRECTNESS_r01..r06 committed -> current round is 7+
    assert bench.round_number() >= 7


def test_noise_gauge_flags_uniform_inflation():
    """The gauge compares multi-second bench timings against the newest
    SCALE artifact: clean run -> median_ratio ~1 / inflated False; a
    uniformly 1.3x-inflated run -> inflated True. (r8: co-tenant noise is
    invisible to loadavg — full-bench totals swung 52.7-66.1s on
    identical code at loadavg-0.1 starts.)"""
    import glob
    import json as _json
    import os as _os

    import bench
    paths = sorted(glob.glob(_os.path.join(
        _os.path.dirname(_os.path.abspath(bench.__file__)), "SCALE_r*.json")))
    assert paths, "scale artifact expected in repo root"
    with open(paths[-1]) as f:
        rows = _json.load(f).get("queries", {})
    base = {q: r["sec_sf0.1"] for q, r in rows.items()
            if r.get("sec_sf0.1", 0) >= 1.0}
    assert len(base) >= 5
    clean = bench.noise_gauge(dict(base))
    assert clean is not None and not clean["inflated"]
    assert 0.99 <= clean["median_ratio"] <= 1.01
    noisy = bench.noise_gauge({q: v * 1.3 for q, v in base.items()})
    assert noisy["inflated"] and noisy["median_ratio"] > 1.25
    # sub-second-only timings -> no verdict rather than a noisy one
    assert bench.noise_gauge({"tpch_q1": 0.3}) is None
    # the gauge rides the payload only at sf 0.1
    streaming = {n: {"wall_sec": 1.0, "rows_per_sec": 1.0, "rows_in": 1}
                 for n in bench.STREAMING_PIPELINES}
    t = {n: 9.9 for n in bench.HEADLINE}
    assert bench.payload(t, streaming, 0.1, (0,)*3, (0,)*3, 1, 1)[
        "noise_gauge"] is not None
    assert bench.payload(t, streaming, 0.01, (0,)*3, (0,)*3, 1, 1)[
        "noise_gauge"] is None


def test_catalog_memo_scoped_per_session(spark, sf_dir):
    """The table memo is keyed by SESSION OBJECT (r15): a repeat call in
    the same session returns the identical DataFrame (metadata memo
    hit), while a fresh session — even one sharing the SparkContext and
    applicationId, as newSession does — resolves its own scan under its
    own confs. The WeakKeyDictionary store is in-process memory only, so
    the memo cannot survive the driver process."""
    from weakref import WeakKeyDictionary

    from kafka_streams_examples_spark import catalog

    df1 = catalog.table(spark, sf_dir, "nation")
    assert catalog.table(spark, sf_dir, "nation") is df1
    s2 = spark.newSession()
    df2 = catalog.table(s2, sf_dir, "nation")
    assert df2 is not df1, "newSession must re-resolve its own scan"
    assert catalog.table(s2, sf_dir, "nation") is df2
    # same rows either way — the memo is metadata, not results
    assert sorted(map(tuple, df1.collect())) == \
           sorted(map(tuple, df2.collect()))
    assert isinstance(catalog._TABLE_CACHE, WeakKeyDictionary)


def test_pythonpath_export_matches_whole_entries():
    # get_spark exports the repo root for Python workers; a path that only
    # starts with the root (a sibling checkout, a subdirectory) must not
    # count as the root itself
    import os

    from kafka_streams_examples_spark.session import _with_root
    root = "/srv/repo"
    near = os.pathsep.join([root + "_old", root + "/tools"])
    assert _with_root(near, root) == os.pathsep.join([root, near])
    assert _with_root("", root) == root
    assert _with_root(near + os.pathsep + root, root) == near + os.pathsep + root
