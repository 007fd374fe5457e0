#!/usr/bin/env python3
"""perfbench: one benchmark run of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the engine
and the harness from source with sbt (offline) and caches the classpath under
`.bench_build/perfbench`; later runs reuse it while the sources are unchanged.
Each run generates its inputs from the seed, starts one JVM on
`local[<cores>]`, drives one closed-loop client for the timed window, checks
every op's output, and prints a detail line and then, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

CURATE_CONSUMERS = ["t_curate", "t_curate_components", "x2_minhash_pairs", "x2_simhash_pairs",
                    "t_quality_model_scores", "x3_knn_ivfpq", "t_bpe_merges"]

# The read-only query pool of analytics_warm: 15 short queries of the
# round-1 bench surface (graft.Bench's R1Surface, the set its binding
# baseline was measured on) and x4_cluster_sizes for the graph module. It
# covers every query module and holds the reference ETL's own two queries
# (get-or-create dimensions, top-10) and four consumers of Memo-built
# indexes (MinHash pairs, k-means, centroids, similarity clusters).
ANALYTICS_POOL = [
    "q_flagship_top10", "q_getorcreate_dims", "q_point_lookup", "q_rollup", "q_window_frames",
    "q_session_counts", "q_json_extract", "q_ptbr_normalize", "t_lang_id", "t_quality_score",
    "x2_minhash_pairs", "x5_word_freq", "x3_knn_ivf", "x6_centroids", "x4_cluster_sizes",
    "m_media_features",
]

ANALYTICS_DATA_SEED = 42

# Workload shapes. `tiny` is the self-check scale.
SCALES = {
    "full": {
        "curate_fresh": {"sf": 0.1, "k": 2, "warm_sf": 0.01},
        "analytics_warm": {"sf": 0.001},
        "lake_churn": {"initial_rows": 20000, "batch_rows": 2000, "cycles": 10,
                       "retain": 4, "target": 4000},
    },
    "tiny": {
        "curate_fresh": {"sf": 0.01, "k": 2, "warm_sf": 0.01},
        "analytics_warm": {"sf": 0.001},
        "lake_churn": {"initial_rows": 2000, "batch_rows": 200, "cycles": 8,
                       "retain": 4, "target": 400},
    },
}

# Every workload reports every end-to-end metric (see README.md for what each
# means on each workload).
E2E = ["setup_s", "ops_per_s", "rows_per_s", "op_p50_s", "op_p90_s", "read_p50_s",
       "read_p90_s", "peak_rss_mb", "bytes_stored_per_live_byte"]
UNITS = {
    "setup_s": "s", "ops_per_s": "op/s", "rows_per_s": "row/s", "op_p50_s": "s",
    "op_p90_s": "s", "read_p50_s": "s", "read_p90_s": "s", "peak_rss_mb": "MB",
    "bytes_stored_per_live_byte": "ratio",
}
WORKLOADS = ["analytics_warm", "curate_fresh", "lake_churn"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(r, f) for r, ds, fs in os.walk(top)
                           if "target" not in r.split(os.sep) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, bdir):
    """Compile the engine and the harness; return the harness classpath."""
    harness = os.path.join(root, "perfbench", "harness")
    digest = _tree_digest([os.path.join(root, p) for p in
                           ("build.sbt", "project/build.properties", "src/main")] +
                          [os.path.join(harness, p) for p in
                           ("build.sbt", "project/build.properties", "src")])
    stamp = os.path.join(bdir, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("[perfbench] building engine and harness with sbt ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=harness, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise SystemExit("[perfbench] build failed")
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if not lines:
        raise SystemExit("[perfbench] sbt printed no classpath")
    cp = lines[-1].strip().split(os.pathsep)
    os.makedirs(bdir, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    log(f"[perfbench] built in {time.time() - t0:.1f} s")
    return cp


JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, scale, idir):
    """Writes the seeded inputs and spec.json; returns the input-size record."""
    if os.path.exists(os.path.join(idir, "spec.json")):
        with open(os.path.join(idir, "sizes.json")) as f:
            return json.load(f)
    tmp = idir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    p = SCALES[scale][workload]
    if workload == "curate_fresh":
        base = gen.tables(seed, p["sf"])
        docs, embs = gen.curation_corpus(seed, base["documents"], base["embeddings"], p["k"])
        sizes = gen.write_tables(os.path.join(tmp, "curate"), {"documents": docs, "embeddings": embs})
        warm = gen.tables(seed + 1_000_003, p["warm_sf"])
        gen.write_tables(os.path.join(tmp, "curate_warm"),
                         {"documents": warm["documents"], "embeddings": warm["embeddings"]})
        spec = {"consumers": CURATE_CONSUMERS}
    elif workload == "analytics_warm":
        # one dataset for every seed, as the engine's fixed testdata is; the
        # seed draws the op order, so runs differ only in what they measure
        sizes = gen.write_tables(os.path.join(tmp, "tables"),
                                 gen.tables(ANALYTICS_DATA_SEED, p["sf"]))
        spec = {"pool": ANALYTICS_POOL, "draw": gen.analytics_draw(seed, ANALYTICS_POOL, 4000)}
    else:
        spec = gen.lake_stream(seed, p["cycles"], p["batch_rows"], p["initial_rows"])
        warm = gen.lake_stream(seed + 1_000_003, 1, p["batch_rows"] // 4, p["initial_rows"] // 4,
                               cycle=gen.WARM_CYCLE)
        spec.update(warm=warm, retain_versions=p["retain"], target_rows_per_file=p["target"])
        sizes = {"initial_rows": [2 * p["initial_rows"], 2 * spec["ops"][0]["live_bytes"]],
                 "batch_rows": [p["batch_rows"], 0], "ops": [len(spec["ops"]), 0]}
    gen.dump(spec, os.path.join(tmp, "spec.json"))
    gen.dump(sizes, os.path.join(tmp, "sizes.json"))
    shutil.rmtree(idir, ignore_errors=True)
    os.rename(tmp, idir)
    return sizes


# ------------------------------------------------------------------ oracle

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in v.items())
    return v


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    idx = [i for _, i in sorted((c, i) for i, c in enumerate(cols))]
    return sorted(cols), [tuple(_norm(r[i]) for i in idx) for r in cur.fetchall()]


def oracle_check(data_dir, out_dir, names, cache_path):
    """Compares each query's dumped Spark result with its DuckDB twin run over
    the same inputs, in order (as the engine's own oracle gate does).
    Expected digests are cached per (SQL, input fingerprint)."""
    import duckdb
    with open(os.path.join(out_dir, "oracle.json")) as f:
        oracle = json.load(f)
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    fp = gen.fingerprint(data_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in os.listdir(data_dir):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(data_dir, t)}'")
    verdict = {}
    for name in names:
        sql = oracle.get(name)
        if sql is None:
            verdict[name] = "no oracle"
            continue
        key = hashlib.sha256((sql + fp).encode()).hexdigest()
        if key not in cache:
            cols, rows = _rows(con, sql)
            cache[key] = {"cols": cols, "digest": hashlib.sha256(repr(rows).encode()).hexdigest(),
                          "sorted": hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest(),
                          "n": len(rows)}
        exp = cache[key]
        try:
            cols, rows = _rows(con, f"SELECT * FROM '{os.path.join(out_dir, name)}/*.parquet'")
        except Exception as e:  # noqa: BLE001
            verdict[name] = f"spark output unreadable: {e}"
            continue
        if cols != exp["cols"]:
            verdict[name] = f"columns differ: {cols} vs {exp['cols']}"
        elif hashlib.sha256(repr(rows).encode()).hexdigest() == exp["digest"]:
            verdict[name] = "ok"
        elif hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest() == exp["sorted"]:
            verdict[name] = "rows match only after re-sort"
        else:
            verdict[name] = f"values differ ({len(rows)} spark vs {exp['n']} oracle rows)"
    with open(cache_path + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(cache_path + ".tmp", cache_path)
    return verdict


# ------------------------------------------------------------------ metrics

def pct(xs, q):
    """Linear-interpolated percentile (q in [0, 1])."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def group_of(workload, op, spec):
    """An op's latency group: its kind, and on lake_churn also its table, so
    that no group mixes the copy-on-write and merge-on-read paths."""
    if workload == "lake_churn":
        return f"{op['kind']}:{spec['ops'][op['i']]['table']}"
    return op["kind"]


def per_group(workload, ops, spec, kinds, q):
    """Mean over the latency groups of the given op kinds of each group's own
    percentile: one group's share of the mix cannot move the figure, and no
    percentile straddles two groups."""
    groups = {}
    for o in ops:
        if o["kind"] in kinds:
            groups.setdefault(group_of(workload, o, spec), []).append(o["wall_s"])
    vals = [pct(w, q) for w in groups.values()]
    return sum(vals) / len(vals) if vals else float("nan")


def check_ops(workload, res, spec, work, bdir):
    """Marks every op ok/failed; returns (failed flags, notes)."""
    ops = res["ops"]
    bad = [not o["ok"] for o in ops]
    notes = {}
    if workload == "analytics_warm":
        refs = res["post"]
        verdict = oracle_check(os.path.join(work, "..", "inputs", "tables"),
                               os.path.join(work, "out", "analytics"), sorted(refs),
                               os.path.join(bdir, "oracle-cache.json"))
        notes["oracle"] = {k: v for k, v in verdict.items() if v != "ok"}
        for i, o in enumerate(ops):
            bad[i] |= o["result"] != refs.get(o["kind"]) or verdict.get(o["kind"]) != "ok"
    elif workload == "curate_fresh":
        names = res["post"]["consumers"]
        verdict = oracle_check(os.path.join(work, "..", "inputs", "curate"),
                               os.path.join(work, "out", "curate"), names,
                               os.path.join(bdir, "oracle-cache.json"))
        notes["oracle"] = {k: v for k, v in verdict.items() if v != "ok"}
        first = ops[0]["result"] if ops else None
        for i, o in enumerate(ops):
            bad[i] |= o["result"] != first or any(verdict.get(n) != "ok" for n in names)
    else:
        sops = spec["ops"]
        for i, o in enumerate(ops):
            s, r = sops[i], o["result"]
            k = s["kind"]
            if not o["ok"]:
                continue
            if k in ("point", "range", "version", "groupby", "mvread"):
                bad[i] = r != s["expect"]
            elif k == "meta":
                rows_ok = r["rows"] == s["expect"] if s["table"] == "cow" else r["rows"] >= s["expect"]
                bad[i] = not (rows_ok and r["max_version"] == r["current_version"])
        notes["mismatch"] = [dict(i=i, kind=sops[i]["kind"], got=ops[i]["result"],
                                  expect=sops[i].get("expect")) for i in range(len(ops))
                             if bad[i] and ops[i]["ok"]][:3]
    notes["errors"] = [dict(i=o["i"], kind=o["kind"], err=o["err"]) for o in ops if not o["ok"]][:3]
    return bad, notes


def group_percentiles(workload, ops, spec):
    groups = {}
    for o in ops:
        groups.setdefault(group_of(workload, o, spec), []).append(o["wall_s"])
    return {g: [len(w), pct(w, 0.5), pct(w, 0.9)] for g, w in sorted(groups.items())}


def storage_census(res):
    """The lakehouse census right after the first compact + vacuum, a fixed
    point of the op stream, so that a faster run (more cycles in the window)
    does not read as a storage regression; a run too short to reach it reads
    the tables at its end. Returns (census, index of the op it follows)."""
    done = [o for o in res["ops"] if o["kind"] == "maintain" and o["ok"]]
    if done:
        return done[0]["result"], done[0]["i"]
    return res["post"], res["ops"][-1]["i"]


def e2e_metrics(workload, res, spec, sizes):
    ops = res["ops"]
    win = res["window"]["window_s"]
    walls = [o["wall_s"] for o in ops]
    # every op of analytics_warm and curate_fresh is a read of its inputs
    m = {"setup_s": res["setup_s"],
         "ops_per_s": len(ops) / win,
         "op_p50_s": pct(walls, 0.5),
         "op_p90_s": pct(walls, 0.9),
         "read_p50_s": pct(walls, 0.5),
         "read_p90_s": pct(walls, 0.9),
         "peak_rss_mb": res["peak_rss_mb"]}
    input_bytes = sum(b for _, b in sizes.values())
    if workload == "curate_fresh":
        m["rows_per_s"] = len(ops) * sizes["documents"][0] / win
        m["bytes_stored_per_live_byte"] = res["cached_bytes"] / input_bytes
    elif workload == "analytics_warm":
        m["rows_per_s"] = sum(o["extra"].get("rows_returned", 0) for o in ops) / win
        m["bytes_stored_per_live_byte"] = res["cached_bytes"] / input_bytes
    else:
        sops = [spec["ops"][o["i"]] for o in ops]
        m["rows_per_s"] = sum(s.get("rows", 0) for s in sops) / win
        # op percentiles are commit latencies, read percentiles read ones,
        # each over its own groups only
        m["op_p50_s"] = per_group(workload, ops, spec, gen.WRITES, 0.5)
        m["op_p90_s"] = per_group(workload, ops, spec, gen.WRITES, 0.9)
        m["read_p50_s"] = per_group(workload, ops, spec, gen.READS, 0.5)
        m["read_p90_s"] = per_group(workload, ops, spec, gen.READS, 0.9)
        census, at = storage_census(res)
        m["bytes_stored_per_live_byte"] = census["bytes"] / spec["ops"][at]["live_bytes"]
    return m


# Per-op sums of the probe's attributions, reported per op.
LAYER_SUMS = [
    "memo.builds", "scan.bytes_read", "scan.rows_read", "plan.analysis_s", "plan.optimize_s",
    "plan.physical_s", "plan.actions", "exec.driver_gap_s", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.write_s", "spill.bytes", "stream.batches",
]
# Process-wide counters over the timed window, reported per op.
WINDOW_COUNTERS = ["codegen.classes", "jit.compile_s", "jvm.gc_s", "jvm.gc_count",
                   "io.read_bytes", "io.write_bytes"]
MODULES = ["text", "vec", "graph", "queries", "etl", "sources", "streaming", "multimodal"]
# Layers only some workloads exercise are reported as their share of op wall
# time, so the figure is 0 where the layer is not used rather than a time.
SHARES = {"shuffle.fetch_wait_share": "shuffle.fetch_wait_s",
          "stream.add_batch_share": "stream.add_batch_s",
          "stream.wal_commit_share": "stream.wal_commit_s",
          "stream.planning_share": "stream.planning_s"}


def layer_metrics(workload, res, spans, spec):
    ops = res["ops"]
    n = max(len(ops), 1)
    lay = [dict(o["layers"], **o["extra"]) for o in ops]
    wall = sum(o["wall_s"] for o in ops) or 1.0
    m = {k: sum(x.get(k, 0.0) for x in lay) / n for k in LAYER_SUMS}
    counters = res["window"]["counters"]
    for k in WINDOW_COUNTERS:
        m[k] = counters.get(k, 0.0) / n
    for share, src in SHARES.items():
        m[share] = sum(x.get(src, 0.0) for x in lay) / wall
    # a warm codegen cache compiles nothing, so this one is a share too
    m["codegen.compile_share"] = counters.get("codegen.compile_s", 0.0) / wall
    m["exec.core_busy_ratio"] = sum(x.get("exec.task_run_s", 0.0) for x in lay) / (
        wall * res["cpus"])
    construct = [s for s in spans if s["name"] == "driver.construct"]
    m["driver.construct_s"] = sum(s["end_ms"] - s["start_ms"] for s in construct) / 1e3 / n
    for mod in MODULES:
        m[f"mod.{mod}_share"] = sum(s["end_ms"] - s["start_ms"] for s in spans
                                    if s["name"].startswith(f"mod.{mod}:")) / 1e3 / wall
    m["memo.setup_builds"] = float(res["setup_memo"]["builds"])
    m["memo.setup_build_share"] = res["setup_memo"]["build_s"] / res["setup_s"]
    # lakehouse layer (0 where the workload has no lakehouse)
    sops = [spec["ops"][o["i"]] for o in ops] if workload == "lake_churn" else []
    commits = [i for i, s in enumerate(sops) if s["kind"] in gen.WRITES]
    reads = [i for i, s in enumerate(sops) if s["kind"] in gen.READS]
    m["lake.commits"] = len(commits) / n
    m["lake.commit_share"] = sum(ops[i]["wall_s"] for i in commits) / wall
    m["lake.jobs_per_commit"] = (sum(lay[i].get("exec.jobs", 0.0) for i in commits) / len(commits)
                                 if commits else 0.0)
    m["lake.files_written"] = sum(x.get("lake.files_written", 0.0) for x in lay) / n
    user = sum(sops[i].get("user_bytes", 0) for i in commits)
    m["lake.bytes_written_per_user_byte"] = (sum(lay[i].get("io.write_bytes", 0.0) for i in commits)
                                             / user if user else 0.0)
    census = storage_census(res)[0] if workload == "lake_churn" else {}
    m["lake.live_files"] = float(census.get("live_files", 0))
    m["lake.manifest_versions"] = float(census.get("manifest_versions", 0))
    returned = sum(lay[i].get("rows_returned", 0.0) for i in reads)
    m["lake.rows_scanned_per_row_returned"] = (sum(lay[i].get("scan.rows_read", 0.0) for i in reads)
                                               / returned if returned else 0.0)
    m["trace.ops_per_s"] = len(ops) / res["window"]["window_s"]
    return m


LAYER_UNITS = {
    "memo.builds": "count/op", "memo.setup_builds": "count", "scan.bytes_read": "B/op",
    "scan.rows_read": "row/op", "plan.actions": "count/op", "exec.jobs": "count/op",
    "exec.stages": "count/op", "exec.tasks": "count/op", "exec.core_busy_ratio": "ratio",
    "shuffle.write_bytes": "B/op", "shuffle.read_bytes": "B/op", "spill.bytes": "B/op",
    "stream.batches": "count/op", "codegen.classes": "count/op", "jvm.gc_count": "count/op",
    "io.read_bytes": "B/op", "io.write_bytes": "B/op", "lake.commits": "count/op",
    "lake.jobs_per_commit": "job/commit", "lake.files_written": "count/op",
    "lake.bytes_written_per_user_byte": "ratio", "lake.live_files": "count",
    "lake.manifest_versions": "count", "lake.rows_scanned_per_row_returned": "ratio",
    "trace.ops_per_s": "op/s",
}


def unit_of(name):
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    if name.endswith("_share"):
        return "ratio"
    return "s/op"


def self_checks(workload, res, spec):
    """Harness invariants; every traced run reports them."""
    ops = res["ops"]
    out = {}
    out["job_union_within_op"] = all(
        o["layers"].get("exec.job_union_s", 0.0) <= (o["end_ms"] - o["start_ms"]) / 1e3 + 0.002
        for o in ops)
    out["driver_gap_nonnegative"] = all(o["layers"].get("exec.driver_gap_s", 0.0) >= 0 for o in ops)
    if workload == "curate_fresh":
        out["memo_builds_every_op"] = all(o["extra"].get("memo.builds", 0) > 0 for o in ops)
    if workload == "analytics_warm":
        out["memo_builds_zero_in_window"] = all(o["extra"].get("memo.builds", 0) == 0 for o in ops)
    if workload == "lake_churn":
        cen = [o["result"] for o in ops if o["kind"] == "maintain" and o["ok"]]
        sops = spec["ops"]
        ratios = [c["bytes"] / sops[o["i"]]["live_bytes"] for c, o in
                  zip(cen, [o for o in ops if o["kind"] == "maintain" and o["ok"]])]
        out["maintenance_cycles"] = len(cen)
        # levelled off: over the second half of the cycles neither figure
        # grows by more than 2 %
        def level(xs):
            return len(xs) >= 3 and xs[-1] <= 1.02 * xs[len(xs) // 2]
        out["live_files_level"] = level([c["live_files"] for c in cen])
        out["bytes_ratio_level"] = level(ratios)
        out["bytes_ratio_by_cycle"] = [round(r, 4) for r in ratios]
        out["live_files_by_cycle"] = [c["live_files"] for c in cen]
    return out


# ------------------------------------------------------------------ main

def cpu_jiffies():
    """All-CPU jiffies from /proc/stat (the 8th field is hypervisor steal)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("[perfbench] no engine sources here: run from the repository root")
        return 2
    bdir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, bdir)

    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.scale}-{a.seed}")
    idir = os.path.join(run_dir, "inputs")
    sizes = make_inputs(a.workload, a.seed, a.scale, idir)
    with open(os.path.join(idir, "spec.json")) as f:
        spec = json.load(f)
    work = os.path.join(run_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")

    cpus = os.cpu_count() or 4
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    # a fixed, pre-touched heap: no adaptive heap growth, so GC work does not
    # drift with how the collector sized the heap in a given run, and the
    # heap is resident in full from the start (without pre-touch, which heap
    # regions the collector happened to touch made VmHWM bimodal, about
    # 1.65 GB or 2.45 GB); peak_rss_mb then moves with memory outside the heap
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=1g",
            "-XX:+UseCodeCacheFlushing",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", a.workload, "--inputs", idir, "--work", work, "--out", out,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus)])
    with open("/proc/loadavg") as f:
        load_pre = f.read().split()[:3]
    st0 = cpu_jiffies()
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        p = subprocess.run(cmd, stdout=jl, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=900)
    jvm_s = time.time() - t0
    st1 = cpu_jiffies()
    with open("/proc/loadavg") as f:
        load_post = f.read().split()[:3]
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        log(f"[perfbench] harness exited with {p.returncode}")
        return 1
    with open(out) as f:
        res = json.load(f)
    spans = []
    if a.trace:
        with open(out + ".spans.json") as f:
            spans = json.load(f)
    bad, notes = check_ops(a.workload, res, spec, work, bdir)
    attempted, failed = len(res["ops"]), sum(bad)

    e2e = e2e_metrics(a.workload, res, spec, sizes)
    steal = None
    if st0 and st1:
        d = [y - x for x, y in zip(st0, st1)]
        steal = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
    detail = {
        "workload": a.workload, "seed": a.seed, "scale": a.scale, "trace": a.trace,
        "input_size": sizes, "e2e": e2e,
        "session_start_s": res["session_start_s"],
        "n_p50_p90_by_group": group_percentiles(a.workload, res["ops"], spec),
        "window": {k: res["window"][k] for k in ("window_s", "untimed_s", "steal_share")},
        "steadiness": {"calib_pre_s": res["calib_pre_s"], "calib_post_s": res["calib_post_s"],
                       "loadavg_pre": load_pre, "loadavg_post": load_post,
                       "steal_share": steal, "jvm_wall_s": jvm_s},
        "checks": notes,
    }
    if a.trace:
        layers = layer_metrics(a.workload, res, spans, spec)
        detail["selfcheck"] = self_checks(a.workload, res, spec)
        tdir = os.path.join(bdir, "traces")
        os.makedirs(tdir, exist_ok=True)
        shutil.copy(out + ".spans.json",
                    os.path.join(tdir, f"{a.workload}-{a.scale}-{a.seed}.spans.json"))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
        detail["tracing_overhead_note"] = ("compare trace.ops_per_s with ops_per_s of "
                                           "untraced runs of the same workload")
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
    print(json.dumps({"detail": detail}, default=str))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
