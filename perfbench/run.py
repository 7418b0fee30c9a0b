#!/usr/bin/env python3
"""The repo's benchmark: one workload per call, checked and reported.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first call builds the program and
the benchmark's JVM side with sbt into `.bench_build/`; later calls reuse
the build. The inputs are the reference fixtures under
`perfbench/fixtures/`. The JVM side
(`perfbench.Main`) runs the workload and writes an artifact; this script
checks the outputs (DuckDB oracle for `interactive`, pinned survivor
counts and id hashes for `curation` and `append`), prints every metric
by name and unit, saves the artifact with its conf, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones.

`--smoke` runs each workload on tiny inputs with exactly one operation.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PINS = os.path.join(HERE, "pins.json")
sys.path.insert(0, HERE)

WORKLOADS = ("interactive", "curation", "append")
# The fixture directory (under perfbench/fixtures) each workload reads.
FIXTURES = {"full": {"interactive": "sf0.01", "curation": "sf0.1", "append": "sf0.1"},
            "smoke": {w: "sf0.001" for w in WORKLOADS}}
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# A run whose calibration kernel drifts by more than this share between
# its start and end, or whose vCPUs lose more than STEAL_BOUND of their
# time to the hypervisor, ran on a contended host.
CONTENTION_BOUND = 0.25
STEAL_BOUND = 0.05
HEAP = "3g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The directory of Spark's jars: $SPARK_HOME/jars, else next to the
    spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark's jars not found; set SPARK_HOME")
    return os.path.join(home, "jars")


def build():
    """Compile the program with the benchmark's JVM side; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    stamp = source_stamp()
    cp_file, stamp_file = (os.path.join(BUILD, f) for f in ("classpath.txt", "stamp"))
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt (first run in this checkout)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=out, text=True, timeout=800)
        out.write(r.stdout)
    cps = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l]
    if r.returncode != 0 or not cps:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def calib_ms():
    """Median time of a fixed kernel (a random gather over a 64 MB table,
    then a sort): it slows when other tenants contend for the host's CPU
    or memory system, not when the program changes."""
    import numpy as np
    rng = np.random.default_rng(0)
    table = rng.integers(0, 1 << 30, 1 << 24, dtype=np.int32)
    idx = rng.integers(0, 1 << 24, 1 << 22)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.sort(table[idx])
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def cpu_ticks():
    """(steal, total) jiffies of the host's vCPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, workload, data, seed, seconds, trace, deadline):
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    art = os.path.join(work, "artifact.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", workload, data, work, art, str(seed),
              str(seconds), str(trace), str(cores)])
    calib0, (steal0, total0) = calib_ms(), cpu_ticks()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            # Spark's local dirs come from the session conf: inside the checkout
            env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish in time, see {out.name}")
    if r.returncode != 0 or not os.path.exists(art):
        fail(f"the JVM failed (exit {r.returncode}), see {out.name}")
    steal1, total1 = cpu_ticks()
    with open(art) as f:
        a = json.load(f)
    a["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    a["calib_ms"] = [calib0, calib_ms()]
    return a, work


# ---- checks ----------------------------------------------------------------

def _canon(v, tag="plain"):
    """A value in a form both engines' outputs compare equal in: exact
    numbers (Decimal for decimals), dates as ISO text, timestamps as
    microseconds since the epoch, lists as tuples, NaN as text."""
    if v is None:
        return None
    if tag.startswith("array<") or isinstance(v, (list, tuple)):
        inner = tag[6:-1] if tag.startswith("array<") else "plain"
        return tuple(_canon(x, inner) for x in v)
    if tag == "decimal" or isinstance(v, decimal.Decimal):
        return decimal.Decimal(v) if isinstance(v, str) else v
    if tag == "date" or type(v) is datetime.date:
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds
    if isinstance(v, float) and v != v or v == "NaN":
        return "NaN"
    if tag == "double" and isinstance(v, str):
        return float(v)
    return v


def _sort_key(row):
    return tuple((0, "", 0) if v is None else (1, type(v).__name__
                 if not isinstance(v, (int, float, decimal.Decimal)) else "", v)
                 for v in row)


def _rows(columns, rows):
    """Columns sorted by name, rows sorted: the compare is order-free."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(r[i] for i in order) for r in rows), key=_sort_key)
    return [columns[i] for i in order], out


def oracle_check(data, checks):
    """Each query's collected result against its oracle SQL in DuckDB, as
    tools/check.py compares them (column names sorted, rows sorted, values
    exact); returns {query: (error or None, expected row count)}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for name, status in checks["queries"].items():
        if status != "ok":
            out[name] = (f"no result: {status}", None)
            continue
        with open(os.path.join(checks["results_dir"], f"{name}.json")) as f:
            res = json.load(f)
        tags = [t for _, t in res["columns"]]
        gcols, got = _rows([c for c, _ in res["columns"]],
                           [[_canon(v, t) for v, t in zip(r, tags)] for r in res["rows"]])
        sql = checks["oracle"].get(name)
        if sql is None:
            out[name] = (None, len(got))
            continue
        try:
            cur = con.execute(sql)
            wcols, want = _rows([d[0] for d in cur.description],
                                [[_canon(v) for v in r] for r in cur.fetchall()])
        except Exception as e:
            out[name] = (f"oracle failed: {e}", None)
            continue
        if gcols != wcols:
            err = f"columns {gcols} != {wcols}"
        elif len(got) != len(want):
            err = f"rows {len(got)} != {len(want)}"
        else:
            diff = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
            err = f"{len(diff)} rows differ, first {got[diff[0]]} != {want[diff[0]]}" \
                if diff else None
        out[name] = (err, len(want))
    return out


def check_ops(workload, art, data, fixture):
    """Marks each measured operation correct or not; returns (ops with an
    `error` field for the wrong ones, notes)."""
    ops, notes = art["ops"], []
    if workload == "interactive":
        ref = oracle_check(data, {**art["checks"], **art["warmup"]})
        bad = {n: e for n, (e, _) in ref.items() if e}
        for n, e in sorted(bad.items()):
            notes.append(f"oracle {n}: {e}")
        for o in ops:
            e, rows = ref.get(o["key"], ("not checked", None))
            if "error" not in o and (e or rows != o["rows"]):
                o["error"] = e or f"count {o['rows']} != {rows} result rows"
        return ops, notes
    fields = ("survivors", "hash") if workload == "curation" else ("docs", "accepted", "hash")
    warm = [art["warmup"]] if workload == "curation" else list(art["warmup"].values())
    outcomes = [o for o in ops if "error" not in o] + warm
    with open(PINS) as f:
        mine = json.load(f).get(workload, {}).get(fixture, {})
    for o in outcomes:
        want = mine.get(o["key"])
        got = {k: o[k] for k in fields}
        if want is None:
            o["error"] = f"no pinned outcome for {o['key']} on {fixture}"
        elif got != want:
            o["error"] = f"{o['key']}: {got} != pinned {want}"
        if "error" in o and any(o is w for w in warm):
            notes.append(f"warm-up {o['error']}")
    return ops, notes


# ---- metrics ---------------------------------------------------------------

def hd_quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of
    all order statistics. Unlike the sample median it does not jump
    across the gaps between groups of similar operations (the query mix
    is multimodal), so run-to-run noise in the estimate stays near the
    noise in the latencies themselves."""
    import numpy as np
    x, n = np.sort(np.asarray(xs, float)), len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)
    mid = (grid[1:] + grid[:-1]) / 2
    logpdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1]))
    return float(weights @ x)


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def end_to_end(workload, art):
    ms = [o["ms"] for o in art["ops"]]
    n, win = len(ms), art["window_s"]
    conf = art["conf"]
    # session start and opening (median of the set-up cycles), then the
    # workload's warm-up up to the first measured operation
    m = {"setup_s": (statistics.median(art["setup_s"]) + art["warmup_s"], "s"),
         "latency_p50_ms": (hd_quantile(ms, 0.5), "ms"),
         "throughput_ops_per_s": (n / win, "1/s")}
    extra = {"latency_p90_ms": (pct(ms, 0.9), "ms"),
             "session_s": (statistics.median(art["setup_s"]), "s"),
             "warmup_s": (art["warmup_s"], "s"),
             "error_rate": (sum("error" in o for o in art["ops"]) / n, "ratio")}
    if workload == "curation":
        extra["docs_per_s"] = (conf["docs"] * n / win, "1/s")
    if workload == "append":
        extra["docs_per_s"] = (sum(o.get("docs", 0) for o in art["ops"]) / win, "1/s")
        extra["state_build_s"] = (art["warmup"]["state_build"]["ms"] / 1e3, "s")
    return m, extra


def per_layer(workload, art):
    t, n = art["trace"], len(art["ops"])
    cores, win = art["conf"]["cores"], sum(o["ms"] for o in art["ops"]) / 1e3
    hits, misses = art["stagecache"]["hits"], art["stagecache"]["misses"]
    per_op = lambda k: t.get(k, 0.0) / n
    m = {
        "tables.input_mb": (per_op("input_mb"), "MB"),
        "tables.input_rows": (per_op("input_rows"), "count"),
        "plan.build_ms": (per_op("phase.build_ms"), "ms"),
        "plan.optimize_ms": (per_op("phase.optimize_ms"), "ms"),
        "exec.ms": (per_op("phase.exec_ms"), "ms"),
        "exec.jobs": (per_op("jobs"), "count"),
        "exec.stages": (per_op("stages"), "count"),
        "exec.tasks": (per_op("tasks"), "count"),
        "exec.cpu_s": (per_op("cpu_s"), "s"),
        "exec.gc_s": (per_op("gc_s"), "s"),
        "exec.shuffle_write_mb": (per_op("shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": (per_op("shuffle_read_mb"), "MB"),
        "exec.spill_mb": (per_op("spill_mb"), "MB"),
        "exec.busy_share": (t.get("run_s", 0.0) / (win * cores), "ratio"),
        "dedup.s": (per_op("dedup"), "s"),
        "similarity.s": (t.get("similarity.kernel_s", 0.0), "s"),
        "pipeline.s": (per_op("pipeline"), "s"),
        "queries.s": (per_op("queries"), "s"),
        "action.s": (per_op("action"), "s"),
        "other.s": (per_op("other"), "s"),
        "residue.s": (per_op("residue"), "s"),
        "checkpoints.s": (per_op("checkpoints"), "s"),
        "checkpoints.count": (per_op("checkpoints.count"), "count"),
        "dedup.candidate_pairs": (t.get("dedup.candidate_pairs", 0.0), "count"),
        "dedup.verified_pairs": (t.get("dedup.verified_pairs", 0.0), "count"),
        "dedup.verify_yield": (t.get("dedup.verified_pairs", 0.0)
                               / max(1.0, t.get("dedup.candidate_pairs", 0.0)), "ratio"),
        "stagecache.hits": (hits / n, "count"),
        "stagecache.misses": (misses / n, "count"),
        "stagecache.hit_ratio": (hits / max(1, hits + misses), "ratio"),
        "jvm.heap_peak_mb": (t.get("heap_peak_mb", 0.0), "MB"),
        "blockmanager.storage_peak_mb": (t.get("storage_peak_mb", 0.0), "MB"),
        "host.calib_ms": (statistics.mean(art["calib_ms"]), "ms"),
        "traced.latency_p50_ms": (hd_quantile([o["ms"] for o in art["ops"]], 0.5), "ms"),
    }
    for s in ("quality_kept", "exact_kept", "neardup_kept", "semantic_kept",
              "decontaminated_kept"):
        m[f"pipeline.{s}.survivors"] = (t.get(f"pipeline.{s}.survivors", 0.0), "count")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--out", default=os.path.join(BUILD, "results"),
                    help="directory for the run's artifact")
    a = ap.parse_args()
    size = "smoke" if a.smoke else "full"

    t0 = time.time()
    cp = build()
    # a build on the first run in a checkout does not count against the run
    deadline = time.time() + DEADLINE_S - min(60, time.time() - t0)
    fixture = FIXTURES[size][a.workload]
    data = os.path.join(HERE, "fixtures", fixture)
    seconds = 0 if a.smoke else a.seconds
    art, work = run_jvm(cp, a.workload, data, a.seed, seconds, a.trace, deadline)

    ops, notes = check_ops(a.workload, art, data, fixture)
    failed = sum("error" in o for o in ops)
    e2e, extra = end_to_end(a.workload, art)
    metrics = per_layer(a.workload, art) if a.trace else e2e
    calib = art["calib_ms"]
    drift = calib[1] / calib[0] - 1
    contended = abs(drift) > CONTENTION_BOUND or art["steal_share"] > STEAL_BOUND

    art["conf"].update(fixture=fixture, genscale=1, trace=a.trace, heap=HEAP)
    art["result"] = {"correct": failed == 0 and not notes, "attempted": len(ops),
                     "failed": failed, "notes": notes,
                     "metrics": {k: {"value": v, "unit": u}
                                 for k, (v, u) in {**e2e, **extra, **metrics}.items()},
                     "calib_drift": drift, "steal_share": art["steal_share"],
                     "contended": contended}
    os.makedirs(a.out, exist_ok=True)
    path = os.path.join(a.out, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(art, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for n in notes:
        print(f"FAIL {n}")
    for o in ops:
        if "error" in o:
            print(f"FAIL {o['key']}: {o['error']}")
    for k, (v, u) in {**e2e, **extra, **metrics}.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    print(f"{a.workload} calib_ms = {calib[0]:.1f} -> {calib[1]:.1f} "
          f"(drift {drift:+.1%}), steal {art['steal_share']:.1%}"
          f"{', CONTENDED' if contended else ''}; "
          f"ops = {len(ops)}; artifact {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": art["result"]["correct"], "attempted": len(ops),
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
