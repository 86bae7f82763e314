#!/usr/bin/env python3
"""Benchmark of the ALB-log ETL product path and of the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_derby --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The first call builds the repository's main sources and the harness with
sbt (`perfbench/build.sbt`) and keeps everything it makes under
`.bench_build/`. Each run is one client in a closed loop on local[nproc]:
set-up (three times, median reported), one cold pass, then steady passes
for `--seconds`. Every op's output is checked; the last stdout line is the
result JSON. `--trace 1` prints the per-layer metrics instead and writes the
run's spans to `.bench_build/traces/`.

Workloads and metrics are declared in BENCHMARK.json; what each metric
means is in perfbench/README.md. The TPC-H-like test tables are read from
$GRAFT_TESTDATA (default ~/testdata), one directory per scale (sf0.1, ...).
"""
import argparse
import concurrent.futures
import gzip
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"

QUERY_FLOOR = (
    "q_cluster_kmeans q_dedup_exact q_filter q_url_path q_similarity_ann "
    "q_mix_weights q_cond_fns q_events_heavyhitters q_similarity_filtered "
    "q_agg_skewkurt q_dedup_keepbest q_join_cross q_events_autocorr "
    "q_multimodal_features q_stats_datacard q_join_asof_fwd q_tpch_promo "
    "q_mix_materialize q_join_range q_topk q_window_range").split()
QUERIES = {"query_floor": QUERY_FLOOR}
WORKLOADS = ["etl_derby", "query_floor"]

# Input sizes. "full" is what a run measures; "smoke" is the quick self-test.
# The ETL corpus is `mult` copies of one AlbFixture line per order of `sf`,
# shuffled by the seed into `files` gz files.
SIZES = {
    "full": {"sf": "sf0.1", "mult": 1, "files": 32},
    "smoke": {"sf": "sf0.001", "mult": 2, "files": 4},
}
WARM_SF = "sf0.001"  # warmup scale of every workload
WARM_CORPUS = {"mult": 1, "files": 4, "seed": 0}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false"]

RUN_TIMEOUT_S = 170  # the harness JVM of one run; it stops new passes at 150 s


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def cpus():
    return len(os.sched_getaffinity(0))


def testdata(sf):
    d = Path(os.environ.get("GRAFT_TESTDATA", Path.home() / "testdata")) / sf
    if not (d / "orders.parquet").exists():
        fail(f"test tables not found at {d}; set GRAFT_TESTDATA")
    return d


# ---- build -------------------------------------------------------------

def sources():
    for d in (ROOT / "src" / "main", HERE / "src"):
        yield from (p for p in d.rglob("*") if p.is_file())
    yield from (ROOT / "build.sbt", HERE / "build.sbt")


def classpath():
    """Builds with sbt when any source is newer than the last build."""
    cp_file = BUILD / "classpath.txt"
    newest = max(p.stat().st_mtime for p in sources())
    if cp_file.exists() and cp_file.stat().st_mtime >= newest:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log("building (sbt) ...")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={BUILD / 'sbt-global'}",
             "-Dsbt.server.forcestart=false",
             "export bench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = (BUILD / "build.log").read_text().strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1].strip() + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def java(cp, work, args, timeout, stdout_path):
    """Runs the harness JVM; returns its stdout lines."""
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           "-cp", cp, "perfbench.Main", *args]
    with open(stdout_path.with_suffix(".err"), "w") as err:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                               stdin=subprocess.DEVNULL, timeout=timeout, text=True)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {timeout} s; see {err.name}", 3)
    stdout_path.write_text(r.stdout)
    if r.returncode != 0:
        fail(f"harness exited {r.returncode}; see {err.name}")
    return r.stdout.strip().splitlines()


# ---- inputs ------------------------------------------------------------

def base_lines(cp, sf):
    """One AlbFixture line per order of `sf`, plus its oracle SQL."""
    out = BUILD / "alb" / f"base-{sf}.txt"
    if not (out.exists() and Path(str(out) + ".sql").exists()):
        out.parent.mkdir(parents=True, exist_ok=True)
        work = fresh_dir(BUILD / "work" / f"gen-{sf}")
        java(cp, work, ["gen", "--sf-dir", str(testdata(sf)), "--out", str(out),
                        "--cpus", str(cpus()), "--work", str(work)], 600, work / "gen.out")
        shutil.rmtree(work, ignore_errors=True)
    return out


def corpus(base, mult, files, seed):
    """`mult` copies of every base line, shuffled by `seed` into `files` gz
    files; made once per seed and kept (the newest few) across runs."""
    out = BUILD / "alb" / f"{base.stem}-x{mult}-f{files}-seed{seed}"
    if (out / "_DONE").exists():
        return out
    lines = base.read_bytes().splitlines(keepends=True) * mult
    random.Random(seed).shuffle(lines)
    tmp = fresh_dir(Path(str(out) + ".tmp"))
    per = -(-len(lines) // files)

    def write(i):
        (tmp / f"alb-{i:05d}.log.gz").write_bytes(
            gzip.compress(b"".join(lines[i * per:(i + 1) * per]), compresslevel=6, mtime=0))

    with concurrent.futures.ThreadPoolExecutor(max(1, min(4, cpus()))) as ex:
        list(ex.map(write, range(files)))
    (tmp / "_DONE").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    kept = sorted((p for p in out.parent.glob(f"{base.stem}-x*") if p.is_dir()),
                  key=lambda p: p.stat().st_mtime, reverse=True)
    for old in kept[6:]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def oracle(base, sf, mult):
    """rows_in, rows_parsed, Σreceived_bytes, Σsent_bytes, Σelb_status_code of
    the corpus, from the DuckDB oracle over the same orders."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{testdata(sf) / 'orders.parquet'}')")
    n = con.execute("SELECT count(*) FROM orders").fetchone()[0]
    sql = Path(str(base) + ".sql").read_text()
    parsed, recv, sent, status = con.execute(
        f"SELECT count(*), sum(received_bytes), sum(sent_bytes), sum(elb_status_code) FROM ({sql})"
    ).fetchone()
    con.close()
    return [mult * int(x) for x in (n, parsed, recv, sent, status)]


def pins(sf, names):
    table = json.loads((HERE / "pins.json").read_text())["hashes"].get(sf, {})
    missing = [n for n in names if n not in table]
    if missing:
        fail(f"no pinned hash at {sf} for {missing}")
    return ",".join(f"{n}={table[n]}" for n in names)


def cpu_jiffies():
    """(steal, total) CPU jiffies of the host so far, or None off Linux. A
    virtual machine's steal share says how much of a run the host gave to
    other guests; it is recorded with each run to explain slow ones."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return f[7] if len(f) > 7 else 0, sum(f)


def fresh_dir(p):
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True)
    return p


# ---- one run -----------------------------------------------------------

def declared(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(workload, seed, seconds, trace, size="full", setups=3):
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}; one of {WORKLOADS}", 2)
    cp = classpath()
    s = SIZES[size]
    tag = f"{workload}-seed{seed}-trace{trace}"
    args = ["run", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus()), "--setups", str(setups),
            "--run-id", f"{tag}-{os.getpid()}"]
    if workload == "etl_derby":
        base = base_lines(cp, s["sf"])
        warm = corpus(base_lines(cp, WARM_SF), WARM_CORPUS["mult"], WARM_CORPUS["files"],
                      WARM_CORPUS["seed"])
        c = corpus(base, s["mult"], s["files"], seed)
        expect = oracle(base, s["sf"], s["mult"])
        args += ["--corpus", str(c), "--warm-corpus", str(warm), "--lines", str(expect[0]),
                 "--expect", ",".join(map(str, expect))]
    else:
        names = QUERIES[workload]
        args += ["--sf-dir", str(testdata(s["sf"])), "--warm-sf-dir", str(testdata(WARM_SF)),
                 "--queries", ",".join(names), "--pins", pins(s["sf"], names)]
    work = fresh_dir(BUILD / "work" / tag)
    for d in ("records", "traces"):
        (BUILD / d).mkdir(exist_ok=True)
    record = BUILD / "records" / f"{tag}.json"
    trace_out = BUILD / "traces" / f"{tag}.json"
    args += ["--work", str(work), "--record", str(record), "--trace-out", str(trace_out)]
    j0 = cpu_jiffies()
    out = java(cp, work, args, RUN_TIMEOUT_S, BUILD / "records" / f"{tag}.out")
    j1 = cpu_jiffies()
    shutil.rmtree(work, ignore_errors=True)
    if j0 and j1 and j1[1] > j0[1]:
        rec = json.loads(record.read_text())
        rec["host_steal_share"] = (j1[0] - j0[0]) / (j1[1] - j0[1])
        record.write_text(json.dumps(rec))
    result = json.loads(out[-1])
    want = declared(trace)
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    bad = [k for k in want if got.get(k) != want[k] or result["metrics"][k]["value"] is None]
    if bad:
        fail(f"metrics missing or without their unit: {bad}")
    log(f"record: {record}" + (f", spans: {trace_out}" if trace else ""))
    return result


def smoke():
    """Each workload once, untraced and traced, at the smallest scale; fails
    unless every declared metric prints with its unit and no op fails."""
    ok = True
    for w in WORKLOADS:
        for t in (0, 1):
            r = run(w, seed=1, seconds=1, trace=t, size="smoke", setups=1)
            good = r["correct"] and r["failed"] == 0 and r["attempted"] > 0
            ok &= good
            log(f"smoke {w} trace={t}: {'ok' if good else 'FAILED'} "
                f"({r['attempted']} ops, {r['failed']} failed, {len(r['metrics'])} metrics)")
    sys.exit(0 if ok else 1)


def pin(sf):
    """Prints the hash of every listed query at `sf`, for pins.json. Pin a
    value only after graft.Verify + tools/check.py pass for it at `sf`."""
    cp = classpath()
    work = fresh_dir(BUILD / "work" / f"pin-{sf}")
    names = [n for w in QUERIES.values() for n in w]
    out = java(cp, work, ["pin", "--sf-dir", str(testdata(sf)), "--queries", ",".join(names),
                          "--cpus", str(cpus()), "--work", str(work)], 900, work / "pin.out")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({sf: {n: int(h) for n, h in (line.split() for line in out)}}, indent=1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="quick self-test of every workload")
    ap.add_argument("--pin", metavar="SF", help="print the query hashes at scale SF and exit")
    a = ap.parse_args()
    if not ((ROOT / "build.sbt").exists() and (ROOT / "src" / "main" / "scala").is_dir()):
        fail(f"no repository sources under {ROOT}; run from a full checkout", 2)
    if a.smoke:
        smoke()
    if a.pin:
        return pin(a.pin)
    if not a.workload:
        fail("--workload is required", 2)
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
