#!/usr/bin/env python3
"""Crawl-engine benchmark: builds the engine and the benchmark from source,
runs one workload at local[4] in its own JVM, checks every output, and
prints the metrics.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 12 --trace 0

Run it from the repository root. Workloads: crawl_bulk, crawl_churn,
registry (see perfbench/README.md). `--trace 0` prints the end-to-end
metrics of BENCHMARK.json, `--trace 1` the per-layer metrics. The last
stdout line is one JSON object {"correct", "attempted", "failed",
"metrics"}; the exit code is non-zero when a check fails or a metric is
missing. Build output, scratch data and per-run artifacts (with the spans
of traced runs) go to .bench_build/ in the repository root.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
ARCHIVE = BUILD / "perfbench.jsa"
DEADLINE_S = 170.0
WORKLOADS = ("crawl_bulk", "crawl_churn", "registry")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]
# Workload figures printed next to the contract metrics (name -> unit).
EXTRA_UNITS = {
    "crawl_urls_per_s": "URLs/s", "tick_s_p50": "s", "tick_s_max": "s", "resume_s": "s",
    "scale_eff_1_4": "ratio", "lake_bytes_per_page": "B/page", "init_s": "s",
    "registry_total_s": "s", "registry_geomean_s": "s", "ops_failed_frac": "ratio",
    "heap_peak_mb": "MB", "setup_s": "s",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first one whose
    spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        jars = Path(home) / "jars" if home else None
        if jars and any(jars.glob("scala-compiler-*.jar")) and any(jars.glob("spark-sql_*.jar")):
            return jars
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    main_root = ROOT / "src" / "main" / "scala"
    engine = sorted(main_root.rglob("*.scala")) if main_root.is_dir() else []
    if not engine:
        fail(f"no engine sources under {main_root.relative_to(ROOT)}; run from the repository root")
    # the crawl oracle may live with the test sources
    extra = []
    if not any(p.name == "ReferenceSimulator.scala" for p in engine):
        extra = sorted((ROOT / "src" / "test" / "scala").rglob("ReferenceSimulator.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    return engine + extra + bench


def build(jars):
    """Compile engine + benchmark sources with scalac into .bench_build/perfbench.jar,
    skipped when the sources are unchanged since the last build. Then record a
    class-data archive of a session start-up, which halves JVM start-up time."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    classes, stamp, jar = BUILD / "classes", BUILD / "classes.stamp", BUILD / "perfbench.jar"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and jar.exists():
        return jar
    stamp.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-classpath", f"{jars}/*", f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail("build failed")
    with zipfile.ZipFile(jar, "w") as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    run_jvm(jars, jar, {"workload": "archive", "seed": 0, "seconds": 0, "trace": 0, "cores": 4, "size": "tiny"},
            time.time() + 300, dump_archive=True)
    stamp.write_text(digest.hexdigest())
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return jar


def run_jvm(jars, jar, args, deadline, dump_archive=False):
    """One benchmark JVM; returns its result document."""
    tag = f"{args['workload']}-s{args['seed']}-t{args['trace']}-c{args['cores']}"
    out = BUILD / "results" / f"{tag}.jvm.json"
    log = BUILD / "logs" / f"{tag}.log"
    for d in (out.parent, log.parent, BUILD / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    if dump_archive:
        share = [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]
    else:
        share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
    # -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
    cmd = ["java", "-XX:-UsePerfData", *ADD_OPENS, *share, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{jar}:{jars}/*", "perfbench.Main",
           "--out", str(out), "--work", str(BUILD / "work"), "--src", str(ROOT / "src" / "main" / "scala"),
           "--launch-ms", repr(time.time() * 1000.0)]
    for k in ("workload", "seed", "seconds", "trace", "cores", "size"):
        cmd += [f"--{k}", str(args[k])]
    if args.get("perturb"):
        cmd.append("--perturb")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=lf, timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{tag} ran past the time limit (log: {log})")
    if r.returncode != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"{tag} exited with {r.returncode} (log: {log})")
    return json.loads(out.read_text())


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def oracle_checks(ctx):
    """Every registry query's rows against DuckDB running the registry's
    own oracle SQL on the same tables, compared as multisets."""
    import duckdb
    tables, out = Path(ctx["tables_dir"]), Path(ctx["oracle_dir"])
    con = duckdb.connect()
    for t in tables.glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    checks = []
    for name, sql in sorted(json.loads((out / "oracle_sql.json").read_text()).items()):
        try:
            o = con.execute(sql).fetchall()
            ocols = [d[0].lower() for d in con.description]
            s = con.execute(f"SELECT * FROM read_parquet('{out / name}/*.parquet')").fetchall()
            scols = [d[0].lower() for d in con.description]
            if scols != ocols:
                idx = [scols.index(c) for c in ocols]
                s = [tuple(r[i] for i in idx) for r in s]
            om = sorted(tuple(canon(v) for v in r) for r in o)
            sm = sorted(tuple(canon(v) for v in r) for r in s)
            checks.append({"name": f"registry.{name}.oracle", "ok": om == sm,
                           "detail": f"{len(sm)} rows vs {len(om)} oracle rows"})
        except Exception as e:  # a query whose output cannot be compared fails
            checks.append({"name": f"registry.{name}.oracle", "ok": False, "detail": str(e)[:300]})
    return checks


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--perturb", action="store_true", help="self-test: corrupt the expected crawl order")
    ap.add_argument("--scale", action="store_true",
                    help="crawl_bulk: also run a local[1] leg in its own JVM and print scale_eff_1_4")
    a = ap.parse_args()
    if a.workload == "all":
        # every workload, untraced then traced; non-zero if any run fails
        rcs = [subprocess.run([sys.executable, __file__, *sys.argv[1:], "--workload", w, "--trace", str(t)]).returncode
               for w in WORKLOADS for t in (0, 1)]
        sys.exit(max(rcs))
    deadline = time.time() + DEADLINE_S

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.loads(spec_path.read_text())
    jars = spark_jars()
    jar = build(jars)
    # build time is not part of the measured run
    deadline = max(deadline, time.time() + DEADLINE_S)

    base = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "size": a.size, "perturb": a.perturb}
    legs = {}
    if a.scale and a.workload == "crawl_bulk":
        # the same workload at local[1], in its own JVM, before the local[4] leg
        deadline += DEADLINE_S
        legs[1] = run_jvm(jars, jar, {**base, "cores": 1, "seconds": a.seconds}, deadline)
    legs[4] = run_jvm(jars, jar, {**base, "cores": 4, "seconds": a.seconds}, deadline)
    res = legs[4]
    checks = list(res["checks"])
    extra = dict(res["extra"])
    if 1 in legs:
        checks += [{**c, "name": "local1." + c["name"]} for c in legs[1]["checks"]]
        extra["scale_eff_1_4"] = res["metrics"]["items_per_s"] / (4.0 * legs[1]["metrics"]["items_per_s"])
    if a.workload == "registry":
        checks += oracle_checks(res["context"])
    attempted = sum(leg["attempted"] for leg in legs.values()) + sum(
        1 for c in checks if c["name"].endswith(".oracle"))
    failed = sum(1 for c in checks if not c["ok"])
    extra["ops_failed_frac"] = failed / max(1, attempted)
    extra["heap_peak_mb"] = res["metrics"].get("heap_peak_mb")
    extra["setup_s"] = res["metrics"].get("setup_s")
    correct = bool(checks) and all(c["ok"] for c in checks)

    want = spec["per_layer" if a.trace else "end_to_end"]
    metrics, missing = {}, []
    for m in want:
        v = res["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    print(f"checks: {sum(c['ok'] for c in checks)}/{len(checks)} passed")
    for k, v in res["context"].items():
        if k.startswith("ambient") or k in ("session_s", "corpus_s", "tables_s", "warmup_s", "passes", "measured_s"):
            print(f"context {k} = {json.dumps(v)}")
    for k, v in extra.items():
        if v is not None:
            print(f"{a.workload} {k} = {v:.6g} {EXTRA_UNITS.get(k, 's')}")
    for k, v in res["metrics"].items():
        if k not in metrics and a.trace:
            print(f"layer {k} = {v:.6g}")
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']}")
    artifact = BUILD / "results" / f"{a.workload}-s{a.seed}-t{a.trace}.json"
    artifact.write_text(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics, "extra": extra,
        "checks": checks, "legs": {str(c): {k: v for k, v in leg.items() if k != "spans"} for c, leg in legs.items()},
        "spans": res.get("spans", []),
    }, indent=1))
    print(f"artifact {artifact.relative_to(ROOT)}")
    bad_names = [k for k in list(metrics) + list(extra) if not NAME_RE.match(k)]
    if missing or bad_names:
        fail(f"missing metrics {missing} / bad names {bad_names}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
