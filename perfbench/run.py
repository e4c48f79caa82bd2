#!/usr/bin/env python3
"""One run of one benchmark workload, from the root of a source checkout:

    python3 perfbench/run.py --workload ingest-hot|ingest-fleet|board \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source when they changed (sbt,
offline), then starts the load generator (ingest workloads) and the JVM
under test, waits for them, checks the outputs, and prints one
`name value unit` line per end-to-end metric followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Per-query, per-batch and per-layer detail,
the run's stamps and the correctness findings go to
perfbench/out/<workload>-s<seed>-t<trace>.json. Every file a run makes
outside perfbench/out lives under one directory in .bench_build/runs that
is removed on every exit path. Exit status: 0 correct, 1 incorrect
outputs, 2 the run could not be made.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM = HERE / "jvm"
BUILD = ROOT / ".bench_build"
OUT = HERE / "out"
BOARD_DATA = HERE / "data" / "sf0.001"
WORKLOADS = ("ingest-hot", "ingest-fleet", "board")
# a run of --seconds S must end within S + RUN_MARGIN_S (170 s at S = 15)
RUN_MARGIN_S = 155
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")

# The workload-specific metrics printed per workload, with their units.
NAMED = {
    "ingest-hot": [("setup_s", "s"), ("ingest_eps", "events/s"),
                   ("failed_frac", "ratio"), ("peak_rss_mb", "MB")],
    "ingest-fleet": [("setup_s", "s"), ("delivered_frac", "ratio"),
                     ("value_p50_ms", "ms"), ("value_p99_ms", "ms"),
                     ("offline_p50_s", "s"), ("offline_p99_s", "s"),
                     ("failed_frac", "ratio"), ("peak_rss_mb", "MB")],
    "board": [("setup_s", "s"), ("board_s", "s"), ("query_p50_s", "s"),
              ("query_p95_s", "s"), ("failed_frac", "ratio"), ("peak_rss_mb", "MB")],
}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class RunError(Exception):
    """The run could not be made (as opposed to a run with wrong outputs)."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    roots = [ROOT / "src" / "main", JVM / "src" / "main"]
    files = [ROOT / "build.sbt", JVM / "build.sbt", ROOT / "project" / "build.properties",
             JVM / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile when the sources changed; return the runtime classpath."""
    stamp, cp_file = BUILD / "source.sha256", BUILD / "classpath.txt"
    digest = source_hash()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building program and harness (sbt)")
    with open(BUILD / "build.log", "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=JVM, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = (BUILD / "build.log").read_text().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise RunError(f"build failed (sbt exit {rc}); see {BUILD / 'build.log'}")
    cp_file.write_text(cps[-1].strip())
    stamp.write_text(digest)
    return cps[-1].strip()


# ---------------------------------------------------------------- processes

def java_cmd(cp, heap, tmpdir, main, args):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", *opens, "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Duser.language=en", "-Duser.country=US",
             f"-Djava.io.tmpdir={tmpdir}", f"-Dderby.system.home={tmpdir}", "-cp", cp, main]
            + [str(a) for a in args])


def postgres_tmpdir(run_dir):
    """Postgres refuses to run as root, so a root JVM starts it as the
    `postgres` user, which must reach its data directory. Use the run
    directory when that user can traverse to it; otherwise a private
    directory in the system temp dir (recorded in the detail file)."""
    tmp = run_dir / "tmp"
    tmp.mkdir()
    if os.geteuid() != 0:
        return tmp, False
    os.chmod(tmp, 0o777)
    ok = subprocess.call(["runuser", "-u", "postgres", "--", "test", "-w", str(tmp), "-a", "-x", str(tmp)],
                         stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL) == 0
    if ok:
        return tmp, False
    outside = Path(tempfile.mkdtemp(prefix="perfbench-"))
    os.chmod(outside, 0o711)
    return outside, True


def stop_postgres(dirs):
    """Stop any server left under `dirs` (a JVM killed mid-run cannot)."""
    for d in dirs:
        if not d.exists():
            continue
        for pidfile in d.rglob("postmaster.pid"):
            try:
                pid = int(pidfile.read_text().split()[0])
                os.kill(pid, signal.SIGQUIT)
                for _ in range(50):
                    os.kill(pid, 0)
                    time.sleep(0.1)
                os.kill(pid, signal.SIGKILL)
            except (OSError, ValueError, IndexError):
                pass


def terminate(proc, grace=5.0):
    if proc is None or proc.poll() is not None:
        return
    proc.terminate()
    try:
        proc.wait(timeout=grace)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def tail(path, n=25):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


# ---------------------------------------------------------------- checks

def board_oracle(verify_dir):
    """DuckDB comparison of each written panel output, exactly as
    tools/verify_local.py does it; returns the failing query names."""
    sys.path.insert(0, str(ROOT / "tools"))
    import verify_local  # noqa: E402
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        verify_local.main(str(BOARD_DATA), str(verify_dir), check_dtypes=True)
    return [l for l in buf.getvalue().splitlines() if l.startswith("FAIL ")]


def stamps(args, settings):
    commit, dirty = None, None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
        if commit:
            st = subprocess.run(["git", "status", "--porcelain", "--", "src", "build.sbt", "project",
                                 "perfbench/jvm", "perfbench/run.py"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10).stdout
            dirty = bool(st.strip())
    except (OSError, subprocess.SubprocessError):
        pass
    knobs = {k: v for k, v in os.environ.items()
             if k.startswith(("SPARK", "JAVA", "SBT", "COURSIER", "OMP", "GRAFT", "PERFBENCH"))}
    return {"commit": commit, "dirty": dirty, "source_sha256": source_hash(),
            "seed": args.seed, "workload": args.workload, "seconds": args.seconds,
            "trace": args.trace, "fault": args.fault, "nproc": os.cpu_count(),
            "env": knobs, "jvm": settings,
            "python": sys.version.split()[0], "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


# ---------------------------------------------------------------- run

def run(args):
    cp = build()
    runs = BUILD / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=runs))
    os.chmod(run_dir, 0o755)
    tmp, pg_outside = run_dir / "tmp", False
    gen = harness = None
    try:
        tmp, pg_outside = postgres_tmpdir(run_dir)
        launch_ms = int(time.time() * 1000)
        gen_pid = 0
        if args.workload != "board":
            gen = subprocess.Popen(
                java_cmd(cp, "768m", tmp, "perfbench.Generator",
                         [args.workload, args.seed, run_dir]),
                stdout=open(run_dir / "generator.out", "w"), stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
            gen_pid = gen.pid
        out_json = run_dir / "result.json"
        hargs = ["--workload", args.workload, "--seed", args.seed, "--seconds", args.seconds,
                 "--trace", args.trace, "--run-dir", run_dir, "--out", out_json,
                 "--launch-ms", launch_ms, "--gen-pid", gen_pid, "--board-data", BOARD_DATA,
                 "--fault", args.fault]
        harness = subprocess.Popen(java_cmd(cp, "3g", tmp, "perfbench.Harness", hargs),
                                   stdout=open(run_dir / "harness.out", "w"), stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL)
        limit = args.seconds + RUN_MARGIN_S
        try:
            rc = harness.wait(timeout=limit - (time.time() - launch_ms / 1000.0))
        except subprocess.TimeoutExpired:
            sys.stderr.write(tail(run_dir / "harness.out") + "\n")
            raise RunError(f"harness did not finish within {limit} s")
        if rc != 0 or not out_json.is_file():
            sys.stderr.write(tail(run_dir / "harness.out") + "\n")
            raise RunError(f"harness exited {rc}")
        res = json.loads(out_json.read_text())
        res["pg_dir_outside_checkout"] = pg_outside
        res["phase_s"] = {"jvm": time.time() - launch_ms / 1000.0}
        if args.workload == "board":
            t = time.time()
            fails = board_oracle(run_dir / "verify")
            res["phase_s"]["oracle"] = time.time() - t
            res["oracle_failures"] = fails
            res["failed"] += len(fails)
            res["failures"] = res["failures"] + fails
        return res
    finally:
        if gen is not None and gen.poll() is None:
            try:
                (run_dir / "control.json").write_text('{"stop": 1}\n')
            except OSError:
                pass
            try:
                gen.wait(timeout=3)
            except subprocess.TimeoutExpired:
                pass
        terminate(harness)
        terminate(gen)
        stop_postgres([run_dir, tmp])
        shutil.rmtree(run_dir, ignore_errors=True)
        if pg_outside:
            shutil.rmtree(tmp, ignore_errors=True)


def select(wanted, source, units):
    """(metrics, not applicable, unmeasured). A wanted metric the workload
    does not have reads 0 and is listed as not applicable; one it has but
    could not compute (NaN, written as null) is unmeasured, which fails
    the run."""
    not_applicable = [n for n in wanted if n not in source]
    unmeasured = [n for n in wanted if n in source and
                  (source[n] is None or math.isnan(float(source[n])))]
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": units[n]}
               for n in wanted if n not in unmeasured}
    return metrics, not_applicable, unmeasured


def tracing_overhead(base, stamp, traced):
    """Traced end-to-end values next to those of the untraced run of the
    same workload and seed, when that run was made from the same sources."""
    if not base.is_file():
        return "no untraced run of this workload and seed in perfbench/out"
    prior = json.loads(base.read_text())
    keys = ("commit", "dirty", "source_sha256", "seconds")
    other = prior.get("stamps", {})
    differ = [k for k in keys if other.get(k) != stamp.get(k)]
    if differ:
        return f"the untraced run in perfbench/out differs in {', '.join(differ)}"
    untraced = prior.get("metrics", {})
    return {k: {"untraced": untraced.get(k), "traced": v,
                "ratio": (v / untraced[k]) if untraced.get(k) and v is not None else None}
            for k, v in traced.items()}


def fmt(v):
    return "nan" if v is None or (isinstance(v, float) and math.isnan(v)) else repr(v)


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fault", choices=("none", "wrong-row", "lost-event"), default="none",
                   help="inject a defect the correctness checks must catch (tests only)")
    args = p.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no program sources under {ROOT}: run from the root of a full checkout")
        return 2
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        log("BENCHMARK.json missing")
        return 2
    bench = json.loads(bench_file.read_text())

    def on_signal(signum, _frame):
        raise KeyboardInterrupt(f"signal {signum}")
    signal.signal(signal.SIGTERM, on_signal)

    try:
        res = run(args)
    except (RunError, KeyboardInterrupt, subprocess.SubprocessError, OSError) as e:
        log(f"run failed: {e}")
        return 2

    attempted, failed = int(res["attempted"]), int(res["failed"])
    named = dict(res.get("named", {}))
    named["failed_frac"] = failed / max(1, attempted)
    wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    source = res.get("layers", {}) if args.trace else res["metrics"]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    metrics, not_applicable, unmeasured = select(wanted, source, units)
    bad = [n for n in list(metrics) + list(named) if not NAME.match(n)]
    if bad:
        log(f"metric names outside [A-Za-z0-9_.-]: {bad}")
        return 2

    OUT.mkdir(exist_ok=True)
    detail_path = OUT / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    detail = dict(res)
    detail["named"] = named
    detail["stamps"] = stamps(args, res.pop("jvm_settings", {}))
    detail["not_applicable"] = not_applicable
    detail["unmeasured"] = unmeasured
    if args.trace:
        detail["tracing_overhead"] = tracing_overhead(
            OUT / f"{args.workload}-s{args.seed}-t0.json", detail["stamps"], res["metrics"])
    detail_path.write_text(json.dumps(detail, indent=1, sort_keys=True) + "\n")
    if unmeasured:
        log(f"run failed: no value for {unmeasured}; see {detail_path.relative_to(ROOT)}")
        return 2

    for name, unit in NAMED[args.workload]:
        print(f"{name} {fmt(named.get(name))} {unit}")
    for name, m in metrics.items():
        print(f"{name} {fmt(m['value'])} {m['unit']}")
    for f in res.get("failures", [])[:5]:
        log(f"check failed: {f}")
    log(f"detail: {detail_path.relative_to(ROOT)}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
