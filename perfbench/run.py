#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload claims_etl --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark with sbt on first use (or when a source
changed), then starts one JVM for the run. The JVM prints a human-readable
report; this script prints it through and ends with one JSON result line whose
metric names and units come from BENCHMARK.json (end_to_end with --trace 0,
per_layer with --trace 1).

Extra flags, not needed for a measured run:
  --negative 1   also run every output check on a corrupted copy of its
                 output, and count a check that does not fail there as failed
  --overhead 1   run the workload untraced and traced with the same seed and
                 print the tracing overhead on each end-to-end figure
  --workload all run every workload in turn (report only, no result line)

Everything the run writes goes under .bench_build/ in the checkout root.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("claims_etl", "corpus_curate", "snapshot_stream")
# Heap of the benchmark JVM; the inputs are sized to fit well inside it.
HEAP = "2g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def source_hash():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for r in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    """Offline sbt whose own state (global base, ivy home, locks, temp files)
    lives under .bench_build; only the read-only dependency caches in the
    user's home are read."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    if not opts:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    state = os.path.join(BUILD, "sbt")
    opts += ["-Dsbt.global.base=" + os.path.join(state, "global"),
             "-Dsbt.ivy.home=" + os.path.join(state, "ivy2"),
             "-Dsbt.boot.lock=false",
             "-Djna.tmpdir=" + os.path.join(state, "tmp"),
             "-Djava.io.tmpdir=" + os.path.join(state, "tmp"), "-XX:-UsePerfData"]
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Returns (classpath, jvm options); builds when the sources changed."""
    stamp = os.path.join(BUILD, "launch.stamp")
    launch = os.path.join(BUILD, "launch.txt")
    want = source_hash()
    have = open(stamp).read().strip() if os.path.isfile(stamp) else ""
    if have != want or not os.path.isfile(launch):
        os.makedirs(BUILD, exist_ok=True)
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            sys.stderr.write("build failed: %s\n" % e)
            sys.exit(1)
        if p.returncode != 0 or not os.path.isfile(launch):
            sys.stderr.write(p.stdout[-4000:])
            sys.stderr.write("\nbuild failed (sbt exit %d)\n" % p.returncode)
            sys.exit(1)
        with open(stamp, "w") as f:
            f.write(want)
    lines = open(launch).read().splitlines()
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return lines[0], opts


def run_jvm(cp, opts, args, trace, negative):
    """Runs one workload; returns (report lines, parsed result or None)."""
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData"] + opts +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--negative", str(negative), "--work", work])
    report, result = [], None
    with open(os.path.join(BUILD, "jvm-stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        watchdog = threading.Timer(RUN_TIMEOUT_S, p.kill)
        watchdog.start()
        try:
            for line in p.stdout:
                line = line.rstrip("\n")
                if line.startswith("PERFBENCH_RESULT "):
                    result = json.loads(line[len("PERFBENCH_RESULT "):])
                else:
                    report.append(line)
                    print(line, flush=True)
        except BaseException:
            p.kill()
            raise
        finally:
            p.wait()  # the watchdog still kills a JVM that hangs after its output
            watchdog.cancel()
    if p.returncode != 0:
        sys.stderr.write("benchmark JVM exited %d (killed after %d s if negative); see "
                         ".bench_build/jvm-stderr.log\n" % (p.returncode, RUN_TIMEOUT_S))
        return report, None
    return report, result


def figures(report):
    """The `metric <name> <value>` lines of a report, as {name: value}."""
    out = {}
    for line in report:
        parts = line.split()
        if len(parts) >= 3 and parts[0] == "metric":
            try:
                out[parts[1]] = float(parts[2])
            except ValueError:
                pass
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--negative", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, opts = build()

    if args.workload == "all" or args.overhead:
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        ok = True
        for w in names:
            args.workload = w
            untraced, r0 = run_jvm(cp, opts, args, args.trace, args.negative)
            ok = ok and r0 is not None and r0["correct"]
            if args.overhead:
                traced, r1 = run_jvm(cp, opts, args, 1, 0)
                ok = ok and r1 is not None and r1["correct"]
                a, b = figures(untraced), figures(traced)
                print("tracing overhead on %s (traced - untraced, same seed):" % w)
                for k in a:
                    if k in b and a[k]:
                        print("  %-24s %12.6f -> %12.6f  (%+.1f%%)" % (k, a[k], b[k], 100 * (b[k] - a[k]) / a[k]))
        sys.exit(0 if ok else 1)

    _, result = run_jvm(cp, opts, args, args.trace, args.negative)
    if result is None:
        sys.exit(1)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    got = result["metrics"]
    if set(got) != set(units) or any(not isinstance(v, (int, float)) for v in got.values()):
        sys.stderr.write("result metrics do not match BENCHMARK.json: missing %s, extra %s, "
                         "non-numeric %s\n" % (sorted(set(units) - set(got)), sorted(set(got) - set(units)),
                                               sorted(k for k, v in got.items() if not isinstance(v, (int, float)))))
        sys.exit(1)
    result["metrics"] = {k: {"value": got[k], "unit": units[k]} for k in units}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
