#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and
the driver with sbt (cached by source fingerprint under .perfbench/),
generates the workload's inputs from the seed, runs the driver JVM,
checks every timed output, and prints the metrics as the last line of
stdout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("ingest_reference", "query_mix")
# The query mix runs on the suite's own sf0.01 test data, which
# gen.star_schema regenerates value for value from seed 42. It is the
# same for every --seed (the digests are recorded on it); --seed
# shuffles the order the queries run in.
STAR_SEED = 42
STAR_SCALE = 0.01
DIGESTS = os.path.join(HERE, "query_digests.json")
# build.sbt's forked-JVM flags (graft.Main and graft.Bench run with these)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(cache):
    """Build graft and the driver once per source tree; return the classpath."""
    stamp = fingerprint()
    cp_file = os.path.join(cache, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building graft and the driver with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def make_inputs(workload, seed, work):
    """Write the workload's inputs; return the facts the checks need."""
    facts = {}
    if workload == "ingest_reference":
        facts["ibc_1x"] = gen.ibc_csv(os.path.join(work, "ibc_1x.csv"), seed, 1)
        os.makedirs(os.path.join(work, "api"))
        facts["api"] = gen.api_fixtures(os.path.join(work, "api"), seed)
    if workload == "query_mix":
        os.makedirs(os.path.join(work, "star"))
        gen.star_schema(os.path.join(work, "star"), STAR_SEED, STAR_SCALE)
    return facts


def java_command(cp, work, args):
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=1g",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", cp, "perfbench.Driver"] + args)


def driver_env(work):
    """The caller's environment without settings that would change the
    sessions. SPARK_GRAFT_NO_SHM keeps graft's query scratch
    (QueryDef.scratch) off /dev/shm, so that it stays inside the
    checkout under java.io.tmpdir."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_MASTER", "SPARK_LOCAL_DIRS")}
    env["SPARK_GRAFT_NO_SHM"] = "1"
    return env


def run_driver(cmd, work, deadline):
    with open(os.path.join(work, "driver.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=driver_env(work),
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("driver ran past the run's time limit")
    if code != 0:
        with open(os.path.join(work, "driver.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"driver exited with {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def md5(path):
    h = hashlib.md5()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def manifests(directory):
    out = {}
    for d, _, files in os.walk(directory):
        for f in files:
            if f.endswith(".manifest.json"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    out[f[:-len(".manifest.json")]] = (os.path.join(d, f[:-len(".manifest.json")]),
                                                       json.load(fh))
    return out


def check_landing(path, manifest, expected, extra=None):
    """Manifest facts against the generator's counts and the file itself."""
    stats = manifest["schema_stats"]
    problems = []
    if stats["linhas"] != expected["rows"]:
        problems.append(f"linhas {stats['linhas']} != {expected['rows']}")
    if stats["nulos"] != expected["nulls"]:
        problems.append(f"nulos {stats['nulos']} != {expected['nulls']}")
    if manifest["core"]["hash_md5"] != md5(path):
        problems.append("hash_md5 differs from the file's MD5")
    if manifest["core"]["tamanho_bytes"] != os.path.getsize(path):
        problems.append("tamanho_bytes differs from the file's size")
    if extra is not None and manifest.get("extra") != extra:
        problems.append(f"extra {manifest.get('extra')} != {extra}")
    return problems


def check_op(op, facts, digests):
    if not op["ok"]:
        return [op["error"]]
    if op["kind"] == "query":
        want = digests.get(op["name"])
        return [] if want == op["digest"] else [f"digest {op['digest']} != recorded {want}"]
    found = manifests(op["dir"])
    if op["kind"] == "csv":
        if list(found) != ["indmunicipios.txt"]:
            return [f"manifests {sorted(found)}"]
        path, m = found["indmunicipios.txt"]
        return check_landing(path, m, facts[op["name"]])
    api = facts["api"]
    if sorted(found) != ["posts.txt", "users.txt"]:
        return [f"manifests {sorted(found)}"]
    return (check_landing(*found["users.txt"], api["users"]) +
            check_landing(*found["posts.txt"], api["posts"],
                          extra={"user_id": str(api["target_user_id"])}))


def record_digests(ops):
    """Keep this run's query results as the reference for later runs.
    The run checks nothing and prints no result."""
    seen = {}
    for op in ops:
        if not op["ok"]:
            fail(f"cannot record {op['name']}: {op['error']}")
        if seen.setdefault(op["name"], op["digest"]) != op["digest"]:
            fail(f"{op['name']} gave two different results in one run")
    with open(DIGESTS, "w") as f:
        json.dump({"star_seed": STAR_SEED, "star_scale": STAR_SCALE,
                   "digests": dict(sorted(seen.items()))}, f, indent=2)
        f.write("\n")
    log(f"wrote {len(seen)} digests to {DIGESTS}")


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="write query_mix's result digests instead of checking them")
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S

    for need in ("build.sbt", "configs/indicadores_municipios.json", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")
    spec = benchmark_spec()
    cache = os.path.join(ROOT, ".perfbench")
    os.makedirs(cache, exist_ok=True)
    cp = classpath(cache)

    work = os.path.join(cache, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    facts = make_inputs(a.workload, a.seed, work)

    cmd = java_command(cp, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--repo", ROOT])
    result = run_driver(cmd, work, deadline)

    ops = [op for it in result["iterations"] for op in it["ops"]]
    if a.record_digests:
        record_digests(ops)
        return
    digests = {}
    if a.workload == "query_mix":
        with open(DIGESTS) as f:
            digests = json.load(f)["digests"]
    failures = []
    for op in ops:
        problems = check_op(op, facts, digests)
        if problems:
            failures.append(f"{op['kind']} {op['name']}: " + "; ".join(problems))
    parity = result["parity"]
    failures += [f"parity {k}: traced composition wrote a different manifest"
                 for k, v in parity.items() if not v]
    attempted = len(ops) + len(parity)

    for name, value in result["config"].items():
        print(f"config {name} = {value}")
    for p in failures:
        print(f"FAILED {p}")
    plain = [it for it in result["iterations"] if not it["traced"]]
    if a.trace == 0:
        # each operation's median over the untraced iterations, summed
        # over the operations of one iteration
        times = {}
        for op in (op for it in plain for op in it["ops"]):
            times.setdefault((op["kind"], op["name"]), []).append(op["seconds"])
        values = {"op_p50_ms": sum(statistics.median(t) for t in times.values()) * 1000,
                  "setup_s": result["setup_s"]}
        wanted = spec["end_to_end"]
    else:
        values = dict(result["layers"])
        wanted = spec["per_layer"]
        missing = {m["name"] for m in wanted} ^ set(values)
        if missing:
            fail(f"per-layer metrics and BENCHMARK.json disagree on {sorted(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(f"samples: {len(plain)} untraced iterations, set-up {result['setup_s']:.3f} s, "
          f"{attempted} operations checked, {len(failures)} failed")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
