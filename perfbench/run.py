#!/usr/bin/env python3
"""graft's curation benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The script builds the program and
the benchmark JVM from source (sbt, offline; rebuilt only when a source
file changed), generates the workload's inputs from the seed, runs one
benchmark JVM (one client, a closed loop on local[nproc]), checks every
timed op's output, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a run that alternates
plain and traced ops. End-to-end op times are scaled to a fixed host
speed, measured by a reference Spark job run around every timed op
(HostReference.scala, README.md "Host speed"). The full record (every
op, the raw times, the measured input properties, the stamps) is written
to .bench_build/perfbench/results/.

Workloads (see BENCHMARK.json for why each exists):
  curate_batch   q_curate_sink over a generated documents corpus (the traced
                 run adds q_curate_incremental and q_stream_curate against
                 persisted v0 state of the same corpus)
  select_scored  readAlpaca -> IFD + model scores -> clusterAndSelect -> writeJson
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes. Each run pays the JVM start, a cold untimed reference run
# of every op, two more untimed runs and at least one timed cycle, and the
# benchmark's whole schedule (4 + 22 runs per workload, builds included)
# must fit in under an hour. At these sizes an op takes 4-5 s on 4 cores,
# most of it per-job cost rather than per-record work.
DOCS = 3000
ALPACA_ROWS = 5000
WORKLOADS = ("curate_batch", "select_scored")
JVM_HEAP = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s
# End-to-end times are scaled to a host on which HostReference's job
# takes this long (see README.md, "Host speed")
REFERENCE_S = 1.0
BUILD_LIMIT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest(root):
    """Digest of every file the build reads, so a rebuild happens exactly
    when the program or the benchmark changed."""
    files = [os.path.join(root, "build.sbt")]
    for base in (os.path.join(root, "project"), os.path.join(HERE, "project")):
        files += glob.glob(os.path.join(base, "*.sbt"))
        files += glob.glob(os.path.join(base, "*.properties"))
    files.append(os.path.join(HERE, "build.sbt"))
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile graft and the benchmark JVM; return (classpath, oracle SQL)."""
    digest = source_digest(root)
    stamp = os.path.join(work, "build.stamp")
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    oracle_file = os.path.join(work, "oracle_sql.json")
    if not (os.path.exists(stamp) and open(stamp).read() == digest
            and os.path.exists(cp_file) and os.path.exists(oracle_file)):
        if os.path.exists(stamp):
            os.remove(stamp)
        log = os.path.join(work, "build.log")
        with open(log, "w") as out:
            try:
                r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                    "benchClasspath"], cwd=HERE, stdout=out,
                                   stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                   timeout=BUILD_LIMIT_S)
            except subprocess.TimeoutExpired:
                fail(f"build timed out; see {log}")
        if r.returncode != 0:
            fail(f"build failed; see {log}")
        cp = open(cp_file).read().strip()
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "oracle", oracle_file],
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=120)
        with open(stamp, "w") as f:
            f.write(digest)
    with open(oracle_file) as f:
        return open(cp_file).read().strip(), json.load(f), digest


# CTE definitions of the oracle SQL, except column-listed (recursive) ones
CTE_DEF = re.compile(r"(^|,|WITH RECURSIVE|WITH)(\s*)([A-Za-z_][A-Za-z0-9_]*) AS \(", re.M)


def duck(work):
    """A DuckDB connection that spills, if ever, inside the work directory."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=4")
    con.sql(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    return con


def multiset(con, relation, columns):
    """Order-independent digest of a relation, DuckDB formatting every
    value on both sides (count, 128-bit hash sum, hash xor)."""
    expr = "concat_ws('|', " + ", ".join(
        f'coalesce(CAST("{c}" AS VARCHAR), chr(1))' for c in sorted(columns)) + ")"
    row = con.sql(f"SELECT count(*), CAST(coalesce(sum(CAST(hash({expr}) AS HUGEINT)), 0) "
                  f"AS VARCHAR), coalesce(bit_xor(hash({expr})), 0) FROM {relation}").fetchone()
    return [row[0], row[1], str(row[2])]


def oracle_digest(work, input_dir, sql):
    """DuckDB replay of a registry query's oracle SQL over the generated
    documents; cached next to the input (it depends only on seed and size).
    Every CTE is materialized so DuckDB evaluates each once: inlined, the
    recursive reachability step re-runs the whole MinHash chain on every
    iteration. Materializing changes no result."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(input_dir, f"oracle_{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duck(work)
    con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(input_dir, 'documents.parquet')}')")
    fast = CTE_DEF.sub(lambda m: f"{m.group(1)}{m.group(2)}{m.group(3)} AS MATERIALIZED (", sql)
    con.sql(f"CREATE TEMP TABLE oracle AS {fast}")
    columns = [r[0] for r in con.sql("DESCRIBE oracle").fetchall()]
    res = {"columns": sorted(columns), "digest": multiset(con, "oracle", columns)}
    with open(path + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def ref_digest(work, ref_dir):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(ref_dir, "*.parquet")))
    if not files:
        return None
    columns = pq.read_schema(files[0]).names
    flist = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    con = duck(work)
    return {"columns": sorted(columns),
            "digest": multiset(con, f"read_parquet({flist})", columns)}


def tmp_entries():
    """Run directories graft creates directly under /tmp."""
    return set(glob.glob("/tmp/graft_stream_*/*"))


def tree_bytes(p):
    if os.path.isfile(p):
        return os.path.getsize(p)
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(p) for n in names
               if os.path.isfile(os.path.join(d, n)))


def median(xs):
    return statistics.median(xs) if xs else None


def ratio(a, b):
    return a / b if a is not None and b else None


def tail(xs):
    """Highest percentile with at least 10 samples beyond it, or None."""
    n = len(xs)
    if n < 11:
        return None
    return {"p": round(100.0 * (n - 10) / n, 1), "value": sorted(xs)[n - 11], "samples": n}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    with open("/proc/loadavg") as f:
        entry_load = float(f.read().split()[0])

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath, oracle_sql, src_digest = build(root, work)
    built = time.time()
    build_s = built - started

    # inputs: a pure function of (seed, size), cached
    data = os.path.join(work, "data")
    kind, size = (("alpaca", ALPACA_ROWS) if args.workload == "select_scored"
                  else ("documents", DOCS))
    input_dir, props = gen.ensure(data, kind, args.seed, size)
    input_dir = os.path.abspath(input_dir)

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    before_tmp = tmp_entries()
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:CompileThresholdScaling=0.25", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classpath, "perfbench.Main", "run",
            args.workload, input_dir, str(args.seconds), str(args.trace), run_dir,
            result_path])
    # a run without a build must end within 180 s; leave room for the checks
    budget = RUN_LIMIT_S - (time.time() - built) - 15
    spawned = time.time()
    # no op starts in the JVM that could end after this (10 s for its exit)
    cmd.append(str(int((spawned + budget - 10) * 1000)))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(budget, 30))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM exceeded {budget:.0f} s; see {run_dir}/jvm.log")
    # what graft left in /tmp: per-op bytes were recorded by the JVM; the
    # leftovers go now so repeated runs do not fill the disk
    left = sorted(tmp_entries() - before_tmp)
    left_bytes = sum(tree_bytes(p) for p in left)
    for p in left:
        shutil.rmtree(p, ignore_errors=True)
    if rc != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM exited with {rc}; see {run_dir}/jvm.log")
    with open(result_path) as f:
        res = json.load(f)

    # correctness: each registry op's reference output against the oracle
    oracle = {}
    for op, query in sorted(res["registry_queries"].items()):
        want = oracle_digest(work, input_dir, oracle_sql[query])
        got = ref_digest(work, os.path.join(run_dir, "ref", op))
        oracle[op] = {"query": query, "match": got == want, "oracle": want, "reference": got}
    bad_ref = {op for op, o in oracle.items() if not o["match"]}

    ops = res["ops"]
    for o in ops:
        if o["op"] in bad_ref:
            o["ok"] = False
            o.setdefault("err", "reference output differs from the DuckDB oracle")
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])

    # spans: a traced op's children never cover more than the op itself
    spans_ok = True
    if args.trace:
        with open(os.path.join(run_dir, "spans.json")) as f:
            spans = json.load(f)
        dur = {s["id"]: s["end_ns"] - s["start_ns"] for s in spans}
        kids = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s["id"])
        spans_ok = all(sum(dur[c] for c in kids.get(s["id"], [])) <= dur[s["id"]]
                       for s in spans)

    # host speed: each op against the reference-job runs that bracket it
    # (an untraced run only)
    refs = res["host_ref_s"]
    for i, o in enumerate(ops):
        o["ref_s"] = (refs[i] + refs[i + 1]) / 2 if refs else None
        o["scaled_s"] = o["wall_s"] * REFERENCE_S / o["ref_s"] if refs and o["ok"] else None

    # cycle = one run of each op (plain ops only)
    plain = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]

    def cycles(rows, key="wall_s"):
        by = {}
        for o in rows:
            by.setdefault(o["cycle"], []).append(o)
        n_ops = len({o["op"] for o in rows})
        return [sum(o[key] for o in c) for c in by.values()
                if len(c) == n_ops and all(o["ok"] for o in c)]

    plain_cycles = cycles(plain)
    ok_plain = [o for o in plain if o["ok"]]
    per_op = {}
    for name in sorted({o["op"] for o in plain}):
        walls = [o["wall_s"] for o in ok_plain if o["op"] == name]
        per_op[name] = {"p50_s": median(walls), "tail": tail(walls), "samples": len(walls)}

    records = sum(o["records"] for o in ok_plain)
    setup_s = res["first_op_epoch_ms"] / 1000.0 - spawned
    e2e = {
        # set-up ends before the first reference run: scaled by the run's median
        "setup_s": ratio(setup_s * REFERENCE_S, median(refs)),
        "op.p50_s": median(cycles(plain, "scaled_s")) if refs else None,
        "records_per_s": ratio(records, sum(o["scaled_s"] for o in ok_plain)) if refs else None,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    raw = {
        "setup_s": setup_s,
        "op.p50_s": median(plain_cycles),
        "op.cpu_s": median(cycles(plain, "cpu_s")),
        "records_per_s": ratio(records, sum(o["wall_s"] for o in ok_plain)),
        "host_ref_s": median(refs),
    }
    if args.trace:
        layer = dict(res["layers"])
        missing = [m["name"] for m in spec["per_layer"]
                   if m["name"] not in layer and not m["name"].startswith("trace.")]
        if missing:
            fail(f"the benchmark JVM does not produce per-layer metrics {missing}")
        # tracing overhead: plain against traced cycles of the same ops
        plain_p50 = median(plain_cycles)
        traced_p50 = median(cycles(traced))
        layer["trace.plain_p50_s"] = plain_p50
        layer["trace.traced_p50_s"] = traced_p50
        overhead = ratio(traced_p50, plain_p50)
        layer["trace.overhead_frac"] = None if overhead is None else overhead - 1
        wanted = spec["per_layer"]
    else:
        layer = {}
        wanted = spec["end_to_end"]
    values = e2e if not args.trace else layer
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
               for m in wanted}
    # a metric without samples reads null, and the run is not correct
    complete = all(v["value"] is not None for v in metrics.values())
    correct = failed == 0 and not bad_ref and spans_ok and attempted > 0 and complete

    try:
        git_head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                  text=True).stdout.strip() or None
    except OSError:
        git_head = None
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "stamp": {"nproc": os.cpu_count(), "entry_load": entry_load, "git_head": git_head,
                  "source_digest": src_digest, "build_s": build_s,
                  "jvm_heap": JVM_HEAP, "loop": "closed, 1 client",
                  "input": props, "input_dir": os.path.relpath(input_dir, root)},
        "end_to_end": e2e, "end_to_end_raw": raw, "per_op": per_op, "layers": layer,
        "oracle": oracle,
        "spans_ok": spans_ok, "tmp_left_bytes": left_bytes, "tmp_left_paths": left,
        "ops": ops, "reference": res["reference"], "loop_s": res["loop_s"],
    }
    out_dir = os.path.join(work, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}_seed{args.seed}_trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, allow_nan=False)
    for o in ops:
        if not o["ok"]:
            print(f"perfbench: {o['op']} cycle {o['cycle']} failed: {o.get('err')}",
                  file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, allow_nan=False))


if __name__ == "__main__":
    main()
