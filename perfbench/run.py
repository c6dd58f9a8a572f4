#!/usr/bin/env python3
"""Benchmark of the flowbytespark engine: one workload, one run.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (sbt, offline); later runs reuse the build until a
source file changes. Each run gets a private run directory under
perfbench/.runs (stage root, warehouse copy, Spark scratch), deleted at
the end. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it is the
full record of the run (environment, sample counts, failures).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import decimal
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from datetime import datetime, timedelta

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.01")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORKLOADS = ["etl_mutations", "query_mix"]
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# ETL inputs: rows per batch with existing keys, new keys per cycle,
# keyed update rows per cycle (the reference's batch size, sql.py:225-228)
ETL_EXISTING, ETL_NEW, ETL_UPDATES = 1000, 1000, 1000

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, as sorted paths."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile the engine and the benchmark unless the last build saw the
    same sources; leaves the runtime classpath in target/classpath.txt."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building engine and benchmark (sbt)")
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", "writeClasspath"],
                          cwd=BENCH, env=env, stdout=sys.stderr,
                          stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.exit(f"[perfbench] build failed (sbt exit {proc.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


# ---------------------------------------------------------------- ETL inputs

def make_etl_inputs(out, seed, cycles):
    """Seeded batches for `cycles` load cycles, written with lineitem's own
    parquet schema, and cycles.tsv, the plan both the engine run and the
    model follow: per cycle its first new order key, the key range
    [lo, hi) it deletes (the previous cycle's new keys) and the rows it
    changes."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    table = pq.read_table(os.path.join(DATA, "lineitem.parquet"))
    schema = table.schema
    # (l_orderkey, l_linenumber) repeats in the data: sample keys, not rows,
    # so no batch carries one key twice (FlowEngine's update contract)
    rows = list({(r["l_orderkey"], r["l_linenumber"]): r
                 for r in table.to_pylist()}.values())
    base = pc.max(table["l_orderkey"]).as_py() + 1
    upd_schema = pa.schema([schema.field(c) for c in
                            ("l_orderkey", "l_linenumber", "l_quantity", "l_discount")])
    rng = random.Random(seed)
    day0 = datetime(1995, 1, 1)
    os.makedirs(out)
    plan = []
    for c in range(cycles):
        batch = []
        for i in rng.sample(range(len(rows)), ETL_EXISTING):
            r = dict(rows[i])
            r["l_quantity"] = float(rng.randint(1, 50))
            r["l_extendedprice"] = rng.randint(90000, 10000000) / 100
            r["l_discount"] = rng.randint(0, 10) / 100
            r["l_tax"] = rng.randint(0, 8) / 100
            r["l_returnflag"] = rng.choice("ANR")
            batch.append(r)
        lo = base + (c + 1) * ETL_NEW
        for j in range(ETL_NEW):
            batch.append({
                "l_orderkey": lo + j, "l_partkey": rng.randint(1, 2000),
                "l_suppkey": rng.randint(1, 100), "l_linenumber": 1,
                "l_quantity": float(rng.randint(1, 50)),
                "l_extendedprice": rng.randint(90000, 10000000) / 100,
                "l_discount": rng.randint(0, 10) / 100,
                "l_tax": rng.randint(0, 8) / 100,
                "l_returnflag": rng.choice("ANR"), "l_linestatus": rng.choice("FO"),
                "l_shipdate": day0 + timedelta(days=rng.randint(0, 2500))})
        pq.write_table(pa.Table.from_pylist(batch, schema=schema),
                       os.path.join(out, f"batch_{c}.parquet"))
        upd = [{"l_orderkey": rows[i]["l_orderkey"],
                "l_linenumber": rows[i]["l_linenumber"],
                "l_quantity": float(rng.randint(1, 50)),
                "l_discount": rng.randint(0, 10) / 100}
               for i in rng.sample(range(len(rows)), ETL_UPDATES)]
        pq.write_table(pa.Table.from_pylist(upd, schema=upd_schema),
                       os.path.join(out, f"upd_{c}.parquet"))
        # staged batch + merged existing rows + inserted + updated + deleted
        changed = len(batch) + ETL_EXISTING + ETL_NEW + ETL_UPDATES + ETL_NEW
        plan.append(f"{c}\t{lo}\t{lo - ETL_NEW}\t{lo}\t{changed}\n")
    with open(os.path.join(out, "cycles.tsv"), "w") as fh:
        fh.writelines(plan)


def read_plan(inputs):
    """cycles.tsv as {cycle: (first new key, delete lo, delete hi)}."""
    with open(os.path.join(inputs, "cycles.tsv")) as fh:
        return {int(f[0]): tuple(int(x) for x in f[1:4])
                for f in (l.split("\t") for l in fh if l.strip())}


NON_KEY = ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
           "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]


def check_etl(checks, inputs):
    """Replay every recorded cycle in DuckDB, with the run's own extract
    and checksum SQL; returns one failure per cycle that disagrees."""
    import duckdb
    plan = read_plan(inputs)
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("CREATE TABLE lineitem AS SELECT * FROM read_parquet(?)",
                [os.path.join(DATA, "lineitem.parquet")])
    bad = []
    for rec in sorted(checks["cycles"], key=lambda r: r["cycle"]):
        c = rec["cycle"]
        lo, del_lo, del_hi = plan[c]
        want = [[f, s, str(n), decimal.Decimal(q)] for f, s, n, q
                in con.execute(checks["extract_sql"]).fetchall()]
        got = [[f, s, n, decimal.Decimal(q)] for f, s, n, q in rec["extract"]]
        wrong = [] if got == want else ["getData extract differs from the model"]
        con.execute("CREATE OR REPLACE TEMP TABLE b AS SELECT * FROM read_parquet(?)",
                    [os.path.join(inputs, f"batch_{c}.parquet")])
        sets = ", ".join(f"{col} = b.{col}" for col in NON_KEY)
        con.execute(f"""UPDATE lineitem SET {sets} FROM b
            WHERE b.l_orderkey < {lo} AND lineitem.l_orderkey = b.l_orderkey
              AND lineitem.l_linenumber = b.l_linenumber""")
        con.execute(f"INSERT INTO lineitem SELECT * FROM b WHERE l_orderkey >= {lo}")
        con.execute("CREATE OR REPLACE TEMP TABLE u AS SELECT * FROM read_parquet(?)",
                    [os.path.join(inputs, f"upd_{c}.parquet")])
        con.execute("""UPDATE lineitem SET l_quantity = u.l_quantity,
            l_discount = u.l_discount FROM u
            WHERE lineitem.l_orderkey = u.l_orderkey
              AND lineitem.l_linenumber = u.l_linenumber""")
        con.execute(f"DELETE FROM lineitem WHERE l_orderkey >= {del_lo} "
                    f"AND l_orderkey < {del_hi}")
        n, chk = con.execute(checks["checksum_sql"]).fetchone()
        if (n, chk) != (rec["n"], rec["chk"]):
            wrong.append(f"lineitem (rows, checksum) = ({rec['n']}, {rec['chk']}), "
                         f"model ({n}, {chk})")
        if wrong:
            bad.append(f"cycle {c}: " + "; ".join(wrong))
    con.close()
    return bad


# ---------------------------------------------------------------- one run

def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def run_jvm(args, run_dir, deadline):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dgraft.stages.dir={os.path.join(run_dir, 'stages')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + [str(a) for a in args]
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "stages"))
    err_path = os.path.join(run_dir, "jvm.err")
    with open(err_path, "w") as err, open(os.path.join(run_dir, "jvm.out"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=err,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM/SIGINT: the JVM runs in its own session
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(err_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"[perfbench] JVM run failed ({rc})")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def run_workload(workload, seed, seconds, trace, keep):
    started = time.time()
    load_avg = os.getloadavg()[0]
    steal0, total0 = cpu_times()
    run_dir = os.path.join(BENCH, ".runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = [workload, seed, seconds, trace, DATA, run_dir]
        inputs = None
        if workload == "etl_mutations":
            inputs = os.path.join(run_dir, "etl_inputs")
            # 2 warm-up and at least 5 timed cycles, then enough for
            # cycles as short as 0.5 s
            make_etl_inputs(inputs, seed, 7 + int(seconds * 2))
            args.append(inputs)
        res = run_jvm(args, run_dir, started + RUN_TIMEOUT_S)
        failures = list(res["failures"])
        if inputs:
            with open(os.path.join(run_dir, "etl_checks.json")) as fh:
                failures += check_etl(json.load(fh), inputs)
        if keep:
            os.makedirs(keep, exist_ok=True)
            for f in ("result.json", "spans.json", "etl_checks.json"):
                if os.path.exists(os.path.join(run_dir, f)):
                    shutil.copy(os.path.join(run_dir, f),
                                os.path.join(keep, f"{workload}-{f}"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = cpu_times()
    res["failures"] = failures
    res["detail"]["load_avg_1m_before"] = load_avg
    # the share of CPU time the hypervisor gave to other machines
    res["detail"]["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    res["detail"]["heap"] = HEAP
    res["detail"]["wall_s"] = time.time() - started
    return res


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", help="copy result/spans JSON of the run here")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("[perfbench] no engine sources next to perfbench/; "
                 "run from the root of a flowbytespark checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    build()

    correct, attempted, failed, metrics = True, 0, 0, {}
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    for w in workloads:
        res = run_workload(w, a.seed, a.seconds, a.trace, a.keep)
        got = res["per_layer"] if a.trace else res["metrics"]
        record = {"workload": w, "seed": a.seed, "trace": a.trace,
                  "failures": res["failures"], "detail": res["detail"],
                  "metrics": res["metrics"]}
        print(json.dumps(record), flush=True)
        for m in spec["end_to_end"]:
            print(f"  {w} {m['name']} = {res['metrics'][m['name']]:.6g} {m['unit']}")
        prefix = f"{w}." if len(workloads) > 1 else ""
        for m in wanted:
            if got.get(m["name"]) is None:
                sys.exit(f"[perfbench] run reported no value for {m['name']}")
            metrics[prefix + m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        attempted += res["attempted"]
        failed += len(res["failures"])
        correct = correct and not res["failures"]
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
