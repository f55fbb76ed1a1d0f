#!/usr/bin/env python3
"""Benchmark of the hourly serve tick and the query registry.

Run from the root of a checkout:

    python3 etlbench/run.py --workload hourly_tick --seed 1 --seconds 20 --trace 0
    python3 etlbench/run.py --selftest

The first run compiles the engine (src/main/scala) and the benchmark's own
Scala sources with the Scala compiler shipped in the Spark distribution
into .bench_build/, then reuses that build while the sources are unchanged.
Every file a run writes lives under .bench_build/ or .bench_work/ in the
checkout; the work directory is removed when the run ends. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
See etlbench/README.md for the workloads, sizes and metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_home():
    """$SPARK_HOME, else the distribution holding spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return Path(submit).resolve().parent.parent if submit else Path("spark")


SPARK_JARS = spark_home() / "jars"
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
CHECK = ROOT / "tools" / "check.py"
HEAP = "4g"
# a run after the build must end within 180 s
RUN_LIMIT_S = 170.0

KEYS = [
    # ROADMAP direction 2: the most Spark jobs fired while the DataFrame is built
    "q_pagerank",
    # ROADMAP direction 3: per-row allocation in the text kernels
    "q_dsir_select",
    # a sketch key never profiled before
    "q_distinct_sketch",
    # ROADMAP direction 4: a storage key whose store build is memoized per dir
    "q_merge_upsert",
    # relational control group
    "q_join_sortmerge", "q_having",
]
SF = 0.1

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[etlbench] {msg}", file=sys.stderr, flush=True)


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    return max(1, min(4, n or 1))


# ---- build -----------------------------------------------------------------

def sources():
    src = ROOT / "src" / "main"
    if not src.is_dir():
        raise BenchError(f"no engine sources under {src}")
    files = sorted(p for p in src.rglob("*") if p.suffix in (".scala", ".java"))
    if not files:
        raise BenchError("no engine sources")
    if not SPARK_JARS.is_dir():
        raise BenchError(f"no Spark jars at {SPARK_JARS}")
    if not CHECK.is_file():
        raise BenchError(f"no oracle check at {CHECK}")
    return files, sorted((HERE / "src").glob("*.scala"))


def run_checked(cmd):
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if p.returncode != 0:
        tail = p.stdout.decode(errors="replace")[-4000:]
        raise BenchError(f"{cmd[0]} failed ({p.returncode}):\n{tail}")


def build():
    """Compile engine + benchmark once per source state; returns the dir."""
    eng, bench = sources()
    h = hashlib.sha256(str(ROOT).encode())
    for f in eng + bench:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / ("etlbench-" + h.hexdigest()[:16])
    if (out / "done").exists():
        return out
    if BUILD.exists():
        for old in BUILD.glob("etlbench-*"):
            shutil.rmtree(old, ignore_errors=True)
    classes, traced = out / "classes", out / "traced"
    classes.mkdir(parents=True)
    traced.mkdir()
    t = time.time()
    jars = f"{SPARK_JARS}/*"
    run_checked(["java", "-Xss16m", "-Xmx2g", "-cp", jars,
                 "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                 "-d", str(classes)] + [str(f) for f in eng + bench])
    run_checked(["java", "-cp", f"{classes}:{jars}", "etlbench.Instrument",
                 str(classes), str(traced), str(SPARK_JARS), str(WORK / "demo")])
    (out / "done").write_text(f"{time.time() - t:.1f}\n")
    log(f"built {out.name} in {time.time() - t:.1f}s")
    return out


# ---- registry data ---------------------------------------------------------

def gen_tables(seed: int, sf: float, out: Path):
    """TPC-H-like star schema plus events/documents/embeddings, shaped like
    the repo's test data (FIXTURES.md section A; time columns are
    timestamp[us] without a time zone, as the current fixture files carry
    them), from `seed`. Generated rather than copied so that the inputs
    follow --seed and a run reads no data from outside its checkout."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, int(sf * 1000)])
    out.mkdir(parents=True, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n) * np.timedelta64(1, "D")

    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["large", "small", "red", "blue", "green", "steel", "brass", "matte"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    ptypes = np.array(["LARGE", "SMALL", "MEDIUM", "ECONOMY", "STANDARD",
                       "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900 + (pk % 1000) * 0.1, 2)
    write("part", {
        "p_partkey": pk, "p_name": names[rng.integers(0, 64, n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price})
    odate = days("1995-01-01", 2404, n_ord)
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(per) - per, per) + 1)
    n_li = len(okey)
    lpart = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": okey, "l_partkey": lpart,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lnum.astype(np.int32), "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.repeat(odate, per) + rng.integers(
            1, 121, n_li) * np.timedelta64(1, "D"), pa.timestamp("us"))})
    n_ev = int(1000000 * sf)
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).cumsum().astype(np.int64)
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + gaps,
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, int(15000 * sf)), n_ev),
        "event_type": np.array(["signup", "purchase", "view", "click",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array("spark window merge table column vector stream value data "
                     "small join filter big group hash customer sort order slow "
                     "line part fast row the agg key query a scan batch".split())
    n_doc = max(500, int(50000 * sf))
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].removesuffix(" dup").split()
            if rng.random() < 0.5:
                src[int(rng.integers(0, len(src)))] = str(rng.choice(vocab))
            texts.append(" ".join(src) + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     rng.integers(10, 101))]))
    langs = np.array(["en", "en", "de", "fr", "es", "zh"])
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": langs[rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_emb = max(500, int(20000 * sf))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def check_registry(keys, data: Path, check_dir: Path):
    """Compare each key's warm-up result with its DuckDB oracle over the
    same tables, with the repo's oracle check (tools/check.py). Returns
    {key: reason} for every key that did not pass."""
    p = subprocess.run([sys.executable, str(CHECK), str(data), str(check_dir)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    status = {}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL", "ROWS", "EMPTY"):
            status[rest.strip().split(":")[0]] = line.strip()
    if p.returncode not in (0, 1):
        raise BenchError(f"{CHECK.name} exited {p.returncode}:\n"
                         f"{p.stdout[-3000:]}")
    return {k: status.get(k, "not checked") for k in keys
            if not status.get(k, "").startswith("PASS")}


# ---- one run ---------------------------------------------------------------

def java_cmd(build_dir: Path, work: Path, traced: bool, main_args):
    cp = [str(build_dir / "classes"), f"{SPARK_JARS}/*"]
    if traced:
        cp.insert(0, str(build_dir / "traced"))
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m"] + opens +
            [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
             "-cp", ":".join(cp), "etlbench.Main"] + main_args)


def run_jvm(cmd, work: Path, deadline: float):
    log_path = work / "jvm.log"
    with open(log_path, "wb") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            tail = log_path.read_bytes().decode(errors="replace")[-3000:]
            raise BenchError(f"JVM exceeded the run time limit:\n{tail}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        tail = log_path.read_bytes().decode(errors="replace")[-3000:]
        raise BenchError(f"JVM exited {p.returncode}:\n{tail}")


def run_once(workload, seed, seconds, trace, extra=None, work_name=None,
             sf=SF):
    """One benchmark run; returns the JVM's result object plus python-side
    set-up and check results."""
    extra = extra or {}
    build_dir = build()
    deadline = time.time() + RUN_LIMIT_S
    work = WORK / (work_name or f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        opts = {"seed": str(seed), "work": str(work), "out": str(work / "out.json"),
                "cores": str(cores()), "trace": "1" if trace else "0"}
        gen_s = 0.0
        if workload == "hourly_tick":
            opts["ops"] = str(max(2, round(seconds / 10)))
        elif workload == "registry":
            g = time.time()
            data = work / "data" / f"sf{sf}"
            gen_tables(seed, sf, data)
            gen_s = time.time() - g
            opts.update(data=str(data), keys=",".join(KEYS))
        else:
            raise BenchError(f"unknown workload {workload}")
        opts.update(extra)
        cmd = java_cmd(build_dir, work, trace,
                       [workload] + [f"{k}={v}" for k, v in opts.items()])
        run_jvm(cmd, work, deadline)
        res = json.loads((work / "out.json").read_text())
        res["gen_py_s"] = gen_s
        if workload == "registry":
            res["sizes"] = dict(keys=opts["keys"].split(","), sf=sf)
            bad = check_registry(res["sizes"]["keys"], data, work / "check")
            res["failed"] = sum(1 for op in res["keys"]
                                if not op["ok"] or op["key"] in bad)
            res["failures"] = res["failures"] + [f"{k}: {v}"
                                                 for k, v in bad.items()]
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def e2e_metrics(res):
    ops = res["op_s"]
    return {
        "setup_s": res["session_s"] + res["gen_py_s"] + res["setup_s"],
        "op_p50_s": statistics.median(ops),
        # p90, linear interpolation between order statistics
        "op_tail_s": statistics.quantiles(ops, n=10, method="inclusive")[-1]
        if len(ops) > 1 else ops[0],
        "op_geomean_s": statistics.geometric_mean(ops),
        "pass_s": res["pass_s"],
        "live_heap_mb": res["live_heap_mb"],
    }


def declared():
    """(end_to_end, per_layer) metric lists from BENCHMARK.json."""
    f = ROOT / "BENCHMARK.json"
    if not f.is_file():
        raise BenchError(f"{f} is missing")
    b = json.loads(f.read_text())
    return b["end_to_end"], b["per_layer"]


def pick(values, decl):
    """{name: {value, unit}} for every declared metric, in declared order."""
    missing = [m["name"] for m in decl if m["name"] not in values]
    if missing:
        raise BenchError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in decl}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        if a.selftest:
            from selftest import selftest
            sys.exit(selftest(run_once))
        if not a.workload:
            raise BenchError("--workload is required")
        e2e, per_layer = declared()
        res = run_once(a.workload, a.seed, a.seconds, bool(a.trace))
        metrics = pick(res["layers"], per_layer) if a.trace \
            else pick(e2e_metrics(res), e2e)
    except BenchError as e:
        log(str(e))
        sys.exit(2)
    for f in res.get("failures", [])[:20]:
        log(f"failure: {f}")
    detail = {k: res.get(k) for k in ("workload", "sizes", "setup_parts",
                                      "session_s", "gen_py_s", "op_s", "counts",
                                      "keys", "cores", "heap_max_mb")}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
