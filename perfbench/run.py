#!/usr/bin/env python3
"""Copy-and-query benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload copy_lineitem_heap --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source (sbt, offline, once per
source tree), generates the workload's inputs from the seed (cached under
``.perfbench_cache``), runs one measuring JVM (``perfbench.Main``) in a
scratch directory inside the checkout, checks every output, removes
everything it made except the input cache, and prints the run record
followed, as the last line, by the result:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. See perfbench/README.md for what each metric means.
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
sys.path.insert(0, HERE)

WORKLOADS = ("copy_lineitem_heap", "copy_catalog_all")
# input sets: kind -> generator arguments
CATALOG = {"sf": 0.1}       # all ten tables; 600k lineitem rows, 150k orders
SMALL = {"sf": 0.01}        # all ten tables; 60k lineitem rows (the traced query pass)
LINEITEM = {"rows": 600_000, "files_per_year": 2}  # partitioned lineitem directory
CACHE_KEEP = 8              # input sets kept in the cache
TOTAL_LIMIT_S = 175         # whole run, build excepted
BUILD_LIMIT_S = 800


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


class Fail(Exception):
    pass


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    picks = []
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(root, base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            picks += [os.path.join(d, f) for f in files]
    picks += [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench/build.sbt")]
    for p in sorted(picks):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    launch = os.path.join(out, "launch.txt")
    stamp_file = os.path.join(out, "stamp")
    if (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp
            and all(os.path.exists(p) for p in read_launch(launch)[0].split(":"))):
        return stamp, launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            f"-Dperfbench.launch={launch}", "compile", "benchLaunch"],
                           cwd=os.path.join(root, "perfbench"), env=env, stdout=lf,
                           stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.exists(launch):
        raise Fail(f"build failed (see {out}/build.log)")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return stamp, launch


def read_launch(path):
    cp, opts, cur = [], [], None
    for line in open(path).read().splitlines():
        if line in ("[classpath]", "[javaOptions]"):
            cur = cp if line == "[classpath]" else opts
        elif line:
            cur.append(line)
    return ":".join(cp), opts


# ---------------------------------------------------------------- inputs

def input_set(root, kind, params, seed):
    """Generated input set for (kind, params, seed), built once and then
    reused."""
    import gen
    cache = os.path.join(root, ".perfbench_cache")
    os.makedirs(cache, exist_ok=True)
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    path = os.path.join(cache, f"{kind}-{tag}-s{seed}")
    fresh = not os.path.exists(os.path.join(path, "manifest.json"))
    if fresh:
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(kind, seed, tmp, **params)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    os.utime(path)
    sets = sorted((os.path.join(cache, d) for d in os.listdir(cache)), key=os.path.getmtime)
    for old in sets[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return path, json.load(open(os.path.join(path, "manifest.json"))), fresh


# ---------------------------------------------------------------- host

def heap_size():
    """-Xmx as the engine's test setup derives it: half of MemTotal in
    GiB, clamped to 2..8 GiB."""
    kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g", kb


def cpu_model():
    for line in open("/proc/cpuinfo"):
        if line.startswith("model name"):
            return line.split(":", 1)[1].strip()
    return "unknown"


def fs_type(path):
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    for line in open("/proc/mounts"):
        parts = line.split()
        if len(parts) > 2 and (path == parts[1] or path.startswith(parts[1].rstrip("/") + "/")):
            if len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    return kind


def commit(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return None  # an exported checkout: the source stamp identifies it
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- checks

def _duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _scan(path):
    p = path.replace("'", "''")
    if os.path.isdir(path):
        return f"read_parquet('{p}/**/*.parquet')"
    return f"read_parquet('{p}')"


def content_hash(con, path):
    """Order-independent (columns, rows, hash folds) of one parquet table,
    timestamps as epoch microseconds and integers widened, so the source
    and the engine's destination compare whatever encodings they use."""
    rel = _scan(path)
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    exprs = []
    for name, typ, *_ in sorted(cols):
        q = '"' + name.replace('"', '""') + '"'
        if typ.startswith("TIMESTAMP"):
            exprs.append(f"epoch_us({q})")
        elif typ in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            exprs.append(f"CAST({q} AS BIGINT)")
        else:
            exprs.append(q)
    row = con.execute(
        f"SELECT count(*), bit_xor(h), sum(h & 4294967295) FROM "
        f"(SELECT hash({', '.join(exprs)}) AS h FROM {rel})").fetchone()
    return (tuple(sorted(c[0] for c in cols)),) + tuple(int(x or 0) for x in row)


def sorted_files(path, key):
    """Every committed data file of a clustered-rowstore destination must
    be sorted on its key."""
    import pyarrow.parquet as pq
    bad = []
    for d, _, files in os.walk(path):
        if any(part.startswith(("_", ".")) for part in os.path.relpath(d, path).split(os.sep) if part != "."):
            continue
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                v = pq.read_table(os.path.join(d, f), columns=[key]).column(0).to_pylist()
                if any(a > b for a, b in zip(v, v[1:])):
                    bad.append(f)
    return bad


def check_copies(rec, input_dir, work):
    """Destination of every file-sink operation against its source."""
    con = _duck()
    tables = rec["check"]["tables"]
    src = {t: content_hash(con, os.path.join(input_dir, f"{t}.parquet")) for t in set(tables)}
    failures = {}
    dest_bytes = []
    last = None
    for d in rec["check"]["file_dests"]:
        problems = []
        for t in set(tables):
            dest = os.path.join(d["dir"], f"{t}.parquet")
            if not os.path.isdir(dest):
                problems.append(f"{t}: no destination")
                continue
            if content_hash(con, dest) != src[t]:
                problems.append(f"{t}: content differs from source")
            if t == "customer" and len(tables) > 1:
                unsorted = sorted_files(dest, "c_custkey")
                if unsorted:
                    problems.append(f"customer: {len(unsorted)} files not sorted on c_custkey")
        if problems:
            failures[d["op"]] = "; ".join(problems)
        dest_bytes.append(sum(data_bytes(os.path.join(d["dir"], f"{t}.parquet")) for t in set(tables)))
        last = d["dir"]
    # self-test: a destination with one changed value must be caught
    caught = None
    if last is not None:
        caught = self_test(con, os.path.join(last, f"{tables[0]}.parquet"), src[tables[0]], work)
    return failures, caught, dest_bytes


def data_bytes(path):
    """Bytes of the committed parquet data files under a table path."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet") and not f.startswith(("_", ".")))
    return total


def self_test(con, dest, expected, work):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    bad = os.path.join(work, "selftest")
    shutil.copytree(dest, bad)
    victim = next(os.path.join(d, f) for d, _, fs in sorted(os.walk(bad)) for f in sorted(fs)
                  if f.endswith(".parquet") and not f.startswith(("_", "."))
                  and pq.ParquetFile(os.path.join(d, f)).metadata.num_rows > 0)
    t = pq.read_table(victim)
    i = next(j for j, f in enumerate(t.schema) if pa.types.is_integer(f.type))
    col = t.column(i)
    changed = pc.add(col, pa.scalar(1, col.type))
    pq.write_table(t.set_column(i, t.schema.field(i), changed), victim)
    caught = content_hash(con, bad) != expected
    shutil.rmtree(bad, ignore_errors=True)
    return caught


def _canon(df):
    import numpy as np
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
        elif s.dtype == object:
            df[c] = s.map(lambda v: tuple(np.asarray(v).round(6).tolist())
                          if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)


def _same(got, exp):
    import numpy as np
    import pandas as pd
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns) or len(g) != len(e):
        return False
    for c in g.columns:
        a, b = g[c], e[c]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            if not np.allclose(a.astype("float64"), b.astype("float64"), rtol=1e-9, atol=1e-9,
                               equal_nan=True):
                return False
        elif not a.astype(str).equals(b.astype(str)):
            return False
    return True


def check_queries(check, input_dir):
    """Each query result against its oracle SQL run on DuckDB over the
    same inputs (column names, row count, values after sorting)."""
    import pandas as pd
    con = _duck()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_scan(os.path.join(input_dir, t + '.parquet'))}")
    res = check["results_dir"]
    oracles = json.load(open(os.path.join(res, "oracle_sql.json")))
    failures = {}
    got_all = {}
    for key, sql in oracles.items():
        try:
            got = pd.read_parquet(os.path.join(res, key))
            got_all[key] = got
            if not _same(got, con.execute(sql).df()):
                failures[key] = "differs from oracle"
        except Exception as e:  # a missing or unreadable result is a failure
            failures[key] = f"{type(e).__name__}: {e}"
    # self-test: a result with one row dropped must be caught
    caught = None
    for key, got in got_all.items():
        if len(got) > 0:
            caught = not _same(got.iloc[1:], con.execute(oracles[key]).df())
            break
    return failures, caught


# ---------------------------------------------------------------- residue

def _entries(d):
    try:
        return set(os.listdir(d))
    except OSError:
        return set()


OUR_PREFIXES = ("graft_", "spark-", "blockmgr-", "perfbench", "derby", "hsperfdata")


def residue(root, before):
    """Names this run left behind: anything new at the checkout root other
    than the input cache and the build, and any engine or Spark scratch in
    the shared temp directories."""
    left = []
    for d, names in before.items():
        for n in sorted(_entries(d) - names):
            if d == root and n in (".perfbench_cache", ".bench_build", ".perfbench_work", "target"):
                continue
            if d == root or n.startswith(OUR_PREFIXES):
                left.append(os.path.join(d, n))
    work_root = os.path.join(root, ".perfbench_work")
    if os.path.isdir(work_root) and os.listdir(work_root):
        left += [os.path.join(work_root, n) for n in os.listdir(work_root)]
    return left


# ---------------------------------------------------------------- main

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no engine source here: run from the root of a graft checkout")
        return 2
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))

    stamp, launch = build(root)
    cp, jvm_opts = read_launch(launch)
    t_start = time.time()
    before = {d: _entries(d) for d in (root, "/tmp", "/dev/shm")}

    # the first set is the workload's source; the catalog workload's
    # traced run also traces the query layer on the small set
    needs = {"copy_lineitem_heap": [("lineitem", "lineitem", LINEITEM)],
             "copy_catalog_all": [("catalog", "catalog", CATALOG)]
             + ([("small", "catalog", SMALL)] if args.trace else [])}[args.workload]
    sets = {name: input_set(root, kind, params, args.seed) for name, kind, params in needs}
    source, manifest, _ = sets[needs[0][0]]
    small = sets.get("small", (None,))[0]
    src_tables = (["lineitem"] if args.workload == "copy_lineitem_heap"
                  else list(manifest["tables"]))
    src_mb = sum(manifest["tables"][t]["uncompressed_bytes"] for t in src_tables) / 1e6
    src_bytes = sum(manifest["tables"][t]["committed_bytes"] for t in src_tables)

    # scratch of an earlier run that was killed before it could clean up
    stale_root = os.path.join(root, ".perfbench_work")
    for n in _entries(stale_root):
        pid = n.removeprefix("run-")
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(stale_root, n), ignore_errors=True)
    work = os.path.join(stale_root, f"run-{os.getpid()}")
    for d in ("tmp", "scratch", "local", "qres"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    heap, mem_kb = heap_size()
    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(work, "record.json")
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"), SPARK_GRAFT_CPUS=str(cpus))
    cmd = (["java", f"-Xmx{heap}", "-XX:-UsePerfData"] + jvm_opts +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(cpus), "--source", source,
            "--small", small or "", "--work", work, "--out", out])
    jvm_log = os.path.join(work, "jvm.log")
    try:
        with open(jvm_log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=root, env=env, stdout=lf, stderr=subprocess.STDOUT)
            try:
                p.wait(timeout=max(10, TOTAL_LIMIT_S - 25 - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise Fail("measuring JVM exceeded its time limit")
        if p.returncode != 0 or not os.path.exists(out):
            raise Fail(f"measuring JVM exited {p.returncode}:\n" + open(jvm_log).read()[-4000:])
        rec = json.load(open(out))

        ops = rec["ops"]
        # operation number -> why it failed; an operation's number is its
        # index in the record
        failures = {i: o["note"] or "failed" for i, o in enumerate(ops) if not o["ok"]}
        bad, caught, dest_bytes = check_copies(rec, source, work)
        if rec.get("query_check"):
            qbad, qcaught = check_queries(rec["query_check"], small)
            caught = caught and qcaught
            if qbad:
                # the results checked are those of the query pass
                i = next(i for i, o in enumerate(ops) if o["kind"] == "query_pass")
                bad[i] = "; ".join(f"{k}: {v}" for k, v in qbad.items())
        for i, why in bad.items():
            failures[i] = (failures[i] + "; " if i in failures else "") + why
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_work"))
        except OSError:
            pass
    left = residue(root, before)

    timed = [o["seconds"] for o in ops if o["kind"] == "timed" and o["ok"]]
    traced = [o["seconds"] for o in ops if o["kind"] == "traced" and o["ok"]]
    warm = [o["seconds"] for o in ops if o["kind"] == "warmup"]
    op_s = median(timed)
    failed = len(failures)
    problems = [f"operation {i}: {why}" for i, why in sorted(failures.items())]
    if caught is not True:
        problems.append("self-test: a corrupted output was not caught")
    if rec["check"].get("timed_cache_hits", 0):
        problems.append("catalog cache hits in timed operations")
    if left:
        problems.append(f"residue: {left}")
    overhead = (median(traced) / op_s - 1) if traced else None
    bound = next(m["bound"] for m in bench["end_to_end"] if m["name"] == "op_s")
    if args.trace and (overhead is None or abs(overhead) > bound):
        problems.append(f"traced replay is not faithful: {overhead} vs bound {bound}")

    if args.trace:
        layer = dict(rec["per_layer"])
        layer["trace.overhead_s"] = median(traced) - op_s if traced else 0.0
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        e2e = {
            "op_s": op_s,
            "mb_per_s": src_mb / op_s,
            "first_op_s": warm[0] if warm else float("nan"),
            "first_setup_s": rec["setup_s"][0],
            "setup_s": median(rec["setup_s"]),
            "dest_bytes_ratio": median(dest_bytes) / src_bytes,
        }
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    mounts = {"inputs": fs_type(os.path.join(root, ".perfbench_cache")),
              "work": fs_type(root)}
    record = {
        "record": "perfbench",
        "commit": commit(root), "source_stamp": stamp, "seed": args.seed,
        "workload": args.workload, "trace": args.trace,
        "host": {"nproc": cpus, "master": rec["master"], "xmx": heap,
                 "max_heap_mb": rec["max_heap_mb"], "mem_total_kb": mem_kb,
                 "cpu_model": cpu_model()},
        "storage": {"sources": mounts["inputs"], "destinations": mounts["work"],
                    "sources_os_cache": "warm: generated" if any(s[2] for s in sets.values())
                    else "warm: reused from the input cache and read by the warm-up operation"},
        "inputs": {k: {"manifest_hash": v[1]["input_hash"], "tables": v[1]["tables"]}
                   for k, v in sets.items()},
        "source_mb_uncompressed": src_mb, "source_committed_bytes": src_bytes,
        "setup_s": rec["setup_s"], "measured_s": rec["measured_s"],
        "ops": [[o["kind"], o["seconds"], o["exit"], o["ok"], o["jit_ms"], o["gc_ms"]] for o in ops],
        # op_s is the median of these; with fewer than eleven samples no
        # tail percentile has ten samples beyond it, so none is reported
        "timed_samples": len(timed),
        "failed_frac": failed / max(1, len(ops)),
        "peak_rss_mb": rec["peak_rss_mb"],
        "tracing_overhead_frac": overhead,
        "spans": rec["spans"],
        # per query key of a traced pass: time, planning, job and driver split
        "ops_by_key": (rec.get("query_check") or {}).get("traced_by_key"),
        "problems": problems,
    }
    print(json.dumps(record))
    print(json.dumps({"correct": not problems, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Fail as e:
        log(str(e))
        sys.exit(1)
