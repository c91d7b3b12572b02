#!/usr/bin/env python3
"""graft's benchmark: the `ops`, `vault` and `events_stream` workloads.

    python3 perfbench/run.py --workload ops --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source with sbt when the sources
changed since the last build, writes the seeded inputs into a fresh work
dir under perfbench/work, runs the workload in a fresh JVM, checks its
outputs, deletes the work dir, and prints one JSON object as the last line
of stdout. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics of a traced run. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

WORKLOADS = ("ops", "vault", "events_stream")
SF = 0.01               # scale factor of the generated source tables
VAULT_SEGMENTS = 2      # micro-batch segments, compaction between them
VAULT_BATCHES = 1       # micro-batches per segment
VAULT_BATCH_ROWS = (60, 30, 30)   # new keys, changed rows, redelivered rows
EVENT_BATCHES = 3       # micro-batches per streaming query
EVENT_REDELIVERED = 5   # duplicates of the previous batch's last hour
JVM_TIMEOUT_S = 160
JVM_HEAP = "3g"

# Compared metrics: the timed calls' summed latency (cold phase included)
# and the steady-state rate. Medians and tails over a run's 6-20 samples
# swing too much from run to run to gate on; they are on the detail line.
END_TO_END = [("setup_s", "s"), ("latency_s", "s"), ("per_s", "1/s")]
PER_LAYER = [
    ("session.start_s", "s"), ("queries.construct_s", "s"), ("queries.action_s", "s"),
    ("queries.jobs_per_op", "count"), ("memo.builds", "count"), ("memo.build_s", "s"),
    ("dv.classify_s", "s"), ("dv.go.rows", "count"), ("dv.go.files", "count"),
    ("dv.go.bytes", "bytes"), ("dv.reload.rows_offered", "count"),
    ("dv.reload.rows_appended", "count"), ("dv.batch.files_per_object", "count"),
    ("dv.compact_s", "s"), ("dv.compact.files_before", "count"),
    ("dv.compact.files_after", "count"), ("dv.compact.bytes_rewritten", "bytes"),
    ("streaming.add_batch_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.planning_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mem_bytes", "bytes"), ("streaming.state_commit_s", "s"),
    ("planning.s", "s"), ("scheduling.jobs", "count"), ("scheduling.stages", "count"),
    ("scheduling.tasks", "count"), ("compute.task_s", "s"), ("compute.cpu_s", "s"),
    ("compute.busy_ratio", "ratio"), ("scan.bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("spill.bytes", "bytes"), ("write.bytes", "bytes"),
    ("write.files", "count"), ("gc.s", "s"), ("trace.overhead_s", "s"),
    ("trace.callback_s", "s"),
]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# ---------------------------------------------------------------- statistics

def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    if not s:
        return None
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n) or None when there are too few samples.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    i = n - 1 - beyond
    return s[i], 100.0 * i / (n - 1), n


# ---------------------------------------------------------------- build

def _stamp():
    h = hashlib.sha256()
    files = []
    for base in (ROOT, BENCH):
        for pat in ("build.sbt", "project/*.properties", "project/*.sbt",
                    "src/main/**/*.scala", "src/main/**/*.java"):
            files += glob.glob(os.path.join(base, pat), recursive=True)
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile graft and the benchmark when their sources changed; return
    the runtime classpath."""
    out = os.path.join(BENCH, "target", "perfbench-classpath.json")
    stamp = _stamp()
    if os.path.exists(out):
        with open(out) as fh:
            got = json.load(fh)
        if got.get("stamp") == stamp:
            return got["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
            opts.append("-Dsbt.override.build.repos=true")
        env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if not ln.startswith("[") and ".jar" in ln]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


# ---------------------------------------------------------------- inputs

def write_vault_inputs(work, tabs, rng):
    """Delta source for the reload and customer micro-batches for the
    pipeline, with manifests of how many rows of each kind they carry."""
    delta = os.path.join(work, "delta")
    os.makedirs(delta)
    man = {"tables": {}, "rows_offered": 0}
    changed_col = {"customer": "c_acctbal", "part": "p_retailprice"}
    key = {"customer": "c_custkey", "part": "p_partkey"}
    for t in ("customer", "part", "orders", "lineitem"):
        base = tabs[t]
        n = base.num_rows
        pick = rng.permutation(n)
        unchanged = base.take(pick[: n // 20])
        if t in changed_col:
            n_new, n_chg = n // 25, n // 25
            chg = base.take(pick[n // 20: n // 20 + n_chg])
            c = changed_col[t]
            chg = chg.set_column(chg.schema.get_field_index(c), c,
                                 pa.array(np.round(chg[c].to_numpy() + 1.0, 2)))
            new = base.take(pick[-n_new:])
            k = key[t]
            new = new.set_column(new.schema.get_field_index(k), k,
                                 pa.array(np.arange(n_new, dtype=np.int64) + 10 * n + 1_000_000))
            out = pa.concat_tables([unchanged, chg, new])
            man["tables"][t] = {"new": n_new, "changed": n_chg, "changed_cols": [c]}
        else:
            out = unchanged
            man["tables"][t] = {"new": 0, "changed": 0, "changed_cols": []}
        man["rows_offered"] += out.num_rows
        pq.write_table(out, os.path.join(delta, f"{t}.parquet"))
    with open(os.path.join(delta, "manifest.json"), "w") as fh:
        json.dump(man, fh)

    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    cust = tabs["customer"]
    n = cust.num_rows
    n_new, n_chg, n_dup = VAULT_BATCH_ROWS
    segments, prev, b = [], cust.take(rng.permutation(n)[:n_dup]), 0
    for _ in range(VAULT_SEGMENTS):
        seg = []
        for _ in range(VAULT_BATCHES):
            new = cust.take(rng.permutation(n)[:n_new])
            new = new.set_column(0, "c_custkey", pa.array(
                np.arange(n_new, dtype=np.int64) + 20 * n + 2_000_000 + b * 10_000))
            chg = cust.take(rng.permutation(n)[:n_chg])
            chg = chg.set_column(3, "c_acctbal",
                                 pa.array(np.round(chg["c_acctbal"].to_numpy() + 2.0 + b, 2)))
            # exact redeliveries of rows an earlier batch (or the base) carried
            dup = prev.take(rng.permutation(prev.num_rows)[:n_dup])
            batch = pa.concat_tables([new, chg, dup])
            batch = batch.take(rng.permutation(batch.num_rows))
            name = f"b{b:03d}.parquet"
            pq.write_table(batch, os.path.join(feed, name))
            seg.append({"file": name, "rows": batch.num_rows, "new": n_new,
                        "changed": n_chg, "changed_cols": ["c_acctbal"]})
            prev, b = batch, b + 1
        segments.append(seg)
    with open(os.path.join(feed, "manifest.json"), "w") as fh:
        json.dump({"segments": segments}, fh)


def write_event_inputs(work, tabs, rng):
    """The events in time order, cut at seeded split points into one file
    per micro-batch: `clean` as is, `raw` with redelivered duplicates of
    the previous batch's last hour."""
    ev = tabs["events"]
    n = ev.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), EVENT_BATCHES - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    ts = ev["ts"].cast(pa.int64()).to_numpy()
    for kind in ("clean", "raw"):
        os.makedirs(os.path.join(work, "feed", kind))
    for i in range(EVENT_BATCHES):
        part = ev.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(work, "feed", "clean", f"b{i:03d}.parquet"))
        if i > 0:
            lo, hi = bounds[i - 1], bounds[i]
            recent = np.nonzero(ts[lo:hi] >= ts[hi - 1] - 3_600_000_000)[0] + lo
            dup = ev.take(rng.choice(recent, min(EVENT_REDELIVERED, len(recent)), replace=False))
            part = pa.concat_tables([part, dup])
        pq.write_table(part, os.path.join(work, "feed", "raw", f"b{i:03d}.parquet"))


# ---------------------------------------------------------------- JVM

def run_jvm(cp, args, work, log):
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -1
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def duck(data):
    import duckdb
    con = duckdb.connect()
    for t in gen.NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def hub_failures(data, hubs):
    """Each hub must hold the distinct keys of all its sources plus 2 ghost rows."""
    con = duck(data)
    out = []
    for h in hubs:
        parts = []
        for src in h["sources"]:
            cols = ", ".join(f"CAST({c} AS VARCHAR) AS k{i}" for i, c in enumerate(src["columns"]))
            parts.append(f"SELECT {cols} FROM {src['table']}")
        n = len(h["sources"][0]["columns"])
        keys = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT * FROM ({' UNION ALL '.join(parts)}) "
            f"WHERE {' AND '.join(f'k{i} IS NOT NULL' for i in range(n))})").fetchone()[0]
        if int(h["rows"]) != keys + 2:
            out.append({"op": f"go:{h['hub']}", "class": "WrongResult",
                        "message": f"{int(h['rows'])} rows, expected {keys} keys + 2 ghosts"})
    return out


def oracle_counts(data, names):
    """Row counts of the DuckDB oracle SQL of each operator."""
    con = duck(data)
    out = {}
    for name, sql in names.items():
        try:
            out[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except Exception as e:  # an oracle that fails is reported, not skipped
            out[name] = e
    return out


# ---------------------------------------------------------------- metrics

def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(w, rec):
    s, v = rec["samples"], rec["values"]
    m = {"setup_s": rec["setup_s"]}
    detail = {}
    if w == "ops":
        reps = {k[7:]: _median(x) for k, x in s.items() if k.startswith("repeat|")}
        first = {k[6:]: x[0] for k, x in s.items() if k.startswith("first|")}
        lat = list(reps.values())
        m.update(latency_s=sum(first.values()) + sum(lat), per_s=len(lat) / sum(lat) if lat else None)
        detail.update(suite_first_s=sum(first.values()), suite_s=sum(lat), op_p50_s=_median(lat),
                      op_p90_s=percentile(lat, 90), n_ops=len(lat),
                      repeat_passes=v.get("repeat_passes"), per_op_repeat_s=reps)
    elif w == "vault":
        b = s.get("batch_s", [])
        t = tail(b)
        ingest = v["rows_offered"] / (v["stream_s"] + v["dv.compact_s"])
        m.update(latency_s=v["go_s"] + v["reload_s"], per_s=ingest)
        detail.update(go_s=v.get("go_s"), reload_s=v.get("reload_s"), batch_p50_s=_median(b),
                      batch_p90_s=percentile(b, 90),
                      batch_tail_s=t and {"value": t[0], "percentile": round(t[1], 1),
                                          "samples": t[2], "beyond": 10},
                      batches=len(b),
                      ingest_rows_per_s=ingest,
                      vault_bytes_per_src_byte=v["dv.go.bytes"] / v["src_bytes"],
                      dv_classify_s=v.get("dv.classify_s"))
    else:
        b = s.get("batch_s", []) + s.get("first_batch_s", [])
        m.update(latency_s=sum(b), per_s=v["input_rows"] / v["stream_wall_s"])
        detail.update(first_batches_s=sum(s.get("first_batch_s", [])), stream_batch_p50_s=_median(b),
                      stream_batch_p90_s=percentile(b, 90),
                      stream_events_per_s=m["per_s"], batches=len(b))
    return m, detail


def per_layer(w, rec):
    s, v = rec["samples"], rec["values"]
    out = {k: 0.0 for k, _ in PER_LAYER}
    for k in out:
        if k in v:
            out[k] = v[k]
    out["gc.s"] = v.get("gc_s", 0.0)
    if w == "ops":
        passes = max(1, len(s.get("pass_traced_s", [])))
        out["queries.construct_s"] = v.get("repeat.construct_s", 0.0) / passes
        out["queries.action_s"] = v.get("repeat.action_s", 0.0) / passes
        traced, plain = s.get("pass_traced_s", []), s.get("pass_plain_s", [])
        if traced and plain:
            out["trace.overhead_s"] = _median(traced) - _median(plain)
    else:
        out["trace.overhead_s"] = v.get("trace.callback_s", 0.0)
    if "dv.batch.files_per_object" in s:
        out["dv.batch.files_per_object"] = max(s["dv.batch.files_per_object"])
    return out


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale factor of the generated tables")
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = a.workload
    cp = classpath()
    work = os.path.join(BENCH, "work", f"{w}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(a, w, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, w, cp, work):
    sf = a.sf
    rng = np.random.default_rng(a.seed)
    data = os.path.join(work, "data")
    tabs = gen.tables(sf, a.seed)
    gen.write(data, tabs)
    if w == "vault":
        write_vault_inputs(work, tabs, rng)
    elif w == "events_stream":
        write_event_inputs(work, tabs, rng)

    jw = os.path.join(work, "jvm")
    out, log = os.path.join(jw, "record.json"), os.path.join(work, "jvm.log")
    args = ["--workload", w, "--data", data, "--work", jw, "--inputs", work, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out]
    code = run_jvm(cp, args, jw, log)
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            lines = [ln for ln in fh if ln.startswith("[perfbench") or
                     ("Exception" in ln or "Error" in ln) and not ln[:1].isspace()]
        sys.stderr.write("".join(lines[-40:]))
        raise SystemExit(f"perfbench: the JVM exited with {code}")
    with open(out) as fh:
        rec = json.load(fh)

    failures = list(rec["failures"])
    attempted = int(rec["attempted"])
    if w == "ops":
        want = oracle_counts(data, rec["oracle"])
        for name, got in rec["counts"].items():
            exp = want.get(name)
            attempted += 1
            if isinstance(exp, Exception):
                failures.append({"op": f"oracle:{name}", "class": type(exp).__name__,
                                 "message": str(exp).splitlines()[0]})
            elif exp is None or int(got) != int(exp):
                failures.append({"op": name, "class": "WrongResult",
                                 "message": f"{int(got)} rows, oracle has {exp}"})
    if rec["hubs"]:
        attempted += len(rec["hubs"])
        failures += hub_failures(data, rec["hubs"])
    failed = min(len(failures), attempted)

    if a.trace:
        os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
        with open(os.path.join(BENCH, "results", f"{w}-{a.seed}-spans.json"), "w") as fh:
            json.dump(rec["spans"], fh, indent=1, sort_keys=True)
        metrics = per_layer(w, rec)
        units = dict(PER_LAYER)
    else:
        metrics, detail = end_to_end(w, rec)
        units = dict(END_TO_END)
        detail["failed_share"] = failed / max(1, attempted)
        print(json.dumps({"workload": w, "seed": a.seed, "sf": sf, "detail": detail}))
    if failures:
        print(json.dumps({"workload": w, "seed": a.seed, "failures": failures}))
    ok = not failures and all(v is not None for v in metrics.values())
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": (v if v is not None else 0.0), "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
