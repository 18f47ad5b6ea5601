#!/usr/bin/env python3
"""Seeded benchmark of the graft validation engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script
  1. builds the engine plus the harness in perfbench/ with sbt (once per
     source tree; the build lands in .bench_build/),
  2. generates the workload's input from --seed with numpy/pyarrow and
     caches it as parquet together with its plant plan (the expected
     results),
  3. runs the harness JVM (perfbench.Main) at local[4], which calls the
     engine's public functions, checks every pass against the plan and
     writes its raw measurements,
  4. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
     --trace 0 gives the end-to-end metrics, --trace 1 the per-layer ones.

Workloads (why each exists: perfbench/README.md):
  token_audit      AuditCli-style audit of a 16-file token table, ~0.1% of rows fail
  schema_validate  ValidateCli path over ONE parquet file, ~25% of rows fail
  dedup_chain      MinHash pairs + star connected components over edit-chain groups
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

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T_START = time.monotonic()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
HEAP = "3g"
RUN_LIMIT_S = 175  # a run must end within 180 s once the build exists

WORKLOADS = ("token_audit", "schema_validate", "dedup_chain")

# Input sizes. Each keeps the property its workload is defined by; see
# perfbench/README.md.
TA_ROWS, TA_FILES, TA_MAXLEN, TA_PLANT_EVERY = 25_000, 16, 256, 5_000
SV_ROWS = 16_000
DD_DOCS, DD_FILES, DD_GROUPED = 30_000, 8, 0.30
VOCAB = 50257


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    trees = [ROOT / "src" / "main", BENCH / "src"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for t in trees:
        files += sorted(p for p in t.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness; returns the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    digest = source_digest()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, timeout=800).returncode
    lines = [l for l in log.read_text().splitlines() if l.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (sbt exit {rc}); log in {log}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(digest)
    return cp


# ----------------------------------------------------------- generators

def _list_array(lengths, values):
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _write_split(table, out_dir, n_files):
    """One file per slice, one row group per file."""
    n = table.num_rows
    for f in range(n_files):
        lo, hi = n * f // n_files, n * (f + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), out_dir / f"part-{f:05d}.parquet",
                       row_group_size=max(1, hi - lo))


def gen_token_audit(rng, out):
    """AuditCli's token table, written as a 16-file directory. ~0.1% of rows
    fail exactly one row rule; duplicate ids and unregistered sources are
    planted on rows that pass every row rule; 70% of rows are on one source."""
    n = TA_ROWS
    lens = rng.integers(1, TA_MAXLEN + 1, n)
    values = rng.integers(0, VOCAB, int(lens.sum()), dtype=np.int32)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    ids = np.array([f"doc-{i:012d}" for i in range(n)], dtype=object)
    n_tok = lens.astype(np.int32)
    sources = np.where(rng.random(n) < 0.7, "web-common",
                       np.char.mod("src-%04d", rng.integers(0, 1000, n))).astype(object)

    k = n // TA_PLANT_EVERY  # rows per planted class
    picked = rng.permutation(n)
    cls = {name: picked[i * k:(i + 1) * k] for i, name in enumerate(
        ["invariant", "token_min", "token_max", "bad_id", "null_source", "dup", "dup_target", "unregistered"])}
    for i in cls["invariant"]:
        n_tok[i] = lens[i] + 1 if lens[i] < TA_MAXLEN else lens[i] - 1
    values[starts[cls["token_min"]]] = -1
    values[starts[cls["token_max"]]] = VOCAB
    for i in cls["bad_id"]:
        ids[i] = f"BAD_{i}"
    sources[cls["null_source"]] = None
    ids[cls["dup"]] = ids[cls["dup_target"]]
    for i in cls["unregistered"]:
        sources[i] = f"unregistered-src-{i}"

    table = pa.table({
        "doc_id": pa.array(ids, pa.string()),
        "tokens": _list_array(lens, values),
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array(sources, pa.string()),
    })
    (out / "facts").mkdir()
    _write_split(table, out / "facts", TA_FILES)
    dim = ["web-common"] + [f"src-{i:04d}" for i in range(1000)]
    pq.write_table(pa.table({"source": pa.array(dim, pa.string())}), out / "allowed_sources.parquet")
    return {
        "rows": n,
        "rule_counts": {"/|n_tok_invariant": k, "/tokens/0|minimum": k, "/tokens/0|maximum": k,
                        "/doc_id|pattern": k, "/source|required": k},
        "failing_rows": 5 * k,
        "dup_keys": k,
        "ref_violations": k,
    }


# schema_validate records: one defect per failing row,
# each defect firing exactly one (path, rule_id) of perfbench/packs/records.json
DEFECTS = [
    ("/email|format", "email", lambda i: f"user{i}.example.com"),
    ("/email|required", "email", lambda i: None),
    ("/created_at|format", "created_at", lambda i: f"2024-02-{30 + i % 2}T10:00:00Z"),
    ("/status|enum", "status", lambda i: "archived"),
    ("/rec_id|pattern", "rec_id", lambda i: f"REC{i}"),
    ("/score|maximum", "score", lambda i: 1001 + i % 50),
    ("/tags|uniqueItems", "tags", lambda i: ["alpha", "beta", "alpha"]),
    ("/tags|maxItems", "tags", lambda i: TAGS[:9]),
    ("/tags/0|pattern", "tags", lambda i: ["Bad-Tag", "beta"]),
    ("/address/zip|pattern", "address", lambda i: {"city": "Oslo", "zip": "12ab"}),
    ("/address/city|required", "address", lambda i: {"city": None, "zip": "01234"}),
]
TAGS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota", "kappa"]
STATUS = ["active", "pending", "closed"]


def gen_schema_validate(rng, out):
    """ValidateCli input: ONE parquet file with one row group (so the scan is
    one task today); ~25% of rows fail exactly one rule."""
    n = SV_ROWS
    cols = {c: [] for c in ("rec_id", "email", "created_at", "status", "score", "tags", "address")}
    failed = rng.random(n) < 0.25
    which = rng.integers(0, len(DEFECTS), n)
    counts = {}
    for i in range(n):
        r = {
            "rec_id": f"rec-{i:010d}",
            "email": f"user{i}@example.com",
            "created_at": f"2024-{1 + i % 12:02d}-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:{(i * 7) % 60:02d}Z",
            "status": STATUS[i % 3],
            "score": int(i % 1001),
            "tags": TAGS[i % 7:i % 7 + int(i % 4)],
            "address": {"city": f"city{i % 97}", "zip": f"{i % 100000:05d}"},
        }
        if failed[i]:
            key, field, make = DEFECTS[which[i]]
            r[field] = make(i)
            counts[key] = counts.get(key, 0) + 1
        for c in cols:
            cols[c].append(r[c])
    table = pa.table({
        "rec_id": pa.array(cols["rec_id"], pa.string()),
        "email": pa.array(cols["email"], pa.string()),
        "created_at": pa.array(cols["created_at"], pa.string()),
        "status": pa.array(cols["status"], pa.string()),
        "score": pa.array(cols["score"], pa.int32()),
        "tags": pa.array(cols["tags"], pa.list_(pa.string())),
        "address": pa.array(cols["address"], pa.struct([("city", pa.string()), ("zip", pa.string())])),
    })
    pq.write_table(table, out / "records.parquet", row_group_size=n)
    return {"rows": n, "rule_counts": counts, "failing_rows": int(failed.sum())}


def group_sizes(n_docs):
    """Near-duplicate group sizes: a fixed heavy-tailed (Pareto, alpha 1.2)
    ladder clipped to 2..32, taken at evenly spaced quantiles until ~30% of
    the docs are grouped. Every seed gets the same sizes, so the component
    loop's rounds do not vary with the seed."""
    target = int(n_docs * DD_GROUPED)
    for m in range(1, n_docs):
        q = (np.arange(m) + 0.5) / m
        sizes = np.clip((2 * (1 - q) ** (-1 / 1.2)).astype(np.int64), 2, 32)
        if sizes.sum() >= target:
            return sizes.tolist()
    raise ValueError("corpus too small for its groups")


def gen_dedup_chain(rng, out):
    """Token docs; ~30% sit in planted near-duplicate groups of heavy-tailed
    size (2-32), each built as an edit chain (member j = member j-1 with one
    token replaced), so a group's pair graph has diameter > 1."""
    docs, groups = [], []
    for size in group_sizes(DD_DOCS):
        doc = rng.integers(0, VOCAB, int(rng.integers(32, 97)), dtype=np.int32)
        members = []
        for _ in range(size):
            members.append(len(docs))
            docs.append(doc)
            doc = doc.copy()
            doc[rng.integers(0, len(doc))] = rng.integers(0, VOCAB)
        groups.append(members)
    rest = rng.integers(32, 97, DD_DOCS - len(docs))  # the unique docs
    if len(rest):
        docs += np.split(rng.integers(0, VOCAB, int(rest.sum()), dtype=np.int32), np.cumsum(rest)[:-1])
    order = rng.permutation(len(docs))  # spread group members over the files
    lens = np.array([len(docs[i]) for i in order])
    table = pa.table({
        "id": pa.array(order.astype(np.int64)),
        "tokens": _list_array(lens, np.concatenate([docs[i] for i in order])),
    })
    (out / "docs").mkdir()
    _write_split(table, out / "docs", DD_FILES)
    return {"rows": len(docs), "groups": groups}


GENERATORS = {
    "token_audit": (gen_token_audit, f"n{TA_ROWS}-f{TA_FILES}-l{TA_MAXLEN}"),
    "schema_validate": (gen_schema_validate, f"n{SV_ROWS}"),
    "dedup_chain": (gen_dedup_chain, f"n{DD_DOCS}-f{DD_FILES}"),
}
KEEP_INPUTS = 3  # cached inputs kept per workload


def input_dir(workload, seed):
    """Generated input for (workload, seed, size), cached under .bench_build."""
    gen, size = GENERATORS[workload]
    root = BUILD / "data"
    d = root / f"{workload}-{size}-s{seed}"
    if (d / "plan.json").exists():
        os.utime(d)
        return d
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    plan = gen(rng, d)
    (d / "plan.json").write_text(json.dumps(plan))
    cached = sorted((p for p in root.iterdir() if p.name.startswith(workload + "-")),
                    key=lambda p: p.stat().st_mtime)
    for old in cached[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return d


# ------------------------------------------------------------- the JVM

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}",
           # Spark's codegen cache holds 100 classes in four hash-picked
           # segments. A token_audit pass compiles ~90, so at the default a
           # warm pass recompiled 0 to 52 of them depending on the code's
           # hashes, which move with the checkout's path.
           "-Dspark.sql.codegen.cache.maxEntries=1000",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--launch-ns", str(time.time_ns())]
    budget = RUN_LIMIT_S - (time.monotonic() - T_START)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=max(20.0, budget))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("harness JVM exceeded the run time limit")
    if rc != 0:
        die(f"harness JVM exited with {rc}")


# ------------------------------------------------------------- metrics

def end_to_end(raw):
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "cold_s": (raw["cold_s"], "s"),
        "rows_per_s": (raw["rows"] / statistics.median(raw["warm_s"]), "rows/s"),
    }


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("engine sources (src/main/scala/graft) not found next to perfbench/", 2)

    cp = build()
    data = input_dir(a.workload, a.seed)
    work = BUILD / "runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = work / "result.json"
        run_jvm(cp, ["--workload", a.workload, "--data", str(data), "--work", str(work),
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(out),
                     "--spans", str(BUILD / "traces" / f"{a.workload}-s{a.seed}.json")], work)
        raw = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in raw["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(raw["layers"].items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(raw).items()}
    print(json.dumps({"correct": raw["failed"] == 0, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
